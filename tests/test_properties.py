"""Property-based tests (hypothesis) for the pure-Python operator cores —
the pieces whose correctness the oracle can't see: the keyed state-machine
transition and the deterministic sampling hash.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from data_ingestion_experiment_otp_spark.operators.sampling import _A, _MOD
from data_ingestion_experiment_otp_spark.streaming.state_machine import (
    STATES,
    TERMINAL,
    advance,
)

statuses = st.sampled_from(STATES)
garbage = st.text(min_size=1, max_size=10).filter(lambda s: s not in STATES)
sequences = st.lists(st.one_of(statuses, garbage), max_size=30)


def fold(seq, start=None):
    s = start
    for x in seq:
        s = advance(s, x)
    return s


class TestAdvanceProperties:
    @given(sequences)
    def test_result_always_a_known_state(self, seq):
        assert fold(seq) is None or fold(seq) in STATES

    @given(sequences)
    def test_replay_idempotent(self, seq):
        """Redelivering the full journal to the settled state changes
        nothing — the property that makes at-least-once delivery safe
        (reference semantics: a running subprocess is not respawned)."""
        final = fold(seq)
        assert fold(seq, start=final) == final

    @given(sequences, statuses)
    def test_terminal_states_absorb(self, seq, s):
        final = fold(seq)
        if final in TERMINAL:
            assert advance(final, s) == final

    @given(sequences, garbage)
    def test_unknown_statuses_ignored(self, seq, junk):
        final = fold(seq)
        if final is not None:
            assert advance(final, junk) == final

    @given(sequences)
    def test_progress_never_regresses(self, seq):
        """Along any prefix chain, the state index never decreases except
        into the absorbing error terminal."""
        order = {s: i for i, s in enumerate(STATES)}
        s = None
        for x in seq:
            nxt = advance(s, x)
            if s is not None and nxt != "error":
                assert order[nxt] >= order[s]
            s = nxt


class TestSamplingHashProperties:
    @given(st.integers(min_value=0, max_value=2**40))
    def test_bucket_in_range(self, key):
        assert 0 <= (key * _A) % _MOD < _MOD

    @given(st.sets(st.integers(min_value=0, max_value=2**40), max_size=200))
    def test_sample_of_superset_is_superset_of_sample(self, keys):
        """Inclusion depends only on the key, so growing the dataset never
        changes which existing rows are sampled — dataset-versioning
        stability under incremental ingestion."""
        rate = int(_MOD * 0.1)
        sample = {k for k in keys if (k * _A) % _MOD < rate}
        half = set(list(keys)[: len(keys) // 2])
        half_sample = {k for k in half if (k * _A) % _MOD < rate}
        assert half_sample == sample & half


class TestLehmerSampleOrderProperties:
    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(-(2**40), -1),
        st.lists(st.integers(-(2**40), 2**40), max_size=30),
    )
    def test_kernel_order_matches_spark_selection_for_negative_ids(self, spark, neg, ids):
        """The IVF-PQ trainer selects its sample in Spark by the Lehmer key
        and its numpy kernel re-sorts the rows by the same key: the two
        orders must agree, negative ids included (Spark's `%` keeps the
        dividend's sign, numpy's does not)."""
        import numpy as np

        from data_ingestion_experiment_otp_spark.operators.clustering import (
            _HASH_MOD,
            _HASH_MULT2,
        )
        from data_ingestion_experiment_otp_spark.operators.similarity import (
            _lehmer_key,
            _lehmer_order,
        )

        uniq = sorted({neg, *ids})
        df = spark.createDataFrame([(i,) for i in uniq], "vec_id long")
        selected = [r.vec_id for r in df.orderBy(_lehmer_key(), "vec_id").collect()]
        arr = np.array(uniq, dtype=np.int64)
        assert selected == arr[_lehmer_order(arr, _HASH_MOD, _HASH_MULT2)].tolist()


class TestPackingConservation:
    def test_packs_conserve_tokens_and_fill_windows(self, spark, sf_dir):
        """Sequence packing must conserve the chunk token stream exactly
        (nothing dropped or duplicated by the window arithmetic), and every
        pack except possibly each shard's last must reach the window
        capacity (concat-split packing leaves no internal fragmentation)."""
        from pyspark.sql import functions as F

        from data_ingestion_experiment_otp_spark.operators.text_analysis import (
            _CHUNK_SIZE,
            _PACK_CAP,
            llm_chunk_docs,
            llm_pack_sequences,
        )

        total_chunk_tokens = (
            llm_chunk_docs(spark, sf_dir).agg(F.sum("n_tokens")).collect()[0][0]
        )
        packs = llm_pack_sequences(spark, sf_dir).collect()
        assert sum(r.n_tokens for r in packs) == total_chunk_tokens
        last_per_shard = {}
        for r in packs:
            last_per_shard[r.shard] = max(last_per_shard.get(r.shard, -1), r.pack_id)
        for r in packs:
            if r.pack_id < last_per_shard[r.shard]:
                # whole chunks assign by start offset, so a non-final pack
                # fills to within one chunk of capacity on either side
                assert _PACK_CAP - _CHUNK_SIZE < r.n_tokens < _PACK_CAP + _CHUNK_SIZE, (
                    r.shard, r.pack_id, r.n_tokens
                )


def _py_morton8(v: int) -> int:
    # reference implementation of the 8-bit Morton spread in plain Python
    s = v & 255
    for shift, mask in ((4, 252645135), (2, 858993459), (1, 1431655765)):
        s = (s | (s << shift)) & mask
    return s


class TestZorderCodeProperties:
    @given(st.integers(0, 255), st.integers(0, 255))
    def test_bijective_on_the_grid(self, x, y):
        """Distinct (x, y) grid cells must get distinct codes: the even/odd
        bit split is exactly invertible."""
        code = _py_morton8(x) | (_py_morton8(y) << 1)
        # invert: gather even bits -> x, odd bits -> y
        def gather(c):
            out = 0
            for i in range(8):
                out |= ((c >> (2 * i)) & 1) << i
            return out
        assert gather(code) == x
        assert gather(code >> 1) == y

    @given(st.integers(0, 255), st.integers(0, 255))
    def test_matches_engine_sql_arithmetic(self, x, y):
        """The Python reference, the DuckDB oracle expression, and (by the
        parity suite) the Spark expression all agree."""
        import duckdb

        from data_ingestion_experiment_otp_spark.operators.layout import (
            _morton_duck,
        )

        expr = f"({_morton_duck(str(x))} | ({_morton_duck(str(y))} << 1))"
        got = duckdb.sql(f"SELECT {expr} AS c").fetchone()[0]
        assert got == (_py_morton8(x) | (_py_morton8(y) << 1))

    @given(
        st.integers(0, 63),
        st.integers(0, 63),
        st.integers(0, 63),
        st.integers(0, 63),
    )
    def test_locality_same_quadrant_sorts_together(self, x1, y1, x2, y2):
        """Coarse locality: points in the same top-2-bit quadrant are always
        code-closer than points in different quadrants' extremes — i.e. the
        top interleaved bits dominate the order, which is what makes a
        range partition on the code a spatial partition."""
        # same quadrant: top 2 bits of both dims equal
        a = _py_morton8(x1) | (_py_morton8(y1) << 1)
        b = _py_morton8(x2) | (_py_morton8(y2) << 1)
        # both points lie in quadrant (0,0) of the 8-bit grid (values <64);
        # any point with x >= 128 (different top bit) must code-sort after
        far = _py_morton8(128) | (_py_morton8(0) << 1)
        assert max(a, b) < far


class TestBloomProperties:
    @given(st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=50))
    def test_no_false_negatives_pure(self, keys):
        """Python-reference bloom (same xxhash64-free arithmetic shape): a
        key inserted is always found. The Spark-side no-FN property over
        real xxhash64 is asserted in tests/test_plans.py; this pins the
        word/bit packing arithmetic itself."""
        from data_ingestion_experiment_otp_spark.operators.relational import (
            _BLOOM_BITS,
            _BLOOM_K,
        )

        def probes(key):
            for i in range(_BLOOM_K):
                # stand-in mix; the packing below is what's under test
                pos = (key * 2654435761 + i * 40503) % _BLOOM_BITS
                yield pos >> 6, 1 << (pos & 63)

        words: dict[int, int] = {}
        for k in keys:
            for w, m in probes(k):
                words[w] = words.get(w, 0) | m
        for k in keys:
            assert all((words.get(w, 0) & m) != 0 for w, m in probes(k))


class TestRepetitionSignalProperties:
    """Property tests for the pure per-document signal kernel
    (operators/clustering.py::doc_signals) — the same function the Arrow
    stage runs, checked against closed-form values."""

    words = st.lists(
        st.text(alphabet="abcdefg", min_size=1, max_size=5), min_size=0, max_size=40
    )

    @given(words)
    def test_bounds_and_determinism(self, ws):
        from data_ingestion_experiment_otp_spark.operators.clustering import doc_signals

        text = " ".join(ws)
        got = doc_signals(text)
        assert got == doc_signals(text)
        n, dup, bgf, tgf = got
        assert n == len(ws)
        assert 0.0 <= dup < 1.0 or (n == 0 and dup == 0.0)
        assert 0.0 <= bgf <= 2.0 and 0.0 <= tgf <= 3.0

    @given(st.integers(min_value=3, max_value=200))
    def test_pure_repetition_closed_form(self, n):
        """'w w w ... w' (n copies): dup = 1 - 1/n, the single bigram
        occurs n-1 times -> bgf = 2(n-1)/n, trigram n-2 times ->
        tgf = 3(n-2)/n (both past the >=2 occurrence floor for n >= 3,
        except the trigram at exactly n=3)."""
        from decimal import ROUND_HALF_UP, Decimal

        from data_ingestion_experiment_otp_spark.operators.clustering import doc_signals

        r6 = lambda x: float(  # noqa: E731
            Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )
        n_out, dup, bgf, tgf = doc_signals(" ".join(["w"] * n))
        assert n_out == n
        assert dup == r6(1.0 - 1.0 / n)
        assert bgf == r6(2.0 * (n - 1) / n)
        assert tgf == (r6(3.0 * (n - 2) / n) if n - 2 >= 2 else 0.0)

    @given(words)
    def test_all_distinct_words_score_zero(self, ws):
        from data_ingestion_experiment_otp_spark.operators.clustering import doc_signals

        distinct = [f"{w}{i}" for i, w in enumerate(ws)]  # force uniqueness
        _, dup, bgf, tgf = doc_signals(" ".join(distinct))
        assert dup == 0.0 and bgf == 0.0 and tgf == 0.0

    @given(words, st.integers(min_value=2, max_value=5))
    def test_duplicating_the_document_raises_dup_fraction(self, ws, k):
        from data_ingestion_experiment_otp_spark.operators.clustering import doc_signals

        if not ws:
            return
        _, dup1, _, _ = doc_signals(" ".join(ws))
        _, dupk, _, _ = doc_signals(" ".join(ws * k))
        assert dupk >= dup1  # repetition can only raise the duplicate share
