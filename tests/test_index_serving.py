"""Driver-served index reads (streaming/serving.py): the driver path of
every persisted-index query answers exactly what its Spark plan answers,
reads only the pkey leaves its query prunes to, runs no Spark job, and
scores with the kernels the UDFs ship.

Parity is driver path (the default for slices this small) against Spark
path (forced by the `spark_path` fixture) over seeded stores that
exercise every liveness rule: re-ingested docs and vectors, tombstones
from the delete sinks, null-text docs, an epoch that admitted nothing,
compacted generations, empty and absent stores, repeated query terms."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_ingestion_experiment_otp_spark.streaming import serving

from data_ingestion_experiment_otp_spark.streaming.text_index import (
    bm25_query_index,
    compact_text_index,
    phrase_query_index,
    proximity_query_index,
    text_index_delete_sink,
    text_index_sink,
)
from data_ingestion_experiment_otp_spark.streaming.vector_index import (
    ann_query_index,
    compact_vector_index,
    vector_index_delete_sink,
    vector_index_sink,
)

DOC_SCHEMA = "doc_id long, text string"
VEC_SCHEMA = "vec_id long, embedding array<float>"
VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]

BM25 = [(0, "alpha"), (0, "beta"), (1, "gamma"), (1, "gamma"), (2, "nothere"), (3, "zeta")]
PHRASES = [
    (0, "alpha", 0), (0, "beta", 1),
    (1, "gamma", 0), (1, "gamma", 1),
    (2, "eta", 0), (2, "theta", 1), (2, "alpha", 2),
]
PAIRS = [(0, "alpha", "beta"), (1, "gamma", "gamma"), (1, "eta", "theta"), (2, "zeta", "nothere")]


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """Seeded text and vector stores, each with a compacted generation,
    plus an empty store of each kind and an absent one."""
    root = tmp_path_factory.mktemp("serving")
    rng = np.random.default_rng(8)

    def text(n):
        return " ".join(rng.choice(VOCAB, n))

    docs = [(i, text(int(rng.integers(1, 14)))) for i in range(60)] + [(200, None)]
    t = str(root / "t")
    sink = text_index_sink(t)
    sink(spark.createDataFrame(docs[:30], DOC_SCHEMA), 0)
    sink(spark.createDataFrame(docs[30:], DOC_SCHEMA), 1)
    sink(spark.createDataFrame([], DOC_SCHEMA), 2)  # an epoch that admitted nothing
    # re-ingests: changed text, and a doc that turns null-text
    sink(spark.createDataFrame([(3, "alpha alpha beta zeta"), (8, None)], DOC_SCHEMA), 3)
    text_index_delete_sink(t)(spark.createDataFrame([(5,), (31,)], "doc_id long"), 4)
    compact_text_index(spark, t, str(root / "t_gen2"))
    text_index_sink(str(root / "t_empty"))(spark.createDataFrame([], DOC_SCHEMA), 0)

    mat = rng.standard_normal((90, 64))
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(mat)]
    v = str(root / "v")
    vsink = vector_index_sink(v)
    vsink(spark.createDataFrame(rows[:45], VEC_SCHEMA), 0)
    vsink(spark.createDataFrame(rows[45:] + [(300, None)], VEC_SCHEMA), 1)
    # vec 7 re-ingested pointing the other way; 11 and 50 tombstoned
    vsink(spark.createDataFrame([(7, [float(x) for x in -mat[7]])], VEC_SCHEMA), 2)
    vector_index_delete_sink(v)(spark.createDataFrame([(11,), (50,)], "vec_id long"), 3)
    compact_vector_index(spark, v, str(root / "v_gen2"))
    vector_index_sink(str(root / "v_empty"))(spark.createDataFrame([], VEC_SCHEMA), 0)

    queries = pd.DataFrame(
        {
            "query_id": [0, 1, 2, 3],
            "embedding": [list(mat[0]), list(mat[11]), list(-mat[7]), list(mat[60] + 0.05)],
        }
    )
    return {
        "text": {"live": t, "gen2": str(root / "t_gen2"), "empty": str(root / "t_empty"),
                 "absent": str(root / "t_absent")},
        "vector": {"live": v, "gen2": str(root / "v_gen2"), "empty": str(root / "v_empty"),
                   "absent": str(root / "v_absent")},
        "source": spark.createDataFrame(rows, VEC_SCHEMA),
        "queries": queries,
    }


def _ann_queries(spark, stores):
    return spark.createDataFrame(stores["queries"], "query_id int, embedding array<float>")


def _reads(spark, stores, store):
    t, v = stores["text"][store], stores["vector"][store]
    return {
        "bm25": lambda: bm25_query_index(spark, t, BM25, k=4),
        "phrase": lambda: phrase_query_index(spark, t, PHRASES),
        "proximity": lambda: proximity_query_index(spark, t, PAIRS, window=3),
        "ann": lambda: ann_query_index(spark, v, _ann_queries(spark, stores), k=4),
        "ann_source": lambda: ann_query_index(
            spark, v, _ann_queries(spark, stores), k=3, source=stores["source"]
        ),
    }


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestDriverSparkParity:
    @pytest.mark.parametrize("store", ["live", "gen2", "empty", "absent"])
    @pytest.mark.parametrize("kind", ["bm25", "phrase", "proximity", "ann", "ann_source"])
    def test_driver_path_equals_spark_path(
        self, spark, stores, store, kind, spark_path
    ):
        read = _reads(spark, stores, store)[kind]
        driver = read()
        if kind != "ann_source":
            # the driver path reads no file through Spark
            assert "FileScan" not in _executed(driver)
        with spark_path():
            on_spark = read()
            if store in ("live", "gen2"):
                assert "FileScan parquet" in _executed(on_spark)
            want = sorted(map(tuple, on_spark.collect()))
        got = sorted(map(tuple, driver.collect()))
        assert driver.schema.simpleString() == on_spark.schema.simpleString()
        assert got == want
        if store in ("live", "gen2"):
            assert got, "non-vacuous: the seeded stores answer every read"

    def test_liveness_is_exercised(self, spark, stores):
        """The parity above covers the liveness rules only if they move
        answers: tombstoned docs/vectors never answer, a re-ingested doc
        answers with its new text, and a doc that turned null-text stops
        matching."""
        t, v = stores["text"]["live"], stores["vector"]["live"]
        bm25 = bm25_query_index(spark, t, [(0, "alpha"), (1, "zeta")], k=100).collect()
        docs = {r.doc_id for r in bm25}
        assert not docs & {5, 31, 8, 200}
        assert 3 in docs  # re-ingested with "alpha alpha beta zeta"
        ann = ann_query_index(spark, v, _ann_queries(spark, stores), k=50).collect()
        assert not {r.vec_id for r in ann} & {11, 50, 300}
        flipped = [r for r in ann if r.query_id == 2 and r.vec_id == 7]
        assert flipped and flipped[0].cosine > 0.9  # scored on the fresh payload


def _pkeys_read(read) -> set[int]:
    """The pkey leaves a read hands to `serving.read_leaves`."""
    seen = []
    real = serving.read_leaves

    def spy(slice_, schema, where=None):
        seen.extend(slice_)
        return real(slice_, schema, where)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(serving, "read_leaves", spy)
        read().collect()
    assert seen, "the read ran on the driver path"
    return {lf.parts["pkey"] for lf in seen if "pkey" in lf.parts}


def _pkeys_on_disk(store: str) -> set[int]:
    return {
        int(d.split("=", 1)[1])
        for b in os.listdir(store)
        if b.startswith("src_batch=")
        for d in os.listdir(os.path.join(store, b))
        if d.startswith("pkey=")
    }


class TestDriverPathPruning:
    """The driver path reads only the pkey leaves the query's own term
    hashes or LSH buckets land in, as the Spark path's static
    PartitionFilter does (plan-pinned in test_text_index.py and
    test_streaming.py): a read that listed every leaf would answer the
    same, only slower, so the parity tests cannot see it. The expected
    pkeys are computed by the Spark expressions the writers partition
    by."""

    def test_text_reads_list_only_the_query_pkeys(self, spark, stores):
        t = stores["text"]["live"]
        terms = ["alpha", "zeta"]
        want = {
            r[0]
            for r in spark.createDataFrame([(w,) for w in terms], "term string")
            .select(F.pmod(F.xxhash64("term"), F.lit(16)))
            .collect()
        }
        disk = _pkeys_on_disk(os.path.join(t, "postings"))
        assert want < disk
        reads = [
            lambda: bm25_query_index(spark, t, [(0, terms[0]), (1, terms[1])]),
            lambda: phrase_query_index(spark, t, [(0, terms[0], 0), (0, terms[1], 1)]),
            lambda: proximity_query_index(spark, t, [(0, terms[0], terms[1])]),
        ]
        for read in reads:
            assert _pkeys_read(read) == want

    def test_ann_lists_only_the_query_pkeys(self, spark, stores):
        from data_ingestion_experiment_otp_spark.operators.similarity import (
            _LSH_BITS,
            _LSH_TABLES,
            bucket_udf,
        )
        from data_ingestion_experiment_otp_spark.streaming.vector_index import _pkey

        v = stores["vector"]["live"]
        queries = _ann_queries(spark, stores).limit(1)
        tb = queries.select(
            F.posexplode(
                bucket_udf(_LSH_TABLES, _LSH_BITS)(F.col("embedding").cast("array<double>"))
            ).alias("tbl", "bucket")
        )
        want = {r[0] for r in tb.select(_pkey(F.col("tbl"), F.col("bucket"), _LSH_BITS)).collect()}
        assert want < _pkeys_on_disk(os.path.join(v, "buckets"))
        got = _pkeys_read(lambda: ann_query_index(spark, v, queries))
        assert got == want


def _jobs(spark, fn) -> int:
    """Spark jobs run by `fn`, by job id from the status store (populated
    with the UI disabled; it keeps only the latest jobs, so ids, not list
    sizes, count them)."""
    sc = spark.sparkContext._jsc.sc()
    store, bus = sc.statusStore(), sc.listenerBus()

    def last_job_id():
        bus.waitUntilEmpty()
        jobs = store.jobsList(None)
        return max(jobs.head().jobId(), jobs.last().jobId()) if jobs.size() else -1

    before = last_job_id()
    fn()
    return last_job_id() - before


class TestJobBudget:
    def test_text_reads_run_no_job(self, spark, stores):
        t = stores["text"]["live"]
        assert _jobs(spark, lambda: bm25_query_index(spark, t, BM25).collect()) == 0
        assert _jobs(spark, lambda: phrase_query_index(spark, t, PHRASES).collect()) == 0
        assert _jobs(spark, lambda: proximity_query_index(spark, t, PAIRS).collect()) == 0

    def test_ann_runs_at_most_the_query_frame_job(self, spark, stores):
        v = stores["vector"]["live"]
        local = _ann_queries(spark, stores)  # Arrow-built: a LocalRelation
        assert _jobs(spark, lambda: ann_query_index(spark, v, local).collect()) == 0
        rows = [
            (int(q), [float(x) for x in e])
            for q, e in stores["queries"].itertuples(index=False)
        ]
        listed = spark.createDataFrame(rows, "query_id int, embedding array<float>")
        assert _jobs(spark, lambda: ann_query_index(spark, v, listed).collect()) <= 1


class TestKernelTwins:
    """The driver path's numpy kernels against the UDFs that ship them,
    on seeded random inputs."""

    def test_sign_buckets_matches_bucket_udf(self, spark):
        from data_ingestion_experiment_otp_spark.operators.similarity import (
            _LSH_BITS,
            _LSH_TABLES,
            _plane_matrix,
            bucket_udf,
            sign_buckets,
        )

        mat = np.random.default_rng(23).standard_normal((40, 64))
        frame = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(mat)], "i int, v array<double>"
        )
        udf = bucket_udf(_LSH_TABLES, _LSH_BITS)
        want = [list(r.b) for r in frame.select("i", udf("v").alias("b")).orderBy("i").collect()]
        planes = _plane_matrix(_LSH_TABLES * _LSH_BITS, 64)
        assert sign_buckets(mat, planes, _LSH_BITS).tolist() == want

    def test_dequant_cosine_matches_udf(self, spark):
        from data_ingestion_experiment_otp_spark.streaming.vector_index import (
            _dequant_cosine_udf,
            dequant_cosine,
        )

        rng = np.random.default_rng(24)
        rows = []
        for i in range(30):
            a = rng.standard_normal(64)
            s = float(np.abs(a).max())
            q8 = np.floor(a * 127.0 / s + 0.5).astype(np.int8).tobytes()
            rows.append((i, [float(x) for x in rng.standard_normal(64)], q8, s))
        rows += [(30, [1.0] * 64, None, None), (31, [0.0] * 64, rows[0][2], rows[0][3])]
        frame = spark.createDataFrame(rows, "i int, q array<double>, q8 binary, scale double")
        cos8 = _dequant_cosine_udf()
        scored = frame.select("i", cos8("q", "q8", "scale").alias("c")).orderBy("i")
        want = [r.c for r in scored.collect()]
        assert [dequant_cosine(q, b, s) for _, q, b, s in rows] == want
        assert want[30] is None and want[31] is None


class TestPandasUdfForm:
    """Pandas UDFs are declared by type hints. The PandasUDFType form
    warns (UserWarning, SPARK-28264) at every declaration, and the
    vector sink declares its quantizer once per epoch."""

    def test_vector_sink_and_geo_mean_raise_no_warning(self, spark, sf_dir, tmp_path):
        import warnings

        from data_ingestion_experiment_otp_spark.operators.aggregates import udaf_geo_mean
        from data_ingestion_experiment_otp_spark.streaming.vector_index import (
            _dequant_cosine_udf,
        )

        mat = np.random.default_rng(25).standard_normal((6, 64))
        frame = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(mat)], VEC_SCHEMA
        )
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            vector_index_sink(str(tmp_path / "v"))(frame, 0)
            _dequant_cosine_udf()
            assert udaf_geo_mean(spark, sf_dir).count() > 0
        assert os.path.isdir(str(tmp_path / "v"))
