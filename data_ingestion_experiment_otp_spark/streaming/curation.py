"""Streaming semantic curation: the ingestion-time form of
operators/plans pipeline_semantic_curation.

Each micro-batch of multimodal documents (text + embedding) passes the
same funnel the batch capstone runs — repetition gate, quality gate,
nearest-centroid cluster assignment — and the survivors land in a curated
corpus laid out by semantic cluster. Differences from the batch form are
exactly the ones a continuous pipeline forces:

- **Calibrate once, apply per batch.** The per-source quality percentile
  and the centroid set need global context a micro-batch doesn't have, so
  both arrive as parameters: per-source quality thresholds (the
  llm_quality_gate_approx output shape — a dict, broadcastable) and the
  trained centroid rows. Recalibration is a control-plane action (swap the
  sink), not a per-batch computation — the same contract as the batch
  approx gate's docstring.
- **Idempotent, batchId-keyed writes.** Survivors write under
  ``batch_id=N/cluster_id=K`` so an epoch replay overwrites its own
  directory byte-for-byte (same contract as sinks.idempotent_parquet_sink
  and corpus_index.corpus_dedup_sink). The cluster_id partitioning is the
  semantic layout: downstream mixture sampling reads whole clusters by
  partition pruning, never by scanning text.

At 100 TB nothing here accumulates state: the gates are scan-side per
batch, the assignment is a broadcast matmul, and the only per-epoch
artifact is the curated partition itself.

Reference parity: generalizes the reference's accept/reject-then-persist
hot path (`api/main.py:269-293` — watermark gate then cursor write) from
a scalar gate to content-quality gates with a semantic layout.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.clustering import _rep_keep, _signal_frame, _words, assign_to_centroids
from ..operators.text_analysis import quality_expr
from .corpus_index import admit
from .serving import local_frame


def curation_sink(
    curated_dir: str,
    centroids: list,
    quality_min: dict[str, float],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: gate each micro-batch on repetition and
    calibrated per-source quality, assign survivors to the nearest
    centroid, and write them cluster-partitioned under the epoch's own
    directory. `centroids` are rows with (vec_id, embedding); `quality_min`
    maps source -> minimum quality (unknown sources fall back to the
    global '*' entry, else 0.0 = accept)."""
    default_min = float(quality_min.get("*", 0.0))

    def curate(batch_df: DataFrame, batch_id: int) -> None:
        # Null-embedding docs are DROPPED at the gate (explicit policy:
        # a doc that cannot be cluster-assigned has no place in a
        # cluster-partitioned layout, and letting a null reach the
        # np.stack inside assign_to_centroids poisons the whole Arrow
        # batch and fails the epoch). Same filter the batch path
        # (similarity.load_vectors) and vector_index_sink apply; the drop
        # volume is auditable upstream via meta_profile_tables.
        batch_df = batch_df.filter(F.col("embedding").isNotNull())
        w = batch_df.select(
            "doc_id", "source", "n_chars", "text", "embedding", _words().alias("words")
        )
        t = w.select(
            "doc_id", "source", quality_expr().alias("quality"), "text", "embedding"
        )
        sig = _signal_frame(t, extra=("source", "quality", "text", "embedding"))
        entries = [x for kv in quality_min.items() if kv[0] != "*" for x in kv]
        # all-sources-default config: an EMPTY create_map() fails analysis
        # (map()[source] has no value type), so the floor collapses to the
        # global literal
        floor = (
            F.coalesce(
                F.create_map(*[F.lit(x) for x in entries])[F.col("source")],
                F.lit(default_min),
            )
            if entries
            else F.lit(default_min)
        )
        kept = sig.filter(_rep_keep()).filter(F.col("quality") >= floor)
        vec = kept.select(F.col("doc_id").alias("vec_id"), "embedding")
        assigned = assign_to_centroids(vec, centroids).select(
            F.col("vec_id").alias("doc_id"), "cluster_id"
        )
        out = kept.select("doc_id", "source", "quality", "text").join(
            assigned, "doc_id"
        )
        (
            out.write.mode("overwrite")
            .partitionBy("cluster_id")
            .parquet(os.path.join(curated_dir, f"batch_id={batch_id}"))
        )

    return curate


def classifier_gate_sink(
    weights,
    accepted_dir: str,
    audit_dir: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: ingestion-time MODEL quality gate (r11) —
    serve a TRAINED linear classifier at the stream, completing the
    train-in-engine / serve-at-ingest loop the r10 trainer opened
    (`llm_quality_classifier_train` fits the weights in batch; this sink
    applies them per epoch, the CCNet/RefinedWeb model tier's streaming
    form). `weights` is the trained weight vector (the trainer's (feat,
    weight) table flattened to _QCT_FEATS ints — 129 scalars, a
    calibrate-once control-plane input exactly like the curation sink's
    centroids and the semantic screen's model_dir; promotion of a newly
    trained model is a sink swap, the audited decision
    `llm_classifier_train_eval` exists to gate).

    Per epoch: every doc's margin = fx · w over the served classifier's
    exact feature space (`qct_features` — hashed unigram + bigram
    buckets + per-token bias, all int64), keep = margin > 0 (the trained
    gate's decision rule, `llm_classifier_train_eval`'s predicate
    verbatim). Docs OUTSIDE the classifier population (null text / no
    space-tokens) pass through unscored — no features means no model
    opinion, the same null-geometry-admits convention the near and
    semantic screens follow. Survivors land in a batchId-keyed accepted
    directory; rejects in a batchId-keyed audit (doc_id, margin — ids
    and scores only, no text).

    The gate is STATELESS — no index, no cross-epoch memory — so replay
    safety is free: epoch-scoped overwrites alone make a replayed epoch
    byte-identical, and RTBF is a per-epoch row filter on both outputs.

    Scale shape: the batch classifier's zero-Python serving topology
    with the TRAINED weights as the array literal (`qc_margin_expr` —
    one renderer serves the fixed and the trained model): token-hash
    fold and the margin sum are higher-order-function reductions inside
    whole-stage codegen, each fenced behind a one-element Generate so a
    downstream filter cannot re-inline the fold (llm_quality_classifier's
    measured 40x lesson); the rejects are written once and the
    survivors admitted through that written audit (`admit`) — no
    shuffle carries text, no Python in the hot path, no state grows."""
    from ..operators.text_analysis import _QC_HS, _QCT_FEATS, qc_margin_expr

    wlist = [int(x) for x in weights]
    if len(wlist) != _QCT_FEATS:
        raise ValueError(
            f"classifier gate expects {_QCT_FEATS} weights, got {len(wlist)}"
        )
    margin_expr = qc_margin_expr(wlist)

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        words = F.filter(F.split("text", " "), lambda w: w != "")
        hashed = (
            batch_df.select("doc_id", words.alias("ws"))
            .filter(F.size("ws") > 0)  # token-less/null docs: pass through
            .select("doc_id", F.explode(F.array(F.expr(_QC_HS))).alias("hs"))
        )
        rejects = hashed.select(
            "doc_id",
            F.explode(F.array(F.expr(margin_expr))).alias("margin"),
        ).filter(F.col("margin") <= 0)
        admit(batch_df, rejects, accepted_dir, audit_dir, batch_id)

    return gate


def _attach_close(gate: Callable, cache: dict) -> Callable:
    """Give the ppl gate an explicit release hook (ADVICE r12 #3: its
    persisted LM tables were never unpersisted when a query stopped, so
    sessions constructing many sinks accumulated executor-persisted
    blocks).
    `gate.close()` unpersists everything the closure cached and clears
    the cache; the next call simply re-persists, so close is safe at any
    point (including between replays). `start_corpus_ingest` wires the
    composed epoch's close to query termination via a
    StreamingQueryListener; direct sink users call it themselves."""

    def close() -> None:
        for v in list(cache.values()):
            frames = v.values() if isinstance(v, dict) else (v,)
            for df in frames:
                try:
                    df.unpersist()
                except Exception:
                    pass  # session already stopped: nothing left to free
        cache.clear()

    gate.close = close
    return gate


def domain_gate_sink(
    blocklist: list[str],
    accepted_dir: str,
    audit_dir: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: ingestion-time DOMAIN BLOCKLIST gate (r13,
    stage 0 — the published pipelines' FIRST screen: CCNet/RefinedWeb/
    Gopher all gate on URL domain before any content pass, because it is
    the cheapest possible reject — scalar string ops, no tokenization,
    no text shuffle). Docs whose normalized registrable domain sits on
    the blocklist are rejected: survivors land in a batchId-keyed
    accepted directory (what the dedup screen and every later stage then
    consume), rejects in a batchId-keyed audit carrying (doc_id, domain)
    — ids and domains only, no text, no url.

    `blocklist` is the calibrate-once control-plane input (normalized
    domains — the batch `llm_domain_blocklist_gate`'s relation; updating
    the list is a sink swap). A feed carrying a `url` column gates on
    it; the fixture feed (DOC_STREAM_SCHEMA has no url) gates on the
    planted doc_id-derived URL, the batch tier's derivation — one
    definition (`provenance.url_col`), so batch and stream screen the
    identical domain space. Docs with a NULL url are outside the gate's
    population and pass through unscored (no provenance means no
    blocklist opinion — the ladder's convention).

    The gate is STATELESS — replay-safe by epoch-scoped overwrites, RTBF
    = per-epoch row filters on both outputs.

    Scale shape: per-row normalize (scan-side string ops), ONE broadcast
    join against the blocklist relation (an Arrow LocalRelation built
    once per sink — production blocklists are 1e4+ rows and arrive as
    data), survivors admitted through the written audit (`admit`). The
    corpus side never shuffles; running FIRST means every later stage's
    cost is paid only on domain-admitted docs."""
    from ..operators.provenance import domain_col, url_col

    blocked = local_frame(
        SparkSession.active(), {"domain": sorted({str(d) for d in blocklist})}, "domain string"
    )

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        url = F.col("url") if "url" in batch_df.columns else url_col()
        dom = batch_df.select(
            "doc_id", domain_col(url).alias("domain")
        ).filter(F.col("domain").isNotNull())
        rejects = dom.join(F.broadcast(blocked), "domain").select("doc_id", "domain")
        admit(batch_df, rejects, accepted_dir, audit_dir, batch_id)

    return gate


def benchmark_shingles(bench_docs: DataFrame) -> list[int]:
    """Calibrate step for the decontamination gate: the DISTINCT hashed
    3-gram shingles of a benchmark suite (a `text` column), as a sorted
    list of int64s — the gate's calibrate-once control-plane input (the
    centroids / gate-weights contract).

    Collected to the driver BY CONTRACT: eval benchmarks are human-curated
    suites, orders of magnitude smaller than the corpus (the published
    decontamination setups hold every benchmark n-gram in one worker's
    memory); the gate re-ships the set as a broadcast relation per epoch.
    The shingle family is operators/dedup's `_SHINGLE_HASHES_SPARK` —
    shared verbatim with the batch `llm_decontaminate`, so the streaming
    gate and the batch audit screen on the identical gram space."""
    from ..operators.dedup import _SHINGLE_HASHES_SPARK

    words = F.filter(F.split("text", " "), lambda w: w != "")
    rows = (
        bench_docs.select(words.alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(F.explode(F.expr(_SHINGLE_HASHES_SPARK)).alias("w"))
        .distinct()
        .collect()
    )
    return sorted(int(r["w"]) for r in rows)


def decon_gate_sink(
    bench_hashes: list[int],
    accepted_dir: str,
    audit_dir: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: ingestion-time benchmark DECONTAMINATION
    gate — the batch `llm_decontaminate` (operators/dedup.py) served at
    the stream. A training doc sharing ANY 3-gram shingle with the
    benchmark suite is rejected: survivors land in a batchId-keyed
    accepted directory, rejects in a batchId-keyed audit carrying
    (doc_id, n_shared_ngrams) — ids and counts only, no text, the
    drop/keep decision input the batch form emits.

    `bench_hashes` is the calibrated benchmark shingle set
    (`benchmark_shingles`' output — a calibrate-once control-plane input
    exactly like the curation sink's centroids and the model gate's
    weights; swapping in a new benchmark release is a sink swap). Docs
    with fewer than 3 tokens (or null text) have no shingles and pass
    through unscored — no grams means no contamination evidence, the
    same outside-population convention the model gate follows.

    The gate is STATELESS — no index, no cross-epoch memory — so replay
    safety is free (epoch-scoped overwrites make a replayed epoch
    byte-identical) and RTBF is a per-epoch row filter on both outputs.

    Scale shape: one scan-side shingle explode over the batch, one
    BROADCAST join against the benchmark set (the corpus side never
    shuffles full rows — only the hit gram rows reach the per-doc
    count; the set is an Arrow LocalRelation built once per sink),
    survivors admitted through the written audit (`admit`). Ordering:
    the gate runs
    LAST in the stage ladder (after all dedup screens and the model
    gate), the published post-hoc shape — decontamination audits what
    will actually be trained on, so the gram explode pays only on docs
    every cheaper tier admitted."""
    from ..operators.dedup import _shingle_tok

    # The benchmark relation is built ONCE per sink, from Arrow (ADVICE
    # r11: re-building it per micro-batch re-serializes the whole suite
    # from the driver every epoch — for a realistic benchmark of 1e5+
    # shingles that is exactly the per-epoch cost the calibrate-once
    # contract exists to avoid).
    bench = local_frame(
        SparkSession.active(), {"w": sorted({int(h) for h in bench_hashes})}, "w long"
    )

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        rejects = (
            _shingle_tok(batch_df)
            .join(F.broadcast(bench), "w")
            .groupBy("doc_id")
            .agg(F.countDistinct("w").alias("n_shared_ngrams"))
        )
        admit(batch_df, rejects, accepted_dir, audit_dir, batch_id)

    return gate


def dsir_gate_sink(
    calib: dict,
    accepted_dir: str,
    audit_dir: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: ingestion-time DATA SELECTION gate (r12,
    stage 10 — the batch `llm_dsir_select_approx` served at the stream,
    completing batch->streaming parity for the selection tier, the last
    batch-only family). Each doc's DSIR importance logratio is scored
    against the CALIBRATED raw/target bucket models and kept when it
    clears the calibrated per-source threshold: survivors land in a
    batchId-keyed accepted directory, rejects in a batchId-keyed audit
    carrying (doc_id, logratio) — ids and scores only, no text.

    `calib` is `operators.sampling.dsir_calibration`'s output (bucket
    models + totals + per-source percentile thresholds — a
    calibrate-once control-plane input exactly like the curation sink's
    centroids, the model gate's weights, and the decon gate's shingles;
    retargeting the selection is a sink swap). Docs outside the scored
    population (null text / no space-tokens / NULL source — the batch
    twin's source-keyed threshold join has no row for them either) pass
    through unscored — the outside-population convention every gate in
    the ladder follows.
    Buckets unseen at calibration score with the same add-1 smoothing
    the batch arithmetic applies (coalesce to 0 counts); sources unseen
    fall back to the '*' global threshold.

    The gate is STATELESS — no index, no cross-epoch memory — so replay
    safety is free (epoch-scoped overwrites make a replayed epoch
    byte-identical) and RTBF is a per-epoch row filter on both outputs.

    Scale shape: one scan-side token-hash explode over the batch (the
    batch scorer's exact feature expression — `dsir_bucket_expr`, one
    definition), one broadcast join against the <= 2B-row model
    relation (an Arrow LocalRelation built once per sink), a per-doc
    aggregate over <= B scalar rows, survivors admitted through the
    written audit (`admit`). No text shuffles, no Python, no state grows.
    Ordering: stage 10 runs LAST — selection decides what enters the
    trained pool, so it audits exactly what every cheaper screen and
    gate already admitted (the published selection-over-cleaned-pool
    shape)."""
    from ..operators.sampling import _DSIR_BUCKETS, dsir_bucket_expr

    beta = float(_DSIR_BUCKETS)
    rtot, ttot = float(calib["rtot"]), float(calib["ttot"])
    buckets = sorted(set(calib["c_r"]) | set(calib["c_t"]))
    models = local_frame(
        SparkSession.active(),
        {
            "b": [int(b) for b in buckets],
            "c_r": [int(calib["c_r"].get(b, 0)) for b in buckets],
            "c_t": [int(calib["c_t"][b]) if b in calib["c_t"] else None for b in buckets],
        },
        "b long, c_r long, c_t long",
    )
    thr = {str(k): float(v) for k, v in calib["thr"].items()}
    thr_global = float(calib["thr_global"])
    bexpr = dsir_bucket_expr()

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        words = F.filter(F.split("text", " "), lambda w: w != "")
        dbc = (
            batch_df.select("doc_id", "source", words.alias("ws"))
            # token-less/null docs pass through; so do NULL-source docs —
            # the batch twin's threshold join is keyed by source, so a
            # NULL-source doc is outside its selected population too
            # (review r12: scoring them against thr_global here would
            # break the pinned gate==batch parity on such corpora)
            .filter(F.size("ws") > 0)
            .filter(F.col("source").isNotNull())
            .select("doc_id", "source", F.explode(F.expr(bexpr)).alias("b"))
            .groupBy("doc_id", "source", "b")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        # the batch scorer's arithmetic verbatim, with the calibrated
        # models joined in place of the corpus aggregates; coalesce(c_r)
        # extends the add-1 smoothing to buckets unseen at calibration
        p_ratio = (
            (F.coalesce(F.col("c_t"), F.lit(0)) + 1) / F.lit(ttot + beta)
        ) / ((F.coalesce(F.col("c_r"), F.lit(0)) + 1) / F.lit(rtot + beta))
        scored = (
            dbc.join(F.broadcast(models), "b", "left")
            .groupBy("doc_id", "source")
            .agg(
                F.round(
                    F.sum(F.col("cnt") * F.log(p_ratio)) / F.sum("cnt"), 6
                ).alias("logratio")
            )
        )
        entries = [x for kv in thr.items() for x in kv]
        floor = (
            F.coalesce(
                F.create_map(*[F.lit(x) for x in entries])[F.col("source")],
                F.lit(thr_global),
            )
            if entries
            else F.lit(thr_global)
        )
        rejects = scored.filter(F.col("logratio") < floor).select("doc_id", "logratio")
        admit(batch_df, rejects, accepted_dir, audit_dir, batch_id)

    return gate


def ppl_gate_sink(
    calib: dict,
    accepted_dir: str,
    audit_dir: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: ingestion-time TRAINED-LM quality gate
    (r12, stage 11 — CCNet's perplexity filter served at the stream,
    the THIRD trained artifact serving at ingest after the classifier
    weights (stage 8) and the SemDeDup hierarchy (stage 7)): each doc is
    scored against the COMMITTED n-gram model the calibration names —
    `model_kind` 'tri' (JM trigram, default) or 'kn4' (Kneser-Ney
    4-gram, r13) — via the batch scorer's serving join verbatim (one
    definition per kind: `score_with_stored_lm` / `score_with_stored_kn`)
    and rejected when its avg_bits lands in the calibrated TAIL (the
    slice CCNet discards): survivors in a batchId-keyed accepted
    directory, rejects in a batchId-keyed audit carrying
    (doc_id, avg_bits) — ids and scores only, no text.

    `calib` is `ppl_gate_calibration`'s output (the trigram store path +
    per-language 2/3-percentile cuts + the '*' global — calibrate-once
    control-plane inputs; re-training the LM or re-cutting is a sink
    swap). The stream feed has no `lang` column (DOC_STREAM_SCHEMA), so
    a feed without one scores against the GLOBAL cut; a feed that
    carries lang gets the per-language cuts. Outside-population docs
    pass through unscored: null text, no space-tokens, and — at the
    default floor — docs whose every token is OUT-OF-VOCABULARY for the
    trained model (the serving join's skip-OOV convention — no scored
    token means no model opinion; partial-OOV docs score over their
    in-vocab tokens, exactly the batch scorer's arithmetic).

    ADVICE r12 #1: that skip-OOV convention is a gate-evasion vector —
    garbage made of unseen tokens (the very content a CCNet-style
    perplexity filter targets) would pass unscored. A calibration
    carrying ``min_vocab_frac`` (0 < f <= 1) therefore arms an in-vocab
    FLOOR: docs with tokens whose in-vocab token fraction falls below f
    are REJECTED, with their fraction (and NULL avg_bits when fully
    OOV) in the audit. The floor costs one extra tokenize pass per
    batch, so it is armed by calibration, not hardwired; the audit
    schema carries ``in_vocab_frac`` in both modes (NULL when the floor
    is off — readers with the 2-column explicit schema are unaffected).

    The gate is STATELESS — replay-safe by epoch-scoped overwrites,
    RTBF = per-epoch row filters on both outputs.

    Scale shape: one scan-side positional explode over the batch, joins
    keyed by term scalars against the stored model tables (persisted
    ONCE per sink — the decon/DSIR r12 lesson; a pruned trigram model is
    vocabulary-bounded), per-doc aggregate, survivors admitted through
    the written audit (`admit`). Ordering: after the decontamination gate and before the
    selection gate — the published shape (quality-filter the cleaned
    pool, then select from it)."""
    from ..operators.kn_lm import load_kn_tables, score_with_stored_kn
    from ..operators.ngram_lm import load_lm_tables, score_with_stored_lm
    from ..operators.retrieval import tokenize as _rtokenize

    # Model-kind dispatch (r13): the gate serves WHICHEVER committed
    # n-gram artifact the calibration names — 'tri' (the r12 JM trigram)
    # or 'kn4' (the Kneser-Ney 4-gram) — through one reject predicate;
    # both scorers share the (doc_id, lang, dl, avg_bits) contract, so
    # swapping the model really is a calibration swap. Note the KN
    # scorer has no OOV bypass (the smoothed model scores every token),
    # so min_vocab_frac is structurally moot under kind='kn4' (frac is
    # always 1).
    _kinds = {
        "tri": (load_lm_tables, score_with_stored_lm),
        "kn4": (load_kn_tables, score_with_stored_kn),
    }
    kind = str(calib.get("model_kind", "tri"))
    if kind not in _kinds:
        raise ValueError(f"unknown model_kind {kind!r}; expected {sorted(_kinds)}")
    load_tables, score_batch = _kinds[kind]

    cuts = {str(k): float(v) for k, v in calib["cuts"].items()}
    cut_global = float(calib["cut_global"])
    model_dir = str(calib["model_dir"])
    min_vocab_frac = float(calib.get("min_vocab_frac", 0.0))
    if not 0.0 <= min_vocab_frac <= 1.0:
        raise ValueError(f"min_vocab_frac must be in [0, 1], got {min_vocab_frac}")
    cache: dict = {}

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        model = cache.get("model")
        if model is None:
            model = {
                k: df.persist()
                for k, df in load_tables(spark, model_dir).items()
            }
            cache["model"] = model
        scored_in = (
            batch_df
            if "lang" in batch_df.columns
            else batch_df.withColumn("lang", F.lit(None).cast("string"))
        )
        scored = score_batch(
            scored_in.select("doc_id", "lang", "text"), model
        )
        entries = [x for kv in cuts.items() for x in kv]
        cut = (
            F.coalesce(
                F.create_map(*[F.lit(x) for x in entries])[F.col("lang")],
                F.lit(cut_global),
            )
            if entries
            else F.lit(cut_global)
        )
        if min_vocab_frac > 0.0:
            # Armed floor: join the scored relation (in-vocab token mass
            # = dl) against each doc's TOTAL token count (same tokenizer
            # as the scorer — one extra scan-side pass, no text shuffles:
            # the join carries (doc_id, n_tok) scalars). Fully-OOV docs
            # have no scored row -> dl NULL -> frac 0 -> rejected.
            ntok = scored_in.select(
                "doc_id",
                F.coalesce(F.size(_rtokenize()), F.lit(0)).alias("n_tok"),
            ).filter(F.col("n_tok") > 0)
            st = ntok.join(scored, "doc_id", "left")
            frac = (
                F.coalesce(F.col("dl"), F.lit(0)).cast("double")
                / F.col("n_tok")
            )
            rejects = st.filter(
                (F.col("avg_bits") > cut) | (frac < F.lit(min_vocab_frac))
            ).select(
                "doc_id", "avg_bits", F.round(frac, 6).alias("in_vocab_frac")
            )
        else:
            rejects = scored.filter(F.col("avg_bits") > cut).select(
                "doc_id",
                "avg_bits",
                F.lit(None).cast("double").alias("in_vocab_frac"),
            )
        admit(batch_df, rejects, accepted_dir, audit_dir, batch_id)

    return _attach_close(gate, cache)


def read_curated(spark, curated_dir: str) -> DataFrame:
    """The curated corpus across all epochs (latest write per epoch wins by
    construction — replays overwrite their own batch_id directory)."""
    return spark.read.option("basePath", curated_dir).parquet(curated_dir)
