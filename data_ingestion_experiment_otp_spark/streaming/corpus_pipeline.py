"""The LLM-corpus counterpart of streaming/pipeline.py: one continuously-
ingested stream of multimodal documents (text + embedding) drives, per
epoch, the full training-data ingestion path —

  dedup screen → semantic-curation funnel → incremental vector index
                                          → incremental text index
  (+ optional stage 5: per-source drift audit on the raw batch, when a
  calibrated reference is supplied — streaming/drift_monitor.py)

1. `corpus_index.corpus_dedup_sink` admits only first-seen content
   (content-hash anti-join against the epoch-partitioned corpus index);
2. the admitted survivors pass the curation funnel
   (`curation.curation_sink`: repetition gate, calibrated per-source
   quality floors, nearest-centroid assignment, cluster-partitioned
   layout);
3. the ADMITTED documents' embeddings are hashed into the incremental
   sign-LSH vector index (`vector_index.vector_index_sink`), searchable
   next epoch with no rebuild — the index covers the whole deduped
   corpus, not just the curated mixture: similarity search wants every
   unique document, while curation only shapes what training reads;
4. the admitted documents' TEXT is tokenized once into the incremental
   inverted index (`text_index.text_index_sink`), so the same corpus is
   keyword-searchable (BM25) beside vector-searchable — the two serving
   indexes cover the identical deduped document set by construction.

The ordering is the data contract, not an accident: curation and both
indexes see only DEDUPED documents, so a re-crawled duplicate can
neither re-enter the curated mixture nor inflate ANN/BM25 candidate
sets. Stages 2-4 read the epoch's admitted output back from its
batchId-keyed directory rather than re-deriving it, so all five stores
stay byte-consistent under replay: every store writes only its own
``batch_id=N`` / ``src_batch=N`` partitions (dynamic overwrite), and a
replayed epoch rewrites the identical content in each.

At 100 TB each stage keeps its own documented scale shape (hash-only
anti-join; scan-side gates + broadcast matmul; id-only pruned postings +
int8 payload); the composition adds no new shuffle — the only cross-stage
artifact is the admitted parquet partition itself.

Reference parity: this is `SURVEY.md §3.1`'s accept-then-persist hot path
generalized from one scalar cursor to four content-addressed stores;
the checkpoint-after-sinks inversion is identical to
streaming/pipeline.py's.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from . import serving
from .corpus_index import corpus_dedup_sink, run_overlapped, span_screen_sink
from .curation import curation_sink
from .text_index import text_index_sink
from .vector_index import vector_index_sink

DOC_STREAM_SCHEMA = (
    "doc_id long, source string, n_chars long, text string, embedding array<float>"
)


def corpus_ingest_dirs(work_dir: str) -> dict[str, str]:
    """The stores the pipeline maintains under one root
    (dom_accepted/dom_audit the optional stage-0 domain blocklist
    gate's, written only when a domain_blocklist is passed; drift_audit
    the optional sixth — written only when a calibrated reference is
    passed to the epoch; gram_index/span_audit the optional seventh and
    eighth, written only with span_screen=True; shingle_index/
    near_accepted/near_audit the near-dup screen's stores, written only
    with near_dedup=True; sem_index/sem_accepted/sem_audit the semantic
    screen's, written only when a trained sem_model artifact is
    passed; gate_accepted/gate_audit the model quality gate's, written
    only when trained gate_weights are passed;
    decon_accepted/decon_audit the benchmark decontamination gate's,
    written only when calibrated decon_hashes are passed;
    ppl_accepted/ppl_audit the trained-LM quality gate's, written only
    when a ppl_calib calibration is passed; sel_accepted/sel_audit the
    DSIR selection gate's, written only when a select_calib calibration
    is passed)."""
    return {
        "dom_accepted": os.path.join(work_dir, "dom_accepted"),
        "dom_audit": os.path.join(work_dir, "dom_audit"),
        "dedup_index": os.path.join(work_dir, "dedup_index"),
        "accepted": os.path.join(work_dir, "accepted"),
        "curated": os.path.join(work_dir, "curated"),
        "vector_index": os.path.join(work_dir, "vector_index"),
        "text_index": os.path.join(work_dir, "text_index"),
        "drift_audit": os.path.join(work_dir, "drift_audit"),
        "gram_index": os.path.join(work_dir, "gram_index"),
        "span_audit": os.path.join(work_dir, "span_audit"),
        "shingle_index": os.path.join(work_dir, "shingle_index"),
        "near_accepted": os.path.join(work_dir, "near_accepted"),
        "near_audit": os.path.join(work_dir, "near_audit"),
        "sem_index": os.path.join(work_dir, "sem_index"),
        "sem_accepted": os.path.join(work_dir, "sem_accepted"),
        "sem_audit": os.path.join(work_dir, "sem_audit"),
        "gate_accepted": os.path.join(work_dir, "gate_accepted"),
        "gate_audit": os.path.join(work_dir, "gate_audit"),
        "decon_accepted": os.path.join(work_dir, "decon_accepted"),
        "decon_audit": os.path.join(work_dir, "decon_audit"),
        "ppl_accepted": os.path.join(work_dir, "ppl_accepted"),
        "ppl_audit": os.path.join(work_dir, "ppl_audit"),
        "sel_accepted": os.path.join(work_dir, "sel_accepted"),
        "sel_audit": os.path.join(work_dir, "sel_audit"),
    }


def check_written_schema(path: str, schema: StructType) -> None:
    """Raise if the parquet files a stage wrote under `path` do not carry
    exactly `schema`'s column names and types (nullability aside). The
    stage re-read that follows reads with `schema` explicitly, and such a
    read turns a column the files lack into nulls instead of failing, so
    a stage that renamed, dropped or retyped a column would pass nulls
    down the ladder. The schema Spark recorded in one file's footer is
    read with pyarrow: no Spark job. A partition with no data file (an
    epoch that admitted nothing) has nothing to check."""
    import json

    import pyarrow.parquet as pq

    files = serving.data_files(path) if os.path.isdir(path) else []
    if not files:
        return
    meta = pq.read_schema(files[0]).metadata or {}
    row = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
    if row is None:
        raise ValueError(f"{files[0]}: no Spark schema in the parquet footer")
    got = {f.name: f.dataType.simpleString() for f in StructType.fromJson(json.loads(row)).fields}
    want = {f.name: f.dataType.simpleString() for f in schema.fields}
    if got != want:
        raise ValueError(
            f"{path}: written columns {got} differ from the feed schema {want}"
        )


def corpus_ingest_epoch(
    work_dir: str,
    centroids: list,
    quality_min: dict[str, float],
    drift_reference: dict[int, float] | None = None,
    drift_budget_bits: float = 1.0,
    span_screen: bool = False,
    near_dedup: bool = False,
    sem_model: str | None = None,
    gate_weights: list | None = None,
    decon_hashes: list[int] | None = None,
    select_calib: dict | None = None,
    ppl_calib: dict | None = None,
    domain_blocklist: list[str] | None = None,
):
    """The per-epoch function: built separately from the stream so a
    replay (same stores, same params, same batch_id) can be driven
    directly in tests — which is also exactly what a checkpoint recovery
    does.

    With `drift_reference` (a calibrate_reference dict — the same
    calibrate-once contract as the curation parameters), each epoch also
    writes the per-source KL audit (stage 5): drift is scored on the RAW
    batch, before the dedup screen, because a feed suddenly re-sending
    old content is itself a drift signal the screened stream would
    hide.

    With `span_screen=True`, each epoch also runs the duplicated-
    substring screen (stage 6, `corpus_index.span_screen_sink`): the
    ADMITTED docs' positional grams are audited against the persistent
    gram-count index and admitted into it. It runs on the admitted set,
    not the raw batch — an exact redelivery is already screened out by
    stage 1, so the span audit measures partial/boilerplate duplication
    among genuinely new content (the thing worth rewriting), not
    redelivery noise.

    With `near_dedup=True`, the NEAR-duplicate screen
    (`corpus_index.neardup_screen_sink`, r8) runs between the exact
    screen and every downstream stage: exact-screen admits are vetted
    against the persistent shingle index, survivors land in
    ``near_accepted`` — the relation curation and the serving indexes
    then consume, so a near-dup never enters the stores — and rejects
    in the ``near_audit``. The two screens deliberately stack in that
    order: the exact hash catches byte-identical redelivery for
    pennies, the shingle screen pays its gram join only on genuinely
    new content — the two-tier shape the published web pipelines run.

    With `sem_model` (a committed trained-hierarchy artifact directory —
    clustering.sem_model_dir, the calibrate-once contract), the SEMANTIC
    screen (`corpus_index.semdedup_screen_sink`, r10 — stage 7,
    completing batch/streaming tier parity) runs after the near-dup
    screen and before every downstream stage: survivors land in
    ``sem_accepted`` (the relation curation/indexes/spans then consume),
    rejects in ``sem_audit``, and admitted vectors in the per-cluster
    ``sem_index`` sidecar. The three screens stack in published order —
    exact hash, then shingle, then embedding — each paying its cost only
    on content the cheaper tier passed.

    With `gate_weights` (a trained 129-int weight vector —
    `llm_quality_classifier_train`'s output, the calibrate-once
    contract), the MODEL quality gate (`curation.classifier_gate_sink`,
    r11 — stage 8, closing the train-in-engine / serve-at-ingest loop)
    runs after the dedup screens and before curation and the serving
    indexes: survivors land in ``gate_accepted`` (the relation every
    downstream stage then consumes), rejects in ``gate_audit``. The gate
    pays its scan only on content all three dedup tiers passed; the
    heuristic floors inside curation then run on the model's survivors —
    the two-tier (rules + model) quality shape the published pipelines
    run, with dedup in front of both.

    With `decon_hashes` (a calibrated benchmark shingle set —
    `curation.benchmark_shingles`' output, the calibrate-once contract),
    the benchmark DECONTAMINATION gate (`curation.decon_gate_sink`,
    r11b — stage 9, the batch `llm_decontaminate` served at ingest) runs
    LAST in the screen ladder, after every dedup tier and the model
    gate: survivors land in ``decon_accepted`` (the relation curation,
    the serving indexes, and the span screen then consume), rejects in
    ``decon_audit`` with their shared-gram counts. Last is the published
    post-hoc shape — decontamination audits what will actually be
    trained on, so the benchmark gram join pays only on docs every
    cheaper tier admitted, and a contaminated doc can never reach the
    curated mixture or either serving index.

    With `ppl_calib` (the committed trigram-model store path +
    per-language tail cuts — `operators.ngram_lm.ppl_gate_calibration`'s
    output, the calibrate-once contract), the TRAINED-LM quality gate
    (`curation.ppl_gate_sink`, r12 — stage 11, CCNet's perplexity filter
    at ingest, the third trained artifact serving at the stream) runs
    after the decontamination gate and before selection: survivors land
    in ``ppl_accepted``, tail-bucket rejects in ``ppl_audit`` with their
    avg_bits. Quality-filter the cleaned pool, then select from it — the
    published ordering.

    With `select_calib` (the DSIR bucket models + per-source thresholds —
    `operators.sampling.dsir_calibration`'s output, the calibrate-once
    contract), the data SELECTION gate (`curation.dsir_gate_sink`, r12 —
    stage 10, the batch `llm_dsir_select_approx` served at ingest,
    completing batch/streaming parity for the selection tier) runs LAST,
    after every screen and both gates: survivors land in
    ``sel_accepted`` (the relation curation, the serving indexes, and
    the span screen then consume), rejects in ``sel_audit`` with their
    importance logratios. Last is the published shape — selection
    decides what enters the trained pool, so it scores exactly the
    cleaned, decontaminated content every cheaper tier admitted."""
    from .corpus_index import neardup_screen_sink, semdedup_screen_sink
    from .curation import (
        classifier_gate_sink,
        decon_gate_sink,
        domain_gate_sink,
        dsir_gate_sink,
        ppl_gate_sink,
    )
    from .drift_monitor import source_drift_sink

    dirs = corpus_ingest_dirs(work_dir)
    dom = (
        domain_gate_sink(
            domain_blocklist, dirs["dom_accepted"], dirs["dom_audit"]
        )
        if domain_blocklist is not None
        else None
    )
    screen = corpus_dedup_sink(dirs["dedup_index"], dirs["accepted"])
    near = (
        neardup_screen_sink(
            dirs["shingle_index"], dirs["near_accepted"], dirs["near_audit"]
        )
        if near_dedup
        else None
    )
    sem = (
        semdedup_screen_sink(
            sem_model, dirs["sem_index"], dirs["sem_accepted"], dirs["sem_audit"]
        )
        if sem_model is not None
        else None
    )
    gate = (
        classifier_gate_sink(
            gate_weights, dirs["gate_accepted"], dirs["gate_audit"]
        )
        if gate_weights is not None
        else None
    )
    decon = (
        decon_gate_sink(
            decon_hashes, dirs["decon_accepted"], dirs["decon_audit"]
        )
        if decon_hashes is not None
        else None
    )
    ppl = (
        ppl_gate_sink(ppl_calib, dirs["ppl_accepted"], dirs["ppl_audit"])
        if ppl_calib is not None
        else None
    )
    select = (
        dsir_gate_sink(select_calib, dirs["sel_accepted"], dirs["sel_audit"])
        if select_calib is not None
        else None
    )
    curate = curation_sink(dirs["curated"], centroids, quality_min)
    index = vector_index_sink(dirs["vector_index"])
    tindex = text_index_sink(dirs["text_index"])
    drift = (
        source_drift_sink(dirs["drift_audit"], drift_reference, drift_budget_bits)
        if drift_reference is not None
        else None
    )
    spans = (
        span_screen_sink(dirs["gram_index"], dirs["span_audit"])
        if span_screen
        else None
    )

    def epoch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sc = spark.sparkContext
        # r14: every admitted-partition read-back carries the FEED's own
        # schema explicitly — the accepted stores write the batch rows
        # verbatim, so the schema is known, and a schema-less
        # spark.read.parquet pays one footer-inference job + a driver
        # listing per stage (measured 8 extra `parquet at <unknown>`
        # jobs per epoch). The bytes read are unchanged; replay
        # semantics (write is the barrier, re-read the same bytes) are
        # unchanged.
        feed_schema = batch_df.schema

        def _reread(key: str) -> DataFrame:
            path = os.path.join(dirs[key], f"batch_id={batch_id}")
            check_written_schema(path, feed_schema)
            return spark.read.schema(feed_schema).parquet(path)

        def _labeled(name, fn, *a):
            # per-stage job labels (guide §1.5): the epoch runs ~100
            # sub-jobs; without descriptions the UI/REST timeline cannot
            # be attributed to stages at all
            sc.setJobDescription(f"epoch {batch_id}: {name}")
            try:
                return fn(*a)
            finally:
                sc.setJobDescription(None)

        batch_df.persist()
        try:
            if drift is not None:
                # drift audits the RAW feed deliberately (pre-gate): a
                # feed tilting toward blocklisted domains is itself the
                # drift signal the screened stream would hide
                _labeled(
                    "drift", drift, batch_df.select("source", "text"), batch_id
                )
            gated = batch_df
            if dom is not None:
                _labeled("dom", dom, batch_df, batch_id)
                gated = _reread("dom_accepted")
            _labeled("screen", screen, gated, batch_id)
            # read the epoch's own admitted partition back: the write is
            # the dedup barrier, and replays re-read the same bytes
            admitted = _reread("accepted")
            if near is not None:
                _labeled("near", near, admitted, batch_id)
                admitted = _reread("near_accepted")
            if sem is not None:
                _labeled("sem", sem, admitted, batch_id)
                admitted = _reread("sem_accepted")
            if gate is not None:
                _labeled("gate", gate, admitted, batch_id)
                admitted = _reread("gate_accepted")
            if decon is not None:
                _labeled("decon", decon, admitted, batch_id)
                admitted = _reread("decon_accepted")
            if ppl is not None:
                _labeled("ppl", ppl, admitted, batch_id)
                admitted = _reread("ppl_accepted")
            if select is not None:
                _labeled("select", select, admitted, batch_id)
                admitted = _reread("sel_accepted")
            # r14 (guide §2.6 — overlap independent jobs): the four
            # final consumers all read the SAME final admitted relation
            # and write DISJOINT stores, so they are independent by
            # construction; a 2-wide pool lets the next consumer's tiny
            # jobs back-fill the current one's barrier tail. Each store's
            # rows are a deterministic function of the admitted
            # partition, so replay byte-identity is unaffected by the
            # submission order. Job descriptions are thread-local
            # (guide §2.6), so per-stage labels stay correct. A failed
            # stage starts no further stage (run_overlapped).
            tail_stages = [
                lambda: _labeled("curate", curate, admitted, batch_id),
                lambda: _labeled(
                    "vindex",
                    index,
                    admitted.select(F.col("doc_id").alias("vec_id"), "embedding"),
                    batch_id,
                ),
                lambda: _labeled(
                    "tindex", tindex, admitted.select("doc_id", "text"), batch_id
                ),
            ]
            if spans is not None:
                tail_stages.append(
                    lambda: _labeled(
                        "spans", spans, admitted.select("doc_id", "text"), batch_id
                    )
                )
            run_overlapped(tail_stages)
        finally:
            batch_df.unpersist()

    def close() -> None:
        if ppl is not None:
            ppl.close()

    # release hook for the ppl gate's persisted LM tables (ADVICE r12
    # #3); start_corpus_ingest fires it on query termination, direct
    # callers may fire it themselves
    epoch.close = close
    return epoch


def start_corpus_ingest(
    spark: SparkSession,
    docs_dir: str,
    work_dir: str,
    centroids: list,
    quality_min: dict[str, float],
    checkpoint_dir: str,
    drift_reference: dict[int, float] | None = None,
    drift_budget_bits: float = 1.0,
    span_screen: bool = False,
    near_dedup: bool = False,
    sem_model: str | None = None,
    gate_weights: list | None = None,
    decon_hashes: list[int] | None = None,
    select_calib: dict | None = None,
    ppl_calib: dict | None = None,
    domain_blocklist: list[str] | None = None,
) -> StreamingQuery:
    """Start the composed ingestion stream over a parquet document feed.
    `centroids` / `quality_min` / `drift_reference` / `sem_model` are the
    calibrate-once parameters the sinks document (control-plane inputs,
    not per-batch state); with a reference the per-source drift audit
    becomes the composition's 5th stage, with `span_screen=True` the
    duplicated-substring screen its 6th, with a trained `sem_model`
    artifact the semantic screen its 7th, with trained `gate_weights`
    the model quality gate its 8th, and with calibrated `decon_hashes`
    the benchmark decontamination gate its 9th, and with a
    `select_calib` calibration the DSIR selection gate its 10th and a
    `ppl_calib` calibration the trained-LM quality gate its 11th (the
    gate runs between decon and selection; the numbering follows the
    order the stages were added)."""
    epoch = corpus_ingest_epoch(
        work_dir,
        centroids,
        quality_min,
        drift_reference,
        drift_budget_bits,
        span_screen,
        near_dedup,
        sem_model,
        gate_weights,
        decon_hashes,
        select_calib,
        ppl_calib,
        domain_blocklist,
    )
    q = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
        .writeStream.foreachBatch(epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _close_on_termination(spark, q.id, epoch.close)
    return q


# One listener per SparkSession; per-query close hooks pop as they fire,
# so neither listeners nor hooks accumulate across many sink constructs
# (ADVICE r12 #3 — the persisted calibrate-once frames previously
# outlived their stream).
_CLOSE_LISTENERS: dict = {}


def _close_on_termination(spark: SparkSession, query_id, close) -> None:
    from pyspark.sql.streaming import StreamingQueryListener

    key = id(spark)
    ent = _CLOSE_LISTENERS.get(key)
    if ent is None:
        pending: dict = {}

        class _Closer(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                pass

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                fn = pending.pop(str(event.id), None)
                if fn is not None:
                    try:
                        fn()
                    except Exception:
                        pass  # session tearing down: nothing to free

        listener = _Closer()
        spark.streams.addListener(listener)
        ent = (listener, pending)
        _CLOSE_LISTENERS[key] = ent
    ent[1][str(query_id)] = close


def corpus_retract(
    spark: SparkSession,
    work_dir: str,
    doc_ids: list[int],
) -> dict[str, int]:
    """Right-to-be-forgotten retraction across EVERY store the
    composition maintains (the five core stores, plus the optional
    stage-6 span stores when present: the span audit loses the victims'
    rows including their kept_text, and the gram index's per-epoch
    counts are recomputed from the rewritten accepted partition — the
    counts the sink would have admitted had the victims never arrived —
    plus the stage-8 model-gate and stage-9 decontamination-gate stores
    when present) —
    the control-plane operation a training-data pipeline owes its data
    subjects, end to end. Every store is
    PHYSICALLY rewritten (affected partitions only, write-to-temp +
    directory swap — the committed-generation pattern):

    - ``accepted`` / ``curated``: the retracted docs' rows leave the
      affected ``batch_id`` partitions;
    - ``dedup_index``: the docs' content hashes leave the index — THE
      subtle half of retraction: leaving the hash behind would make the
      dedup screen silently block the same content from ever re-entering
      the corpus (a re-crawl after a consent re-grant must be admitted
      as new);
    - ``text_index`` / ``vector_index``: the docs' doclen/posting and
      payload/bucket rows leave every epoch partition that held them.

    Physical rewrite — NOT the tombstone delete sinks — is deliberate
    here: a tombstone competes on the ingest stream's epoch counter, and
    a control-plane operation cannot know the checkpoint's future batch
    ids (a restarted stream would either overwrite the tombstone's
    partition or be out-ranked by it, resurrecting or permanently
    killing the doc — found live in the streaming-lifecycle test). The
    tombstone sinks remain the right tool for STREAM-DRIVEN deletion
    feeds, which share the epoch counter by construction. Erasing
    history is also what RTBF actually demands — the bytes go now, not
    at the next compaction.

    `doc_ids` is bounded by contract (retraction requests are human-scale
    — the driver-side loop runs over the handful of affected epochs, not
    over data). Returns per-store removed-row counts for the audit log.

    Caveat, documented deliberately: the partition rewrites change what a
    REPLAY of the touched epochs would reproduce — retraction is a
    control-plane mutation and must not race an in-flight replay of those
    epochs (quiesce the stream, or re-apply retractions after recovery;
    the same discipline every compaction/generation swap here follows)."""
    import shutil

    dirs = corpus_ingest_dirs(work_dir)
    ids = [int(i) for i in doc_ids]

    accepted = spark.read.option("basePath", dirs["accepted"]).parquet(
        dirs["accepted"]
    )
    victims = (
        accepted.filter(F.col("doc_id").isin(ids))
        .select(
            "doc_id", F.sha2("text", 256).alias("content_hash"), "batch_id"
        )
        .collect()
    )
    # A null-text victim hashes to NULL: no index row is addressable by it
    # (NULL never equi-joins in the dedup screen, so null-hash index rows
    # are inert for screening) — drop it from the removal set rather than
    # letting a None poison sorted() below.
    hashes = {
        r["content_hash"] for r in victims if r["content_hash"] is not None
    }
    epochs = sorted({r["batch_id"] for r in victims})
    removed = {
        "dom_accepted": 0,
        "dom_audit": 0,
        "accepted": 0,
        "curated": 0,
        "dedup_index": 0,
        "gram_index": 0,
        "span_audit": 0,
        "near_accepted": 0,
        "near_audit": 0,
        "shingle_index": 0,
        "sem_accepted": 0,
        "sem_audit": 0,
        "sem_index": 0,
        "gate_accepted": 0,
        "gate_audit": 0,
        "decon_accepted": 0,
        "decon_audit": 0,
        "sel_accepted": 0,
        "sel_audit": 0,
        "ppl_accepted": 0,
        "ppl_audit": 0,
    }

    def swap_rewrite(part_dir: str, df, partition_by: list[str] | None) -> None:
        """Committed-generation swap of one partition directory. The temp
        and trash generations live as DOT-PREFIXED siblings (Spark's file
        index ignores ``_*``/``.*`` paths, so a crash can never leave a
        parseable ``batch_id=N.retract_tmp`` pseudo-partition double-
        serving rows or breaking partition-value inference), and the swap
        renames the OLD partition aside before promoting the new one —
        at every instant either the old or the new generation is the
        live directory, so no crash window drops the partition's
        non-retracted rows (the rmtree-then-rename it replaces had
        exactly that window)."""
        parent, base = os.path.split(part_dir.rstrip("/"))
        tmp = os.path.join(parent, f".{base}.retract_tmp")
        trash = os.path.join(parent, f".{base}.retract_old")
        for stale in (tmp, trash):  # leftovers from a crashed attempt
            if os.path.isdir(stale):
                shutil.rmtree(stale)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        os.rename(part_dir, trash)
        os.rename(tmp, part_dir)
        shutil.rmtree(trash)

    gdir = dirs["gram_index"]
    gram_compacted = os.path.isfile(os.path.join(gdir, "_COMPACTED"))
    # Folded-epoch provenance (ADVICE r8): the _COMPACTED marker records
    # WHICH epochs the fold consumed, so subtraction fires only for
    # victims from epochs that actually contributed grams — an epoch
    # ingested with span_screen=False never did, and subtracting its
    # victims' grams would under-count unrelated docs sharing them. A
    # legacy empty marker (pre-r9 folds) falls back to the old
    # partition-absence heuristic, documented as the weaker contract.
    folded_epochs: set[int] | None = None
    if gram_compacted:
        import json

        try:
            with open(os.path.join(gdir, "_COMPACTED")) as fh:
                folded_epochs = {int(e) for e in json.load(fh)}
        except (ValueError, OSError):
            # Legacy/unreadable marker (pre-r9 folds wrote an empty file):
            # per-epoch provenance is LOST, so the partition-absence
            # heuristic below can still misattribute a span_screen=False
            # epoch as folded and over-subtract shared grams (ADVICE r9).
            # Surface it loudly so operators re-fold (compact_span_index
            # regenerates the provenance) instead of silently carrying
            # the weaker contract forever.
            import warnings

            warnings.warn(
                f"gram index {gdir} has an unreadable/legacy _COMPACTED "
                "marker: folded-epoch provenance is unknown, so RTBF gram "
                "subtraction falls back to the partition-absence heuristic "
                "(epochs ingested with span_screen=False may be "
                "over-subtracted). Re-run compact_span_index to regenerate "
                "the provenance marker.",
                RuntimeWarning,
                stacklevel=2,
            )
            folded_epochs = None

    for b in epochs:
        part = os.path.join(dirs["accepted"], f"batch_id={b}")
        df = spark.read.parquet(part).persist()
        kept = df.filter(~F.col("doc_id").isin(ids))
        removed["accepted"] += df.count() - kept.count()
        # The relation the span screen actually indexed (ADVICE r8, high;
        # extended r10, r11b): the stage ladder hands span_screen_sink the
        # LAST screen's accepted relation — decon_accepted when the
        # decontamination gate ran, else gate_accepted, else sem_accepted,
        # else near_accepted, else accepted — and a victim
        # rejected by any earlier screen contributed no grams, so both
        # the subtraction and the recount below must derive from that
        # same relation.
        npart = os.path.join(dirs["near_accepted"], f"batch_id={b}")
        sempart = os.path.join(dirs["sem_accepted"], f"batch_id={b}")
        gatepart = os.path.join(dirs["gate_accepted"], f"batch_id={b}")
        deconpart = os.path.join(dirs["decon_accepted"], f"batch_id={b}")
        pplpart = os.path.join(dirs["ppl_accepted"], f"batch_id={b}")
        selpart = os.path.join(dirs["sel_accepted"], f"batch_id={b}")
        span_part = next(
            (
                p
                for p in (selpart, pplpart, deconpart, gatepart, sempart, npart)
                if os.path.isdir(p)
            ),
            part,
        )
        # Compacted gram index: per-epoch provenance is folded, so RTBF
        # switches from recount to SUBTRACTING the victims' gram counts —
        # computed from the OLD span-source rows and materialized BEFORE
        # the swaps below rewrite the files the persisted frame hangs off.
        gv = None
        adm_recount = False
        gpart = os.path.join(gdir, f"src_batch={b}")
        epoch_folded = (
            (b in folded_epochs)
            if folded_epochs is not None
            else (b == 0 or not os.path.isdir(gpart))
        )
        if gram_compacted and epoch_folded:
            # Probe FIRST whether the folded generation carries this
            # epoch's adm rows (the normal case for every r12-era fold):
            # the adm path retracts by per-epoch RECOUNT from the
            # rewritten span source and never reads gv, so computing the
            # victims' gram counts here would be a wasted full
            # scan+explode per retracted epoch (review r12). gv is the
            # LEGACY (NULL-adm) fallback's input only.
            gen0 = os.path.join(gdir, "src_batch=0")
            adm_recount = (
                os.path.isdir(gen0)
                and spark.read.schema("g long, n long, adm long")
                .parquet(gen0)
                .filter(F.col("adm") == b)
                .limit(1)
                .count()
                > 0
            )
        if gram_compacted and epoch_folded and not adm_recount:
            from ..operators.dedup import _WORD_SPANS, _span_gram_counts

            span_src = (
                spark.read.schema("doc_id long, text string").parquet(span_part)
                if span_part != part
                else df
            )
            gv = _span_gram_counts(
                span_src.filter(F.col("doc_id").isin(ids)).select("doc_id", "text"),
                _WORD_SPANS,
                "vn",
            ).persist()
            gv.count()
        swap_rewrite(part, kept, None)
        df.unpersist()

        cpart = os.path.join(dirs["curated"], f"batch_id={b}")
        if os.path.isdir(cpart):
            cdf = (
                spark.read.option("basePath", cpart).parquet(cpart).persist()
            )
            ckept = cdf.filter(~F.col("doc_id").isin(ids))
            removed["curated"] += cdf.count() - ckept.count()
            swap_rewrite(cpart, ckept, ["cluster_id"])
            cdf.unpersist()

        # Optional stage-6 stores (span_screen=True runs): the span audit
        # holds the victims' kept_text and the gram index their content-
        # derived counts — both are personal data and must go too. The
        # audit partition filters like the others; the gram counts are an
        # AGGREGATE, so the epoch's partition is recomputed from the
        # just-rewritten accepted partition (exactly the counts the sink
        # would have admitted had the victims never arrived).
        spart = os.path.join(dirs["span_audit"], f"batch_id={b}")
        if os.path.isdir(spart):
            sdf = spark.read.parquet(spart).persist()
            skept = sdf.filter(~F.col("doc_id").isin(ids))
            removed["span_audit"] += sdf.count() - skept.count()
            swap_rewrite(spart, skept, None)
            sdf.unpersist()

        # Optional near-dup stores (near_dedup=True runs): the victims'
        # rows leave near_accepted (text) and the shingle index (their
        # content-derived gram rows) — removing the shingles makes the
        # victims' content NEAR-unknown again, the same re-admission
        # contract the exact screen's hash removal guarantees. The audit
        # drops rows where the victim is EITHER side: a row's jaccard is
        # a function of both docs' content, so a dup_of reference to the
        # victim is as content-derived as the victim's own row.
        npart = os.path.join(dirs["near_accepted"], f"batch_id={b}")
        if os.path.isdir(npart):
            ndf = spark.read.parquet(npart).persist()
            nkept = ndf.filter(~F.col("doc_id").isin(ids))
            removed["near_accepted"] += ndf.count() - nkept.count()
            swap_rewrite(npart, nkept, None)
            ndf.unpersist()
        # (near_audit and sem_audit are scrubbed in the cross-epoch sweep
        # below: a dup_of reference to a victim can live in ANY epoch's
        # audit, not just the victims' admit epochs — r10, found live.)
        # Semantic-screen stores (r10, sem_model runs): the victims' rows
        # leave sem_accepted (text + embedding), the audit (EITHER side —
        # a cosine is a function of both docs' geometry, so a dup_of
        # reference is as content-derived as the victim's own row), and
        # the per-cluster sidecar (their embedding + assignment) — making
        # their content semantically unknown again, the same re-admission
        # contract every other screen's index removal guarantees.
        if os.path.isdir(sempart):
            smdf = spark.read.parquet(sempart).persist()
            smkept = smdf.filter(~F.col("doc_id").isin(ids))
            removed["sem_accepted"] += smdf.count() - smkept.count()
            swap_rewrite(sempart, smkept, None)
            smdf.unpersist()
        # Model-gate stores (r11, gate_weights runs): the victims' rows
        # leave gate_accepted (text + embedding) and the audit (doc_id +
        # margin — the margin is a function of the victim's own content
        # alone, so unlike the dup audits no other doc's row references
        # it). The gate keeps no index: nothing to make unknown again.
        if os.path.isdir(gatepart):
            gdf_ = spark.read.parquet(gatepart).persist()
            gkept_ = gdf_.filter(~F.col("doc_id").isin(ids))
            removed["gate_accepted"] += gdf_.count() - gkept_.count()
            swap_rewrite(gatepart, gkept_, None)
            gdf_.unpersist()
        gapart = os.path.join(dirs["gate_audit"], f"batch_id={b}")
        if os.path.isdir(gapart):
            gadf = spark.read.schema("doc_id long, margin long").parquet(
                gapart
            ).persist()
            gakept = gadf.filter(~F.col("doc_id").isin(ids))
            removed["gate_audit"] += gadf.count() - gakept.count()
            swap_rewrite(gapart, gakept, None)
            gadf.unpersist()
        # Decontamination-gate stores (r11b, decon_hashes runs): the
        # victims' rows leave decon_accepted (text + embedding) and the
        # audit (doc_id + shared-gram count — a function of the victim's
        # own content and the public benchmark alone, so like the model
        # gate's margin no other doc's row references it). Stateless
        # gate: no index to make unknown again.
        if os.path.isdir(deconpart):
            dcdf = spark.read.parquet(deconpart).persist()
            dckept = dcdf.filter(~F.col("doc_id").isin(ids))
            removed["decon_accepted"] += dcdf.count() - dckept.count()
            swap_rewrite(deconpart, dckept, None)
            dcdf.unpersist()
        dapart = os.path.join(dirs["decon_audit"], f"batch_id={b}")
        if os.path.isdir(dapart):
            dadf = spark.read.schema(
                "doc_id long, n_shared_ngrams long"
            ).parquet(dapart).persist()
            dakept = dadf.filter(~F.col("doc_id").isin(ids))
            removed["decon_audit"] += dadf.count() - dakept.count()
            swap_rewrite(dapart, dakept, None)
            dadf.unpersist()
        # Trained-LM quality-gate stores (r12, ppl_calib runs): the
        # victims' rows leave ppl_accepted (text + embedding) and the
        # audit (doc_id + avg_bits — a function of the victim's own
        # content and the trained model alone). Stateless gate: no index
        # to make unknown again.
        if os.path.isdir(pplpart):
            ppdf = spark.read.parquet(pplpart).persist()
            ppkept = ppdf.filter(~F.col("doc_id").isin(ids))
            removed["ppl_accepted"] += ppdf.count() - ppkept.count()
            swap_rewrite(pplpart, ppkept, None)
            ppdf.unpersist()
        papart = os.path.join(dirs["ppl_audit"], f"batch_id={b}")
        if os.path.isdir(papart):
            # in_vocab_frac (r13) must ride through the rewrite — an
            # explicit schema omitting it would silently prune the
            # OOV-floor audit column from rewritten partitions (the r5
            # schema-evolution lesson); pre-r13 partitions lack the
            # column and read/rewrite as NULL, the documented evolution
            padf = spark.read.schema(
                "doc_id long, avg_bits double, in_vocab_frac double"
            ).parquet(papart).persist()
            pakept = padf.filter(~F.col("doc_id").isin(ids))
            removed["ppl_audit"] += padf.count() - pakept.count()
            swap_rewrite(papart, pakept, None)
            padf.unpersist()
        # Selection-gate stores (r12, select_calib runs): the victims'
        # rows leave sel_accepted (text + embedding) and the audit
        # (doc_id + logratio — a function of the victim's own content
        # and the calibrated models alone, so like the model gate's
        # margin no other doc's row references it). Stateless gate: no
        # index to make unknown again.
        if os.path.isdir(selpart):
            sldf = spark.read.parquet(selpart).persist()
            slkept = sldf.filter(~F.col("doc_id").isin(ids))
            removed["sel_accepted"] += sldf.count() - slkept.count()
            swap_rewrite(selpart, slkept, None)
            sldf.unpersist()
        sapart = os.path.join(dirs["sel_audit"], f"batch_id={b}")
        if os.path.isdir(sapart):
            sadf = spark.read.schema(
                "doc_id long, logratio double"
            ).parquet(sapart).persist()
            sakept = sadf.filter(~F.col("doc_id").isin(ids))
            removed["sel_audit"] += sadf.count() - sakept.count()
            swap_rewrite(sapart, sakept, None)
            sadf.unpersist()
        sipart = os.path.join(dirs["sem_index"], f"src_batch={b}")
        if os.path.isdir(sipart):
            # adm must ride through the rewrite: an explicit schema that
            # omitted it would silently prune the admit-order column from
            # the rewritten files (the r5 schema-evolution lesson)
            sidf = spark.read.schema(
                "cluster_id long, vec_id long, sim double,"
                " embedding array<float>, adm long"
            ).parquet(sipart).persist()
            sikept = sidf.filter(~F.col("vec_id").isin(ids))
            removed["sem_index"] += sidf.count() - sikept.count()
            swap_rewrite(sipart, sikept, None)
            sidf.unpersist()

        # Both near-dup index sub-stores (bands + gram-set sidecar, r9):
        # rows are per-doc facts in each, so RTBF is the same per-doc
        # filter on both.
        for sub, schema in (
            # adm rides through the rewrites (r11): omitting it from the
            # explicit schema would prune the admit-epoch column
            ("bands", "doc_id long, band int, v long, adm long"),
            ("grams", "doc_id long, hs array<int>, n_g int, adm long"),
        ):
            shpart = os.path.join(
                dirs["shingle_index"], sub, f"src_batch={b}"
            )
            if os.path.isdir(shpart):
                shdf = spark.read.schema(schema).parquet(shpart).persist()
                shkept = shdf.filter(~F.col("doc_id").isin(ids))
                removed["shingle_index"] += shdf.count() - shkept.count()
                swap_rewrite(shpart, shkept, None)
                shdf.unpersist()

        if adm_recount or gv is not None:
            # Folded generation. Two provenance tiers (r12): rows whose
            # `adm` column names this epoch are EXACTLY its contribution
            # — replace them with a recount from the rewritten span
            # source (per-epoch-exact, no shared-gram arithmetic).
            # Legacy NULL-adm rows (pre-adm folds) have lost per-epoch
            # provenance — fall back to subtracting the victims' gram
            # counts (gv) from the legacy rows only (the pre-r12
            # contract); grams driven to zero leave the index entirely.
            # adm rides through both rewrites (the r5 schema-evolution
            # lesson).
            gen = os.path.join(gdir, "src_batch=0")
            gen_df = spark.read.schema("g long, n long, adm long").parquet(gen)
            old_n = gen_df.agg(F.coalesce(F.sum("n"), F.lit(0))).collect()[0][0]
            if adm_recount:
                from ..operators.dedup import _WORD_SPANS, _span_gram_counts

                recount = _span_gram_counts(
                    spark.read.schema("doc_id long, text string").parquet(span_part),
                    _WORD_SPANS,
                    "n",
                ).select("g", "n", F.lit(b).alias("adm"))
                gnew = gen_df.filter(
                    F.col("adm").isNull() | (F.col("adm") != b)
                ).unionByName(recount)
            else:
                legacy = gen_df.filter(F.col("adm").isNull())
                rest = gen_df.filter(F.col("adm").isNotNull())
                legacy_new = (
                    legacy.join(gv, "g", "left")
                    .select(
                        "g",
                        (
                            F.col("n") - F.coalesce(F.col("vn"), F.lit(0))
                        ).alias("n"),
                        "adm",
                    )
                    .filter(F.col("n") > 0)
                )
                gnew = rest.unionByName(legacy_new)
            swap_rewrite(gen, gnew, None)
            new_n = (
                spark.read.schema("g long, n long")
                .parquet(gen)
                .agg(F.coalesce(F.sum("n"), F.lit(0)))
                .collect()[0][0]
            )
            removed["gram_index"] += int(old_n - new_n)
            if gv is not None:
                gv.unpersist()
        elif os.path.isdir(gpart):
            from ..operators.dedup import _WORD_SPANS, _span_gram_counts

            old_n = (
                spark.read.schema("g long, n long")
                .parquet(gpart)
                .agg(F.coalesce(F.sum("n"), F.lit(0)))
                .collect()[0][0]
            )
            # Explicit schema on the re-read: a full-epoch retraction can
            # leave the just-swapped accepted partition with zero data
            # files, where schema inference fails and wedges retraction —
            # the GRAM_INDEX_SCHEMA / test_zero_row_epoch convention.
            # Parquet column pruning makes the 2-column schema free.
            # Recount from the REWRITTEN span source: the last screen's
            # accepted relation (decon > gate > sem > near > accepted
            # — the relation span_screen_sink actually consumed). adm
            # rides through the rewrite (r12 provenance column).
            gnew = _span_gram_counts(
                spark.read.schema("doc_id long, text string").parquet(span_part),
                _WORD_SPANS,
                "n",
            ).select("g", "n", F.lit(b).alias("adm"))
            swap_rewrite(gpart, gnew, None)
            new_n = (
                spark.read.schema("g long, n long")
                .parquet(gpart)
                .agg(F.coalesce(F.sum("n"), F.lit(0)))
                .collect()[0][0]
            )
            removed["gram_index"] += int(old_n - new_n)

        ipart = os.path.join(dirs["dedup_index"], f"src_batch={b}")
        # all-null-text victims leave no addressable index row; a folded
        # index (compact_dedup_index) may hold no per-epoch partition —
        # the post-loop folded-generation pass below covers it
        if hashes and os.path.isdir(ipart):
            # adm must ride through the rewrite: an explicit schema that
            # omitted it would silently prune the admit-epoch column from
            # the rewritten files (the r5 schema-evolution lesson, same
            # note as the sem sidecar)
            idf = (
                spark.read.schema("content_hash string, adm long")
                .parquet(ipart)
                .persist()
            )
            # Null-safe keep: ``~isin`` evaluates NULL (i.e. drop) for a
            # null-hash row, which would silently purge unrelated
            # null-text entries from the rewritten partition.
            ikept = idf.filter(
                F.col("content_hash").isNull()
                | ~F.col("content_hash").isin(sorted(hashes))
            )
            removed["dedup_index"] += idf.count() - ikept.count()
            swap_rewrite(ipart, ikept, None)
            idf.unpersist()


    # Compacted dedup-index generation (compact_dedup_index, r11): hash
    # rows are content-addressed, so victims from folded epochs leave via
    # the same per-hash filter against src_batch=0 (skipped when epoch 0
    # itself was in the loop — it already filtered the folded partition).
    ddir = dirs["dedup_index"]
    if (
        hashes
        and os.path.isfile(os.path.join(ddir, "_COMPACTED"))
        and 0 not in epochs
    ):
        dgen = os.path.join(ddir, "src_batch=0")
        if os.path.isdir(dgen):
            ddf = (
                spark.read.schema("content_hash string, adm long")
                .parquet(dgen)
                .persist()
            )
            dkept = ddf.filter(
                F.col("content_hash").isNull()
                | ~F.col("content_hash").isin(sorted(hashes))
            )
            removed["dedup_index"] += ddf.count() - dkept.count()
            swap_rewrite(dgen, dkept, None)
            ddf.unpersist()

    # Compacted shingle generation (compact_shingle_index): rows kept
    # their doc_id through the fold, so victims from folded epochs leave
    # via the same per-doc filter, just against src_batch=0. (When epoch
    # 0 itself was among the victims' epochs the loop above already
    # filtered the folded partition and this second pass would remove
    # nothing, so it is skipped.)
    shdir = dirs["shingle_index"]
    if os.path.isfile(os.path.join(shdir, "_COMPACTED")) and 0 not in epochs:
        for sub, schema in (
            ("bands", "doc_id long, band int, v long, adm long"),
            ("grams", "doc_id long, hs array<int>, n_g int, adm long"),
        ):
            shgen = os.path.join(shdir, sub, "src_batch=0")
            if not os.path.isdir(shgen):
                continue
            shdf = spark.read.schema(schema).parquet(shgen).persist()
            shkept = shdf.filter(~F.col("doc_id").isin(ids))
            removed["shingle_index"] += shdf.count() - shkept.count()
            swap_rewrite(shgen, shkept, None)
            shdf.unpersist()

    # Audit stores (near + semantic): a row's jaccard/cosine is a
    # function of BOTH docs' content, so rows referencing a victim on
    # EITHER side leave — and they can live in ANY epoch's audit, not
    # just the victims' admit epochs (a later epoch's reject names an
    # earlier admit as dup_of — r10, found live wiring the semantic
    # capstone). Affected epochs are DISCOVERED from the store root (the
    # explicit schema names batch_id, a real partition column under
    # basePath), then each hit partition is rewritten; discovery
    # guarantees the partitions are non-empty, so the schema'd
    # per-partition reads cannot hit UNABLE_TO_INFER_SCHEMA.
    for store, measure in (("near_audit", "jaccard"), ("sem_audit", "cosine")):
        root = dirs[store]
        if not os.path.isdir(root):
            continue
        aschema = f"doc_id long, dup_of long, {measure} double, phase string"
        adf = (
            spark.read.schema(aschema + ", batch_id long")
            .option("basePath", root)
            .parquet(root)
        )
        hit_epochs = sorted(
            r["batch_id"]
            for r in adf.filter(
                F.col("doc_id").isin(ids) | F.col("dup_of").isin(ids)
            )
            .select("batch_id")
            .distinct()
            .collect()
        )
        for b in hit_epochs:
            apart = os.path.join(root, f"batch_id={b}")
            pdf = spark.read.schema(aschema).parquet(apart).persist()
            akept = pdf.filter(
                ~F.col("doc_id").isin(ids) & ~F.col("dup_of").isin(ids)
            )
            removed[store] += pdf.count() - akept.count()
            swap_rewrite(apart, akept, None)
            pdf.unpersist()

    # Stage-0 domain-gate stores (r13, domain_blocklist runs): victims
    # can live here in epochs the main loop never visits — a doc the
    # gate itself rejected, or one the dedup screen later dropped, has
    # NO accepted row, so its epochs are DISCOVERED from the dom stores
    # (the audit-store pattern above). dom_accepted carries the feed's
    # full rows, so its per-partition rewrite reads schema-less
    # (discovery guarantees the partition is non-empty); the audit is
    # (doc_id, domain) — a function of the victim's own provenance
    # alone. Stateless gate: no index to make unknown again.
    if os.path.isdir(dirs["dom_audit"]):
        dom_hits: set[int] = set()
        daud = (
            spark.read.schema("doc_id long, domain string, batch_id long")
            .option("basePath", dirs["dom_audit"])
            .parquet(dirs["dom_audit"])
        )
        dom_hits |= {
            r["batch_id"]
            for r in daud.filter(F.col("doc_id").isin(ids))
            .select("batch_id")
            .distinct()
            .collect()
        }
        dacc = (
            spark.read.schema("doc_id long, batch_id long")
            .option("basePath", dirs["dom_accepted"])
            .parquet(dirs["dom_accepted"])
        )
        acc_hits = {
            r["batch_id"]
            for r in dacc.filter(F.col("doc_id").isin(ids))
            .select("batch_id")
            .distinct()
            .collect()
        }
        for b in sorted(dom_hits | acc_hits):
            if b in acc_hits:
                dpart = os.path.join(dirs["dom_accepted"], f"batch_id={b}")
                ddf_ = spark.read.parquet(dpart).persist()
                dkept_ = ddf_.filter(~F.col("doc_id").isin(ids))
                removed["dom_accepted"] += ddf_.count() - dkept_.count()
                swap_rewrite(dpart, dkept_, None)
                ddf_.unpersist()
            if b in dom_hits:
                apart_ = os.path.join(dirs["dom_audit"], f"batch_id={b}")
                adf_ = (
                    spark.read.schema("doc_id long, domain string")
                    .parquet(apart_)
                    .persist()
                )
                akept_ = adf_.filter(~F.col("doc_id").isin(ids))
                removed["dom_audit"] += adf_.count() - akept_.count()
                swap_rewrite(apart_, akept_, None)
                adf_.unpersist()

    # Compacted semantic sidecar generation (compact_sem_index): rows
    # kept their vec_id through the fold, so victims from folded epochs
    # leave via the same per-doc filter against src_batch=0 (skipped when
    # epoch 0 itself was already filtered above — the shingle pattern).
    semdir = dirs["sem_index"]
    if os.path.isfile(os.path.join(semdir, "_COMPACTED")) and 0 not in epochs:
        semgen = os.path.join(semdir, "src_batch=0")
        if os.path.isdir(semgen):
            sgdf = spark.read.schema(
                "cluster_id long, vec_id long, sim double,"
                " embedding array<float>, adm long"
            ).parquet(semgen).persist()
            sgkept = sgdf.filter(~F.col("vec_id").isin(ids))
            removed["sem_index"] += sgdf.count() - sgkept.count()
            swap_rewrite(semgen, sgkept, None)
            sgdf.unpersist()

    # Serving indexes: physically remove the docs' rows from every epoch
    # partition that held them. Epoch DISCOVERY reads the store root with
    # its explicit schema (src_batch is a partition column there); the
    # per-partition rewrites read each src_batch=N dir schema-less with
    # basePath=that dir — an explicit schema naming src_batch would
    # materialize a null column into the rewritten files.
    from .text_index import _DOCLEN_SCHEMA
    from .vector_index import _VECTORS_SCHEMA

    removed["text_index"] = 0
    removed["vector_index"] = 0
    tdir = dirs["text_index"]
    if os.path.isdir(os.path.join(tdir, "doclen")):
        dl = spark.read.schema(_DOCLEN_SCHEMA).option(
            "basePath", os.path.join(tdir, "doclen")
        ).parquet(os.path.join(tdir, "doclen"))
        t_epochs = sorted(
            r["src_batch"]
            for r in dl.filter(F.col("doc_id").isin(ids))
            .select("src_batch")
            .distinct()
            .collect()
        )
        for b in t_epochs:
            for store, part_cols in (("doclen", None), ("postings", ["pkey"])):
                part = os.path.join(tdir, store, f"src_batch={b}")
                if not os.path.isdir(part):
                    continue
                pdf = (
                    spark.read.option("basePath", part).parquet(part).persist()
                )
                kept = pdf.filter(~F.col("doc_id").isin(ids))
                removed["text_index"] += pdf.count() - kept.count()
                swap_rewrite(part, kept, part_cols)
                pdf.unpersist()

    vdir = dirs["vector_index"]
    if os.path.isdir(os.path.join(vdir, "vectors")):
        vs = spark.read.schema(_VECTORS_SCHEMA).option(
            "basePath", os.path.join(vdir, "vectors")
        ).parquet(os.path.join(vdir, "vectors"))
        v_epochs = sorted(
            r["src_batch"]
            for r in vs.filter(F.col("vec_id").isin(ids))
            .select("src_batch")
            .distinct()
            .collect()
        )
        for b in v_epochs:
            for store, part_cols in (("vectors", None), ("buckets", ["pkey"])):
                part = os.path.join(vdir, store, f"src_batch={b}")
                if not os.path.isdir(part):
                    continue
                pdf = (
                    spark.read.option("basePath", part).parquet(part).persist()
                )
                kept = pdf.filter(~F.col("vec_id").isin(ids))
                removed["vector_index"] += pdf.count() - kept.count()
                swap_rewrite(part, kept, part_cols)
                pdf.unpersist()
    return removed
