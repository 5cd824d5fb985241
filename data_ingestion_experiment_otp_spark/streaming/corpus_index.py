"""Streaming incremental corpus dedup: the ingestion-time form of
operators/dedup.py::llm_incremental_dedup.

Each micro-batch of incoming documents is screened against a persistent
CORPUS INDEX (a parquet table of content hashes, partitioned by the epoch
that admitted them) and only first-seen content is accepted. The index is
the streaming analog of the reference's processed-set bookkeeping (the
cursor file, `api/main.py:258-290`) generalized from a scalar high-water
mark to a content-addressed set.

Replay safety (the part naive implementations get wrong): on epoch replay
the index already contains the epoch's own hashes, so screening against
the whole index would reject the entire replayed batch. Both the screen
and the index write are therefore batchId-scoped:

- the screen reads only index partitions with ``src_batch < batch_id``
  (partition pruning makes this a metadata filter, not a scan+filter);
- the index write goes to the epoch's own ``src_batch=N`` partition with
  dynamic partition overwrite, so a replay overwrites its previous
  (possibly partial) index contribution instead of appending to it;
- accepted documents land in a batchId-keyed directory exactly like
  sinks.idempotent_parquet_sink.

Net: at-least-once delivery + this sink = effectively-exactly-once
acceptance, same contract as the other sinks in this package.

At 100 TB the index table is big but narrow (32-byte hash + epoch); the
anti-join shuffles only hashes, and bucketing the index by hash would
co-locate the probe. The near-dup (shingle) screen composes the same way
— see llm_incremental_dedup for the batch form of that screen.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F, types as T

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("content_hash", T.StringType()),
        # adm = ADMIT epoch as a DATA column (r11, the sem sidecar's r10
        # pattern): src_batch is a partition column that compaction
        # rewrites to 0, but the replay guard needs the true admit epoch
        # to survive a fold. Pre-r11 stores lack the column — an explicit
        # -schema read yields NULL there, and the guard coalesces to the
        # partition value (identical semantics for unfolded legacy rows).
        T.StructField("adm", T.LongType()),
        T.StructField("src_batch", T.LongType()),
    ]
)


def run_overlapped(thunks: list[Callable[[], object]], width: int = 2) -> None:
    """Run independent store writes at most `width` at a time, in order.

    Each thunk is wrapped by `inheritable_thread_target` on the caller's
    thread, so it starts with the caller's job group and description. One
    wrapper per thunk, not one shared by all: a wrapper installs ONE copy
    of the properties, so two threads sharing it would share the label a
    stage sets, and one stage clearing it would unlabel the other's jobs.

    A thunk is submitted only when a slot frees, so nothing waits queued
    inside the executor: on the first failure no further write starts, the
    writes already running finish, and the failure re-raises."""
    from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

    from pyspark import inheritable_thread_target

    queued = iter([inheritable_thread_target(t) for t in thunks])
    with ThreadPoolExecutor(max_workers=width) as pool:
        running = {pool.submit(t) for t in itertools.islice(queued, width)}
        while running:
            done, running = wait(running, return_when=FIRST_COMPLETED)
            for f in done:
                f.result()
            running |= {pool.submit(t) for t in itertools.islice(queued, len(done))}


def corpus_dedup_sink(
    index_dir: str, accepted_dir: str, text_col: str = "text"
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: accept only documents whose content hash is
    not already in the corpus index, then admit their hashes. Within a
    batch, first occurrence wins (dropDuplicates on the hash).

    Replay guard (r11): ``coalesce(adm, src_batch) < batch_id`` — the
    admit epoch rides as a data column the fold carries through, so a
    replayed epoch reproduces byte-identical output against a COMPACTED
    index too (compact_dedup_index); ``src_batch < batch_id`` stays as
    the partition-pruning predicate, and legacy pre-adm rows fall back
    to the partition value through the coalesce."""

    def screen(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession

        hashed = batch_df.withColumn("content_hash", F.sha2(text_col, 256)).dropDuplicates(
            ["content_hash"]
        )
        if os.path.isdir(index_dir) and any(
            e.startswith("src_batch=") for e in os.listdir(index_dir)
        ):
            seen = (
                spark.read.schema(INDEX_SCHEMA)
                .option("basePath", index_dir)
                .parquet(index_dir)
                .filter(
                    (F.col("src_batch") < batch_id)  # partition pruning
                    & (F.coalesce(F.col("adm"), F.col("src_batch")) < batch_id)
                )
                .select("content_hash")
            )
            fresh = hashed.join(seen, "content_hash", "left_anti")
        else:
            fresh = hashed

        fresh.drop("content_hash").write.mode("overwrite").parquet(
            os.path.join(accepted_dir, f"batch_id={batch_id}")
        )
        # dynamic overwrite scoped to THIS writer: replaying epoch k must
        # rewrite only its own src_batch=k partition, but leaking the mode
        # into the shared session conf would flip every later partitioned
        # overwrite from truncate to accumulate
        (
            fresh.select(
                "content_hash",
                F.lit(batch_id).alias("adm"),
                F.lit(batch_id).alias("src_batch"),
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("src_batch")
            .parquet(index_dir)
        )

    return screen


def compact_dedup_index(spark, index_dir: str, out_dir: str) -> None:
    """Fold the exact-dedup content-hash index's epoch-accumulated
    partitions into a single ``src_batch=0`` generation — the LAST
    per-epoch-forever store to gain compaction (r11; text/vector r8,
    span r8, shingle r9, sem r10): a long-running ingest otherwise pays
    epochs × files per screen probe on its oldest, hottest index.

    Rows are per-hash facts, so the fold is a file collapse clustered by
    content_hash (the probe's anti-join key prunes row groups). The true
    admit epoch is MATERIALIZED into ``adm`` during the fold (legacy
    pre-adm rows take their partition value), so the sink's
    ``coalesce(adm, src_batch) < batch_id`` replay guard keeps epoch
    replay byte-identical against the folded generation — the exact
    screen composes replay with compaction the way the sem sidecar does,
    not the shingle index's pre-fold-only caveat. The ``_COMPACTED``
    marker is content-free by design: RTBF hash removal is
    content-addressed (a per-hash filter on the folded generation),
    never epoch-scoped, so no provenance is needed. Same quiesce
    discipline as every generation swap (the replayed epoch's own
    partition write lands beside the fold's copy of the same rows).

    Checkpoint-reset hazard, named explicitly (review r11): a stream
    restarted with a FRESH checkpoint renumbers from batch 0, and epoch
    0's dynamic partition overwrite would TRUNCATE the folded
    ``src_batch=0`` generation — silently re-admitting all previously
    seen content. This is an instance of the module-wide rule (every
    batchId-keyed store here is corrupted by re-running epoch numbers
    over an existing work dir — accepted/curated/audit partitions get
    overwritten the same way), but the folded generation makes the blast
    radius total, so: a checkpoint reset REQUIRES a fresh work dir, and
    a fold must never be swapped into a pipeline whose checkpoint may
    restart numbering. The same constraint applies to every compacted
    store in this family (shingle, sem, span, text, vector)."""
    idx = (
        spark.read.schema(INDEX_SCHEMA)
        .option("basePath", index_dir)
        .parquet(index_dir)
    )
    (
        idx.repartition("content_hash")
        .select(
            "content_hash",
            F.coalesce(F.col("adm"), F.col("src_batch")).alias("adm"),
            F.lit(0).alias("src_batch"),
        )
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("src_batch")
        .parquet(out_dir)
    )
    open(os.path.join(out_dir, "_COMPACTED"), "w").close()


GRAM_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("g", T.LongType()),
        T.StructField("n", T.LongType()),
        # adm = admit epoch as a data column (r12, closing the family's
        # last replay-vs-compaction caveat): the fold preserves
        # per-(gram, adm) rows, so the replay guard survives compaction
        # exactly as it does on the dedup/near/sem indexes. Legacy
        # pre-adm rows read NULL and coalesce to src_batch.
        T.StructField("adm", T.LongType()),
        T.StructField("src_batch", T.LongType()),
    ]
)


def compact_span_index(spark, gram_index_dir: str, out_dir: str) -> None:
    """Fold the epoch-accumulated gram-count index into a single
    ``src_batch=0`` generation at `out_dir` — the span-index analog of
    text_index.compact_text_index (r8: the one store that previously
    accrued one partition per epoch forever).

    Why it belongs to the index, not the filesystem: the screen's prior
    term is sum(n) GROUP BY g across all prior epochs — compaction
    applies that aggregation ONCE, so a long-running ingest stops paying
    epochs × files per screen and the combined count is read directly.
    Screening new epochs against the compacted generation is
    byte-identical to screening against the epoch stack (pinned in
    tests): the sink only ever consumes the per-gram SUM, and every
    folded epoch is < any future batch_id, so the replay guard still
    admits the whole folded history. The fold groups by (g, adm) — the
    admit epoch riding as a data column (r12, the `adm` pattern from the
    dedup index) — so EPOCH REPLAY also composes with compaction: a
    replayed epoch's ``coalesce(adm, src_batch) < batch_id`` guard
    excludes its own folded contribution instead of double-counting it
    (the caveat this module's r11 docstring could only document).

    The output is a fresh directory (generation swap — build, then
    readers move), stamped with a ``_COMPACTED`` marker (an
    underscore-prefixed file, invisible to Spark's file index): the
    marker tells `corpus_retract` that per-epoch provenance is folded,
    switching RTBF from per-epoch recount to gram-count SUBTRACTION.
    The marker's CONTENT is the JSON list of epoch ids the fold consumed
    (r9, ADVICE): retraction must subtract only for victims from epochs
    that actually contributed grams — an epoch ingested with
    span_screen=False never did, and subtracting its victims' grams
    would under-count unrelated docs sharing them.
    Same quiesce discipline as every generation swap here: a replay of a
    folded epoch must not race the swap (the replay guard would re-admit
    grams the fold already counted)."""
    import json

    idx = (
        spark.read.schema(GRAM_INDEX_SCHEMA)
        .option("basePath", gram_index_dir)
        .parquet(gram_index_dir)
    )
    folded_set = {
        int(e.split("=", 1)[1])
        for e in os.listdir(gram_index_dir)
        if e.startswith("src_batch=")
    }
    prior_marker = os.path.join(gram_index_dir, "_COMPACTED")
    if os.path.isfile(prior_marker):  # re-fold: union the prior fold's epochs
        try:
            with open(prior_marker) as fh:
                folded_set |= {int(e) for e in json.load(fh)}
        except (ValueError, OSError):
            pass
    folded = sorted(folded_set)
    # adm derivation on the fold input: an UNFOLDED per-epoch partition
    # stamps its rows with its own epoch (exact provenance, even for
    # pre-adm sinks — the partition value IS the admit epoch there). A
    # row already AT src_batch=0 with NULL adm is a pre-adm FOLD: its
    # per-epoch provenance is lost, and stamping it 0 would disguise
    # multi-epoch legacy counts as "epoch 0's exact contribution" —
    # corpus_retract's adm-recount branch would then replace them with an
    # epoch-0-only recount, deleting every other legacy epoch's grams
    # (review r12). NULL must stay NULL through a re-fold so retraction
    # keeps routing those rows to the documented subtract fallback.
    adm_expr = F.when(
        (F.col("src_batch") == 0) & F.col("adm").isNull(),
        F.lit(None).cast("long"),
    ).otherwise(F.coalesce("adm", "src_batch"))
    (
        idx.select("g", "n", adm_expr.alias("adm"))
        .groupBy("g", "adm")
        .agg(F.sum("n").alias("n"))
        .select("g", "n", "adm", F.lit(0).alias("src_batch"))
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("src_batch")
        .parquet(out_dir)
    )
    with open(os.path.join(out_dir, "_COMPACTED"), "w") as fh:
        json.dump(folded, fh)


def span_screen_sink(
    gram_index_dir: str, audit_dir: str
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: the ingestion-time form of
    operators/dedup.py::llm_incremental_dup_spans — duplicated-SUBSTRING
    screening against a persistent GRAM-COUNT index.

    Per epoch: (1) the batch's positional K-grams are evaluated against
    prior epochs' gram counts plus the batch's own (a gram with combined
    occurrence count >= 2 marks its K token positions as duplicated-span
    coverage); (2) the per-doc span audit (n_tokens / dup_tokens /
    dup_fraction / flag_dup / kept_text — `_span_coverage`, shared
    verbatim with the batch operators) lands in a batchId-keyed audit
    directory; (3) the epoch's own (gram, count) aggregate is admitted
    into its ``src_batch=N`` index partition.

    Ingest-time semantics, by design: coverage is evaluated when a doc
    ARRIVES, so the corpus-first occurrence of a span stays uncovered in
    its own epoch's audit (it was unique when admitted) — retroactive
    whole-corpus coverage is `llm_dup_spans`' batch job over the stores.

    Replay safety is the module's standard contract: the screen reads
    only ``coalesce(adm, src_batch) < batch_id`` rows (partition-pruned
    on the epoch stack; the `adm` data column carries the same guard
    through a fold — r12, so replay composes with compaction like the
    rest of the index family), and both writes are epoch-scoped
    overwrites, so a replayed epoch produces byte-identical audit rows
    and index contribution instead of double-counting its own grams.

    Scale shape: the index is (8-byte gram hash, count, epoch) — no
    positions, no text; per-epoch moving state is O(batch tokens) for
    the positional side plus one aggregate-to-aggregate left join on the
    gram key (exactly the batch operator's incremental contract)."""
    from ..operators.dedup import _span_coverage, _span_pos_grams, _span_toks

    def screen(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        toks = _span_toks(batch_df)
        bpos = _span_pos_grams(toks)
        bcounts = bpos.groupBy("g").agg(F.count("*").alias("b_cnt"))
        if os.path.isdir(gram_index_dir) and any(
            e.startswith("src_batch=") for e in os.listdir(gram_index_dir)
        ):
            prior = (
                spark.read.schema(GRAM_INDEX_SCHEMA)
                .option("basePath", gram_index_dir)
                .parquet(gram_index_dir)
                # replay guard, two conjuncts for one predicate: the
                # src_batch half is PARTITION-PRUNABLE (own-epoch and
                # later partitions never get listed on the epoch stack);
                # the coalesce half refines rows INSIDE a folded
                # src_batch=0 partition, where adm carries the admit
                # epoch through compaction (legacy NULL rows coalesce to
                # the partition value). Equivalent to
                # coalesce(adm, src_batch) < batch_id alone — per-epoch
                # rows have src_batch == effective epoch, folded rows
                # src_batch = 0 <= adm — but a bare coalesce over the
                # partition column would defeat pruning (review r12).
                .filter(
                    (F.col("src_batch") < batch_id)
                    & (F.coalesce(F.col("adm"), F.col("src_batch")) < batch_id)
                )
                .groupBy("g")
                .agg(F.sum("n").alias("c_cnt"))
            )
            merged = bcounts.join(prior, "g", "left")
        else:
            merged = bcounts.withColumn("c_cnt", F.lit(None).cast("long"))
        dup_grams = merged.filter(
            F.col("b_cnt") + F.coalesce(F.col("c_cnt"), F.lit(0)) >= 2
        ).select("g")
        report = _span_coverage(toks, bpos, dup_grams)
        report.write.mode("overwrite").parquet(
            os.path.join(audit_dir, f"batch_id={batch_id}")
        )
        (
            bcounts.select(
                "g",
                F.col("b_cnt").alias("n"),
                F.lit(batch_id).alias("adm"),
                F.lit(batch_id).alias("src_batch"),
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("src_batch")
            .parquet(gram_index_dir)
        )

    return screen


# The near-dup index's two sub-stores (r9): band keys for candidate
# generation (8 rows/doc, 16 bytes each) and the per-doc hashed gram SET
# sidecar for exact verification (1 row/doc).
SHINGLE_BANDS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("v", T.LongType()),
        # adm = admit epoch as a data column (r11, uniform across the
        # index family): survives the fold, so the replay guard does too;
        # legacy pre-adm rows read NULL and coalesce to src_batch.
        T.StructField("adm", T.LongType()),
        T.StructField("src_batch", T.LongType()),
    ]
)
SHINGLE_GRAMS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("hs", T.ArrayType(T.IntegerType())),
        T.StructField("n_g", T.IntegerType()),
        T.StructField("adm", T.LongType()),
        T.StructField("src_batch", T.LongType()),
    ]
)

NEAR_AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dup_of", T.LongType()),
        T.StructField("jaccard", T.DoubleType()),
        T.StructField("phase", T.StringType()),
    ]
)

# Band buckets larger than this fall back to star edges against the
# bucket's min-doc_id representative — the same reduction
# _minhash_band_pairs applies (dedup.py), which is what bounds candidate
# volume under boilerplate skew.
_NEARDUP_BUCKET_CAP = 32


def neardup_screen_sink(
    shingle_index_dir: str,
    accepted_dir: str,
    audit_dir: str,
    threshold: float | None = None,
    bucket_cap: int = _NEARDUP_BUCKET_CAP,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: ingestion-time NEAR-duplicate screening —
    the streaming form of the batch tier's banded-MinHash near-dup path
    (`llm_minhash_banded`, operators/dedup.py), against a persistent
    BANDED shingle index (r8 introduced the screen over raw gram keys;
    r9 adopts the banded construction the batch tier already owned — the
    raw-gram join was the engine's one unbounded quadratic: candidate
    volume was Σ(batch_df × index_df) over shared grams, exploding at
    ingest time exactly on the boilerplate-heavy corpora a near-dup
    screen exists for).

    Construction, shared verbatim with `llm_minhash_banded` (the word
    hash `_WHS_SPARK`, shingle-hash polynomial `_HS_SPARK`, permutation
    family `_PERM`, and the Arrow intersect verify kernel
    `_jaccard_verify_kernel`):

    1. per doc: word-3-gram shingle hashes -> 8 MinHash permutations ->
       8 band keys of size 1 (an ingest SCREEN wants recall: r=1 gives
       P[candidate] = 1-(1-j)^8 = 0.9993 at j=0.6 vs 0.83 for the batch
       operator's r=2 — false candidates only cost verify work, which
       the exact kernel and the bucket cap bound);
    2. CORPUS screen — batch band keys equi-join prior epochs' band
       keys; buckets with more than `bucket_cap` indexed members
       contribute only their min-doc_id representative (star edges), so
       per batch doc candidates <= 8·bucket_cap regardless of index
       skew. Candidates are exact-verified on the hashed gram SETS
       (grams sidecar), so rejection still means true Jaccard >=
       threshold — banding adds only bounded-probability false
       negatives, never false positives.
    3. WITHIN-BATCH screen — among corpus-screen survivors, the same
       banded construction self-joined; a doc is rejected when a
       LOWER-doc_id survivor verifies as a near-dup (one priority-
       ordered pass, the `llm_semdedup` keep-contract: the lower-id
       neighbor's own fate does not resurrect the higher-id doc).

    Survivors land in a batchId-keyed accepted directory and their
    band keys + gram set are admitted into the epoch's own
    ``src_batch=N`` partitions of the two index sub-stores; rejected
    docs land in a batchId-keyed audit (doc_id, best-matching dup_of,
    jaccard on the 1e-6 half-up grid, phase 'corpus'|'batch') — ids and
    scores only, no text. Docs with fewer than 3 words have empty
    shingle sets and are always admitted here (they cannot reach a
    positive Jaccard; exact redelivery of short docs is the exact
    screen's job).

    Replay safety is the module's standard contract, guarded on the
    ``adm`` admit-epoch data column since r11 (``coalesce(adm,
    src_batch) < batch_id`` — src_batch stays for partition pruning;
    legacy pre-adm rows coalesce to the partition value): all writes are
    epoch-scoped overwrites, so a replayed epoch reproduces
    byte-identical accepted/audit/index contributions — against the
    FOLDED index too, since compaction carries adm through (the sem
    sidecar's r10 contract, now uniform across the index family; the
    span index's gram COUNTS are aggregates with no per-doc identity and
    keep the pre-fold-only caveat inherently).

    Scale shape: moving state per admitted doc is 8 band keys + one
    int32 gram-set row (no text, no positions); the probe joins on band
    keys whose per-key fan-out is capped, so per-epoch candidate volume
    is <= 8·bucket_cap·|batch| BY CONSTRUCTION — linear in the batch,
    independent of index size and key skew. The verify stage moves gram
    sets only for candidate doc ids."""
    from ..operators.dedup import (
        _JACCARD_THRESHOLD,
        _band_explode,
        _banded_screen_audit,
        _minhash_sig,
    )

    thr = _JACCARD_THRESHOLD if threshold is None else float(threshold)
    bands_dir = os.path.join(shingle_index_dir, "bands")
    grams_dir = os.path.join(shingle_index_dir, "grams")

    def screen(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession

        bsig = _minhash_sig(batch_df).localCheckpoint(eager=False)
        if os.path.isdir(bands_dir) and any(
            e.startswith("src_batch=") for e in os.listdir(bands_dir)
        ):
            guard = (F.col("src_batch") < batch_id) & (
                F.coalesce(F.col("adm"), F.col("src_batch")) < batch_id
            )
            ibands = (
                spark.read.schema(SHINGLE_BANDS_SCHEMA)
                .option("basePath", bands_dir)
                .parquet(bands_dir)
                .filter(guard)  # replay: ignore own (and later) epochs
                .select("doc_id", "band", "v")
            )
            igrams = (
                spark.read.schema(SHINGLE_GRAMS_SCHEMA)
                .option("basePath", grams_dir)
                .parquet(grams_dir)
                .filter(guard)
                .select("doc_id", "hs")
            )
        else:
            ibands = igrams = None
        # r14 (guide §2.6): the audit relation is materialized EAGERLY
        # (one checkpoint job — it was materialized anyway by the first
        # write), and the four store writes, which are all deterministic
        # functions of the checkpointed audit / bsig and target DISJOINT
        # directories, run 2-wide so one write's barrier tail back-fills
        # with the next write's tiny jobs. This epoch's wall was measured
        # 37 sub-jobs averaging ~70 ms — pure job-launch latency, not
        # compute — so overlapping the four independent writes is the
        # §2.6 case exactly. Store bytes are unchanged (same rows from
        # the same checkpointed inputs), so replay byte-identity holds.
        audit = _banded_screen_audit(
            bsig, ibands, igrams, thr, bucket_cap
        ).localCheckpoint(eager=True)

        accepted = batch_df.join(audit.select("doc_id"), "doc_id", "left_anti")
        keep = bsig.join(audit.select("doc_id"), "doc_id", "left_anti")
        writes = [
            lambda: audit.write.mode("overwrite").parquet(
                os.path.join(audit_dir, f"batch_id={batch_id}")
            ),
            lambda: accepted.write.mode("overwrite").parquet(
                os.path.join(accepted_dir, f"batch_id={batch_id}")
            ),
            lambda: (
                _band_explode(keep)
                .select(
                    "doc_id", "band", "v",
                    F.lit(batch_id).alias("adm"),
                    F.lit(batch_id).alias("src_batch"),
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("src_batch")
                .parquet(bands_dir)
            ),
            lambda: (
                keep.select(
                    "doc_id", "hs", "n_g",
                    F.lit(batch_id).alias("adm"),
                    F.lit(batch_id).alias("src_batch"),
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("src_batch")
                .parquet(grams_dir)
            ),
        ]
        run_overlapped(writes)

    return screen


def compact_shingle_index(spark, shingle_index_dir: str, out_dir: str) -> None:
    """Fold the near-dup screen's epoch-accumulated partitions (both
    sub-stores: band keys and gram-set sidecar) into single
    ``src_batch=0`` generations at `out_dir` — the shingle analog of
    `compact_span_index`, so a long-running ingest stops paying
    epochs × files per screen.

    Unlike the span index there is nothing to aggregate: rows are
    per-doc facts, so the fold is a file collapse (bands clustered by
    the band key so the screen's equi-join probes fewer row groups;
    grams by doc_id so the verify stage's candidate-id join does).
    Screening against the folded generation is byte-identical — the
    sink consumes the row set, and every folded epoch is < any future
    batch_id, so the replay guard admits the whole folded history. The
    true admit epoch is MATERIALIZED into ``adm`` during the fold (r11;
    legacy pre-adm rows take their partition value), so epoch REPLAY
    composes with compaction as well — the ``coalesce(adm, src_batch) <
    batch_id`` guard excludes the replayed epoch's own folded rows
    instead of self-matching on them. Rows keep their doc_id, so RTBF
    stays a plain per-doc filter: the ``_COMPACTED`` marker just tells
    `corpus_retract` to rewrite the folded generations instead of the
    victims' original epoch partitions."""
    bands = (
        spark.read.schema(SHINGLE_BANDS_SCHEMA)
        .option("basePath", os.path.join(shingle_index_dir, "bands"))
        .parquet(os.path.join(shingle_index_dir, "bands"))
    )
    (
        bands.repartition("band", "v")
        .select(
            "doc_id", "band", "v",
            F.coalesce(F.col("adm"), F.col("src_batch")).alias("adm"),
            F.lit(0).alias("src_batch"),
        )
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("src_batch")
        .parquet(os.path.join(out_dir, "bands"))
    )
    grams = (
        spark.read.schema(SHINGLE_GRAMS_SCHEMA)
        .option("basePath", os.path.join(shingle_index_dir, "grams"))
        .parquet(os.path.join(shingle_index_dir, "grams"))
    )
    (
        grams.repartition("doc_id")
        .select(
            "doc_id", "hs", "n_g",
            F.coalesce(F.col("adm"), F.col("src_batch")).alias("adm"),
            F.lit(0).alias("src_batch"),
        )
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("src_batch")
        .parquet(os.path.join(out_dir, "grams"))
    )
    open(os.path.join(out_dir, "_COMPACTED"), "w").close()


# The semantic screen's per-cluster vector sidecar (r10): one row per
# admitted embedded doc — its fine-cluster assignment, priority sim, the
# vector itself (the exact-verify payload, the gram-set-sidecar pattern
# applied to geometry), and `adm`, the ADMIT epoch as a data column:
# src_batch is a partition column that compaction rewrites to 0, but the
# probe's candidate cap orders by first-admitted — carrying the admit
# epoch in the rows keeps that order (and therefore screening, even on
# cap-bound clusters) byte-identical across a fold.
SEM_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("cluster_id", T.LongType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("sim", T.DoubleType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("adm", T.LongType()),
        T.StructField("src_batch", T.LongType()),
    ]
)

SEM_AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dup_of", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
        T.StructField("phase", T.StringType()),
    ]
)

# Clusters whose INDEXED membership outgrows this cap contribute only
# their first-admitted `cap` members to a probe (ordered by admit epoch,
# then vec_id — deterministic). The trained model sizes clusters at
# ~_SEM_TARGET_CLUSTER over its training corpus, so the cap only binds
# under model drift (the ingested distribution outgrowing the
# calibration) — where it bounds verify work at the cost of
# bounded-probability false negatives, the same trade the banded
# screen's bucket cap makes. Recalibrating the model (retrain, swap the
# artifact dir) is the operator's recall lever.
_SEM_CLUSTER_CAP = 128


def semdedup_screen_sink(
    model_dir: str,
    sem_index_dir: str,
    accepted_dir: str,
    audit_dir: str,
    threshold: float | None = None,
    cluster_cap: int = _SEM_CLUSTER_CAP,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: ingestion-time SEMANTIC (embedding)
    deduplication — the streaming form of the batch tier's SemDeDup
    screen (`llm_semdedup`, operators/clustering.py), completing
    batch/streaming tier parity (the r9 verdict's missing ingest stage:
    batch curation had all four tiers, the stage ladder stopped at
    exact + near-dup + span).

    `model_dir` is the committed trained-hierarchy artifact
    (clustering.sem_model_dir) — a calibrate-once control-plane input,
    exactly like the curation sink's centroids: the batch tier trains
    coarse/fine centroids once; every epoch here only PROBES them.

    Per epoch:

    1. ASSIGN — each embedded batch doc routes to its nearest TRAINED
       coarse cell (broadcast O(√k·d) matrix; cells that won no training
       members have no fine model and are excluded from routing) and to
       the nearest fine centroid within it (cell-keyed cogroup against
       the fine store) — `llm_semdedup`'s exact assignment arithmetic,
       shared via `_sem_route` / `sem_cell_votes`.
    2. CORPUS screen — the persistent per-cluster vector sidecar is
       probed for the batch's OWN cluster ids via a broadcast semi-join
       (the index is scanned, never shuffled — the banded screen's
       contract), each probed cluster contributes at most `cluster_cap`
       first-admitted members, and a batch doc is rejected when an
       indexed same-cluster member verifies at grid cosine >=
       threshold. Index priority is first-admitted-wins — an already
       admitted doc is never retro-dropped, the incremental keep
       contract every screen here shares.
    3. WITHIN-BATCH screen — among corpus survivors, `llm_semdedup`'s
       keep predicate verbatim: a doc is rejected when a same-cluster
       near-duplicate of higher keep-priority exists (farther from the
       centroid wins, ties → lower doc_id; the neighbor's own fate does
       not resurrect the loser). With an empty index and one epoch this
       makes the streaming keep-set EQUAL to `llm_semdedup`'s over the
       same corpus and model — pinned in tests.

    Survivors land in a batchId-keyed accepted directory and their
    (cluster_id, sim, embedding) rows are admitted into the epoch's own
    ``src_batch=N`` sidecar partition; rejects land in a batchId-keyed
    audit (doc_id, best-matching dup_of by grid cosine, phase
    'corpus'|'batch') — ids and scores only, no text. Docs with NULL
    embeddings carry no geometry: always admitted here, never indexed
    (the near screen's short-doc convention; exact redelivery is the
    exact screen's job).

    Replay safety is the module's standard contract, guarded on the
    ``adm`` ADMIT-EPOCH data column (``adm < batch_id``; ``src_batch <
    batch_id`` rides along only for partition pruning): all writes are
    epoch-scoped overwrites, so a replayed epoch reproduces
    byte-identical accepted/audit/sidecar contributions — and because
    compaction carries ``adm`` through while rewriting only the
    src_batch partition value, replay stays byte-identical against a
    FOLDED sidecar too (ADVICE r10: the previous src_batch-only guard
    made an old epoch self-match at cosine 1.0 after a fold; replay and
    compaction now compose — since r11 the shingle index shares this adm
    contract, so the whole per-doc index family is fold-safe for replay;
    only the span index's aggregate gram counts keep the pre-fold-only
    caveat inherently). The WRITE side
    keeps the module's quiesce discipline: a replayed folded epoch
    re-admits its rows into a fresh ``src_batch=N`` partition beside the
    fold's ``src_batch=0`` copy of the same rows, so quiesce replays
    across a generation swap exactly like the span index — the adm guard
    makes the replay's OUTPUT exact, not the duplicate sidecar rows it
    leaves behind.

    Scale shape: moving state per admitted doc is ONE sidecar row; the
    probe joins on cluster ids with per-cluster fan-out capped, so
    per-epoch candidate volume is <= cluster_cap · |batch clusters| BY
    CONSTRUCTION — independent of index size; the verify stage moves
    vectors only for probed clusters."""
    import numpy as np
    import pandas as pd

    from ..operators.clustering import (
        _SEM_ASSIGN_SCHEMA,
        _SEMDEDUP_THRESHOLD,
        load_sem_model_trained,
        sem_fine_assign,
    )

    thr = _SEMDEDUP_THRESHOLD if threshold is None else float(threshold)
    cache: dict = {}

    def verify_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
        """One cluster's exact-verify pass over (batch ∪ probed index)
        rows: corpus-phase rejects first, then the within-batch priority
        predicate among corpus survivors. Emits audit rows only."""
        import numpy as np
        import pandas as pd

        is_idx = pdf["is_index"].to_numpy(dtype=np.int64) == 1
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        sims = pdf["sim"].to_numpy(dtype=np.float64)
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            Mn = X / np.linalg.norm(X, axis=1, keepdims=True)
            G = Mn @ Mn.T
            near = np.floor(G * 1e6 + 0.5) >= thr * 1e6
        np.fill_diagonal(near, False)
        bidx = np.where(~is_idx)[0]
        iidx = np.where(is_idx)[0]
        out = {"doc_id": [], "dup_of": [], "cosine": [], "phase": []}
        survivors = []
        for b in bidx:
            hits = iidx[near[b, iidx]]
            if len(hits):
                best = hits[np.lexsort((ids[hits], -G[b, hits]))[0]]
                out["doc_id"].append(int(ids[b]))
                out["dup_of"].append(int(ids[best]))
                out["cosine"].append(
                    float(np.floor(G[b, best] * 1e6 + 0.5) / 1e6)
                )
                out["phase"].append("corpus")
            else:
                survivors.append(b)
        sv = np.array(survivors, dtype=np.int64)
        sk = np.where(np.isnan(sims), -2.0, sims)
        for b in sv:
            others = sv[sv != b]
            if len(others) == 0:
                continue
            outranked = others[
                near[b, others]
                & (
                    (sk[others] < sk[b])
                    | ((sk[others] == sk[b]) & (ids[others] < ids[b]))
                )
            ]
            if len(outranked):
                best = outranked[np.lexsort((ids[outranked], -G[b, outranked]))[0]]
                out["doc_id"].append(int(ids[b]))
                out["dup_of"].append(int(ids[best]))
                out["cosine"].append(
                    float(np.floor(G[b, best] * 1e6 + 0.5) / 1e6)
                )
                out["phase"].append("batch")
        return pd.DataFrame(out).astype(
            {"doc_id": "int64", "dup_of": "int64", "cosine": "float64", "phase": "object"}
        )

    def screen(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        if "model" not in cache:
            cache["model"] = load_sem_model_trained(spark, model_dir)
        model = cache["model"]

        emb = batch_df.filter(F.col("embedding").isNotNull()).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        )
        if model is None:
            assigned = spark.createDataFrame([], _SEM_ASSIGN_SCHEMA)
        else:
            assigned = sem_fine_assign(emb, *model)
        assigned = assigned.select(
            "vec_id", "cluster_id", "sim",
        ).join(emb, "vec_id").localCheckpoint(eager=False)

        batch_side = assigned.select(
            "cluster_id", "vec_id", "sim", "embedding", F.lit(0).alias("is_index")
        )
        if os.path.isdir(sem_index_dir) and any(
            e.startswith("src_batch=") for e in os.listdir(sem_index_dir)
        ):
            probe_keys = assigned.select("cluster_id").distinct()
            # Replay guard on the adm ADMIT-EPOCH data column, not the
            # src_batch partition value (ADVICE r10): compaction folds
            # every partition to src_batch=0 but carries adm through, so
            # `adm < batch_id` excludes this epoch's own (and any later
            # epoch's) admits even against a folded sidecar — epoch
            # replay and compaction COMPOSE (the shingle index, whose
            # rows carry no admit column, keeps its pre-fold-only replay
            # caveat). src_batch < batch_id rides along purely as the
            # partition-pruning predicate: on an unfolded store it is
            # equivalent (src_batch == adm at write time), on a folded
            # one it passes everything and adm does the work.
            cand = (
                spark.read.schema(SEM_INDEX_SCHEMA)
                .option("basePath", sem_index_dir)
                .parquet(sem_index_dir)
                .filter(
                    (F.col("src_batch") < batch_id) & (F.col("adm") < batch_id)
                )
                .join(F.broadcast(probe_keys), "cluster_id", "semi")
            )
            # first-admitted order via the adm DATA column (not the
            # src_batch partition value, which a fold rewrites to 0) —
            # keeps cap-bound screening byte-identical across compaction
            w = Window.partitionBy("cluster_id").orderBy("adm", "vec_id")
            cand = (
                cand.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= cluster_cap)
                .select(
                    "cluster_id", "vec_id", "sim", "embedding",
                    F.lit(1).alias("is_index"),
                )
            )
            union = batch_side.unionByName(cand)
        else:
            union = batch_side

        # r14 (guide §2.6, the near screen's pattern): eager audit
        # checkpoint, then the three disjoint store writes run 2-wide —
        # same rows from the same checkpointed inputs, so replay
        # byte-identity holds; only the job-barrier tail overlaps.
        audit = (
            union.groupBy("cluster_id")
            .applyInPandas(
                verify_cluster,
                "doc_id long, dup_of long, cosine double, phase string",
            )
            .localCheckpoint(eager=True)
        )
        accepted = batch_df.join(audit.select("doc_id"), "doc_id", "left_anti")
        keep = assigned.join(
            audit.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_anti"
        )
        writes = [
            lambda: audit.write.mode("overwrite").parquet(
                os.path.join(audit_dir, f"batch_id={batch_id}")
            ),
            lambda: accepted.write.mode("overwrite").parquet(
                os.path.join(accepted_dir, f"batch_id={batch_id}")
            ),
            lambda: (
                keep.select(
                    "cluster_id", "vec_id", "sim", "embedding",
                    F.lit(batch_id).alias("adm"),
                    F.lit(batch_id).alias("src_batch"),
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("src_batch")
                .parquet(sem_index_dir)
            ),
        ]
        run_overlapped(writes)

    return screen


def compact_sem_index(spark, sem_index_dir: str, out_dir: str) -> None:
    """Fold the semantic sidecar's epoch-accumulated partitions into a
    single ``src_batch=0`` generation — the sem analog of
    `compact_shingle_index`: rows are per-doc facts, so the fold is a
    file collapse, clustered by cluster_id so the probe's semi-join
    prunes row groups. Screening against the folded generation is
    byte-identical UNCONDITIONALLY — including on clusters where the
    probe cap binds — because the candidate order is the ``adm`` admit-
    epoch DATA column, which the fold carries through unchanged (the
    src_batch partition value it rewrites to 0 is only the replay
    guard's key); the marker records the fold for RTBF exactly like the
    shingle store."""
    idx = (
        spark.read.schema(SEM_INDEX_SCHEMA)
        .option("basePath", sem_index_dir)
        .parquet(sem_index_dir)
    )
    (
        idx.repartition("cluster_id")
        .select(
            "cluster_id", "vec_id", "sim", "embedding", "adm",
            F.lit(0).alias("src_batch"),
        )
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("src_batch")
        .parquet(out_dir)
    )
    open(os.path.join(out_dir, "_COMPACTED"), "w").close()
