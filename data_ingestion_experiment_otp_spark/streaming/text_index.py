"""Streaming incremental inverted text index: the text-side analog of
vector_index (and the serving-side complement of operators/retrieval.py —
`llm_bm25_topk` tokenizes the corpus per query; this module tokenizes each
document ONCE, at ingest).

Each micro-batch of documents is tokenized with the exact expression the
batch BM25 uses, reduced to per-(doc, term) counts, and appended to a
persistent postings index keyed by the 64-bit term hash — the term STRING
never leaves the scan stage and never reaches disk. BM25 queries then run
against the index: hash the query terms, read only matching term-hash
partitions, score with the shared `bm25_contribution` expression, top-k.
New documents become searchable one epoch after arrival with no index
rebuild.

Query path (BM25, phrase, proximity): the query terms are hashed with the
engine's xxhash64 over a LocalRelation (no job), which gives the pkey
leaves the query reads. If those posting leaves plus the doclen ledger
total at most `serving.DRIVER_MAX_BYTES` (4 MiB, measured), the read is
served on the driver (streaming/serving.py): pyarrow reads, the liveness
rules below in pandas, `bm25_contribution` and the final round(6)
evaluated by the engine over LocalRelations, and a LocalRelation answer
— no Spark job. Above the bound the Spark plan runs over the same
explicit leaf paths with the same LocalRelation query frames. The two
paths answer identically (pinned in tests/test_index_serving.py).

Layout (two stores, both epoch-partitioned, both zstd):

- ``postings/`` — ``(doc_id, thash, tf, pos)`` partitioned by
  ``(src_batch, pkey)`` where ``thash = xxhash64(term)`` and
  ``pkey = pmod(thash, _PARTS)``. A query's pkey set is computed on the
  driver (query vocabularies are bounded by contract), so a read touches
  only the term-hash ranges the query's own terms land in (on the Spark
  path a static PartitionFilter, plan-pinned in tests) —
  ~|query terms|/_PARTS of each epoch's postings, not the whole index.
  ~20 bytes/posting vs the ~40+ a term-string layout pays, and the fixed
  _PARTS bound keeps directory counts sane where partitioning by raw
  term would create |vocab| tiny files.
- ``doclen/`` — ``(doc_id, dl)`` partitioned by ``src_batch``: one
  2-scalar row per document per ingest epoch. This store is the
  corpus-stats side (N, avgdl) AND the document-liveness ledger: a doc's
  LIVE epoch is its max src_batch here, and only postings from that
  epoch count — so a re-ingested document's removed terms genuinely stop
  matching (stale postings can't resurrect them), the analog of
  vector_index's freshest-payload rule but strict, because BM25 matching
  is existence-based rather than score-resolved.

Replay safety: both writes are scoped to the epoch's own ``src_batch=N``
partitions with dynamic partition overwrite, so a replayed epoch rewrites
identical content instead of double-indexing (the package-wide sink
contract).

``pos`` is the sorted token-offset array (the Lucene-style positional
payload): `phrase_query_index` answers consecutive-token phrase queries
from it with the batch operator's offset-voting algebra, while BM25
readers never project it, so their scans prune it to the 20-byte row.

Scale shape: everything that shuffles is (doc_id, thash, tf) scalars; the
stats aggregate reduces the 2-scalar doclen store; df/idf are computed
over the query-matched postings only; the final rank is the same
round-6-score window as the batch path. Query-path parity with
`llm_bm25_topk` is exact (same tokenizer, same tf/df/dl/N inputs, same
scoring expression) and pinned by tests/test_text_index.py.

Reference parity: the reference persists one scalar cursor as its only
index (`api/main.py:258-290`); this is the content-addressed text-index
step of the same durable-bookkeeping idea, as vector_index is for
embeddings.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..operators.retrieval import bm25_contribution, tokenize
from . import serving

# Term-hash partitions per epoch: wide enough that a bounded query
# vocabulary prunes most of the scan, narrow enough that an epoch writes a
# bounded number of directories (_PARTS, one file each via the pkey
# repartition, written in parallel by shuffle-partitions tasks).
_PARTS = 16

# Explicit store schemas: an epoch with zero docs (or zero tokens) writes
# a partition directory containing only a _SUCCESS marker, and a
# schema-less read of it throws UNABLE_TO_INFER_SCHEMA — the query path
# must serve (empty) answers over an empty index, not crash.
_POSTINGS_SCHEMA = "doc_id long, thash long, tf int, pos array<int>, src_batch int, pkey int"
_DOCLEN_SCHEMA = "doc_id long, dl int, src_batch int"
_RESULT_SCHEMA = "query_id int, doc_id long, score double, rn int"
_PHRASE_SCHEMA = "query_id int, doc_id long, n_occurrences long"
_PROXIMITY_SCHEMA = "query_id int, doc_id long, min_dist long, n_near_pairs long"


def _pkey(thash):
    return F.pmod(thash, F.lit(_PARTS)).cast("int")


def text_index_sink(index_dir: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: tokenize each (doc_id, text) micro-batch
    once, append (doc_id, thash, tf) postings under (src_batch, pkey) and
    one (doc_id, dl) row under src_batch."""

    def index_batch(batch_df: DataFrame, batch_id: int) -> None:
        # One tokenize pass feeds both stores (persist bridges the two
        # write jobs — without it each write re-scans and re-tokenizes).
        # Null-text docs are KEPT in doclen with a null dl: the batch path
        # and the DuckDB oracle count every document in N (count(*)) while
        # avg(dl) skips nulls, and parity requires the index to agree; a
        # null-text re-ingest also advances the doc's live epoch, which is
        # what kills its stale postings.
        base = batch_df.select("doc_id", tokenize().alias("tk")).persist()
        try:
            (
                base.select(
                    "doc_id",
                    F.size("tk").alias("dl"),
                    F.lit(batch_id).alias("src_batch"),
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .option("compression", "zstd")
                .partitionBy("src_batch")
                .parquet(os.path.join(index_dir, "doclen"))
            )
            _write_postings(base, batch_id, index_dir)
        finally:
            base.unpersist()

    return index_batch


def _write_postings(base: DataFrame, batch_id: int, index_dir: str) -> None:
    # Positions ride on the SAME posting row (sorted token offsets of the
    # term in the doc) — the Lucene-style positional payload that lets the
    # index answer consecutive-token phrase queries. tf = size(pos), kept
    # materialized so the BM25 path reads a 20-byte row with the pos
    # column pruned at the scan (explicit-schema readers that never
    # project `pos` pay nothing for it).
    (
        base.select("doc_id", F.posexplode("tk").alias("pos", "term"))
        .groupBy("doc_id", F.xxhash64("term").alias("thash"))
        .agg(
            F.count("*").cast("int").alias("tf"),
            F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias("pos"),
        )
        .select(
            "doc_id",
            "thash",
            "tf",
            "pos",
            F.lit(batch_id).alias("src_batch"),
            _pkey(F.col("thash")).alias("pkey"),
        )
        # exactly one posting file per pkey dir, written by n tasks: AQE
        # does not coalesce a shuffle with an explicit partition count
        .repartition(int(base.sparkSession.conf.get("spark.sql.shuffle.partitions")), "pkey")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "zstd")
        .partitionBy("src_batch", "pkey")
        .parquet(os.path.join(index_dir, "postings"))
    )


# Tombstone sentinel in the doclen ledger: a deletion epoch writes
# dl = _TOMBSTONE for the doc (and no postings). The liveness rule already
# says "only the max-src_batch epoch counts", so a tombstoned doc's older
# postings go dead exactly like a re-ingest's — deletion IS a re-ingest
# with empty content — and the query paths additionally drop the doc from
# the corpus stats (N/avgdl), which an empty re-ingest would not do.
# Distinct from NULL dl, which marks a null-TEXT document that stays in N
# by the batch-parity contract.
_TOMBSTONE = -1


def text_index_delete_sink(index_dir: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function for a DELETION stream (right-to-be-forgotten /
    corpus retraction): each micro-batch of (doc_id) rows tombstones those
    documents in the index. After the epoch commits, the doc stops
    matching every BM25/phrase query, leaves N/avgdl, and its postings
    are physically purged at the next compaction. A later re-ingest of
    the same doc_id (higher epoch) resurrects it — the ledger's
    max-src_batch rule, unchanged. Replay-safe like every sink here:
    the tombstone epoch rewrites its own src_batch=N partition. Deletion
    epochs share the ledger's src_batch sequence with ingest epochs
    (dynamic overwrite replaces the whole src_batch=N doclen partition),
    so drive deletions through the same stream's epoch counter — never
    reuse an ingest epoch's id for a deletion."""

    def delete_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(
                "doc_id",
                F.lit(_TOMBSTONE).cast("int").alias("dl"),
                F.lit(batch_id).alias("src_batch"),
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", "zstd")
            .partitionBy("src_batch")
            .parquet(os.path.join(index_dir, "doclen"))
        )

    return delete_batch


def _live_ledger(doclen: DataFrame) -> DataFrame:
    """Resolve the doclen ledger to the LIVE corpus: one row per doc_id at
    its freshest epoch, tombstoned docs dropped entirely (they are not in
    the corpus — not for matching, not for N/avgdl). Shared by both query
    paths and compaction so deletion semantics cannot drift."""
    live = doclen.groupBy("doc_id").agg(
        F.max("src_batch").alias("cur_epoch"),
        F.max_by("dl", "src_batch").alias("dl"),
    )
    return live.filter(F.col("dl").isNull() | (F.col("dl") != _TOMBSTONE))


def _live_ledger_local(doclen: pd.DataFrame) -> pd.DataFrame:
    """Driver twin of `_live_ledger` over a pandas doclen slice: (doc_id,
    cur_epoch, dl) at each doc's freshest epoch, tombstones dropped."""
    last = doclen.sort_values(["doc_id", "src_batch"], kind="stable").drop_duplicates(
        "doc_id", keep="last"
    )
    live = last[last["dl"].isna() | (last["dl"] != _TOMBSTONE)]
    return live.rename(columns={"src_batch": "cur_epoch"})


class _Slice:
    """The part of a text index one query reads: the posting leaves its
    term hashes prune to and the whole doclen ledger. Served on the
    driver when it fits under `serving.DRIVER_MAX_BYTES`,
    else by the Spark plan over the same leaves."""

    def __init__(self, spark: SparkSession, index_dir: str, thashes: list[int]):
        self.spark, self.thashes = spark, sorted(set(thashes))
        self.postings_dir = os.path.join(index_dir, "postings")
        self.doclen_dir = os.path.join(index_dir, "doclen")
        # Python % is pmod: the same pkey the writer's _pkey computes
        self.pkeys = sorted({t % _PARTS for t in self.thashes})
        self.postings = serving.leaves(self.postings_dir, self.pkeys)
        self.doclen = serving.leaves(self.doclen_dir)
        self.local = serving.on_driver(self.postings, self.doclen)

    def live_local(self) -> pd.DataFrame:
        doclen = serving.read_leaves(self.doclen, _DOCLEN_SCHEMA).to_pandas()
        return _live_ledger_local(doclen)

    def postings_local(self, live: pd.DataFrame, col: str) -> pd.DataFrame:
        """The query terms' postings from each live doc's live epoch,
        with its dl: the driver form of the Spark liveness join. `col`
        is "tf int" (a row per posting) or "pos array<int>" (a row per
        position: the arrays exploded, as the Spark path's explode)."""
        t = serving.read_leaves(
            self.postings,
            f"doc_id long, thash long, {col}, src_batch int",
            pc.field("thash").isin(self.thashes),
        )
        if col.startswith("pos"):
            t = t.combine_chunks()
            rows = pc.list_parent_indices(t["pos"])
            t = pa.table(
                {
                    "doc_id": t["doc_id"].take(rows),
                    "thash": t["thash"].take(rows),
                    "pos": pc.list_flatten(t["pos"]),
                    "src_batch": t["src_batch"].take(rows),
                }
            )
        p = t.to_pandas()
        return p.merge(live, left_on=["doc_id", "src_batch"], right_on=["doc_id", "cur_epoch"])

    def live_spark(self) -> DataFrame:
        doclen = serving.read_leaves_spark(
            self.spark, _DOCLEN_SCHEMA, self.doclen_dir, self.doclen
        )
        return _live_ledger(doclen)

    def postings_spark(self, live: DataFrame) -> DataFrame:
        """Spark form of `postings_local`: the pruned scan keeps its
        static PartitionFilter on pkey and the thash pushdown."""
        postings = serving.read_leaves_spark(
            self.spark, _POSTINGS_SCHEMA, self.postings_dir, self.postings
        ).filter(F.col("pkey").isin(self.pkeys) & F.col("thash").isin(self.thashes))
        return postings.join(
            live,
            (postings.doc_id == live.doc_id) & (postings.src_batch == live.cur_epoch),
        ).drop(postings.doc_id)


def _term_hashes(spark: SparkSession, terms: list) -> list[int]:
    """The engine's own xxhash64 of each term, so query hashes match
    posting hashes by construction, projected over a LocalRelation: the
    collect runs no Spark job."""
    return serving.evaluate(spark, {"term": terms}, "term string", F.xxhash64("term"))


def bm25_query_index(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 5,
) -> DataFrame:
    """BM25 top-k per query over the persisted index. `queries` is the
    bounded (query_id, term) workload — same contract as the batch path's
    module-level workload. Returns (query_id, doc_id, score, rn), ranked
    on round-6 scores with doc_id tie-break, identical to
    `llm_bm25_topk` run over the same ingested corpus. Served on the
    driver with no Spark job when the slice fits (module docstring)."""
    qids = [q for q, _ in queries]
    thash = _term_hashes(spark, [t for _, t in queries])
    sl = _Slice(spark, index_dir, thash)
    if sl.local:
        qhash = pd.DataFrame({"query_id": qids, "thash": thash})
        live = sl.live_local()
        dls = live["dl"].dropna()
        tf = sl.postings_local(live, "tf int")
        dft = tf.groupby("thash").size().rename("df").reset_index()
        m = tf.merge(dft, on="thash").merge(qhash, on="thash")
        m["n"] = float(len(live))
        m["avgdl"] = float(dls.sum()) / len(dls) if len(dls) else np.nan
        # The engine's own bm25_contribution and round, evaluated over
        # LocalRelations (serving.evaluate), so scores are bit-equal to
        # the Spark plan's. A contribution depends only on (tf, df, dl)
        # here, so each distinct triple is evaluated once.
        key = ["tf", "df", "dl"]
        u = m[key + ["n", "avgdl"]].drop_duplicates(key)
        u["c"] = serving.evaluate(
            spark,
            u,
            "tf double, df double, n double, dl double, avgdl double",
            bm25_contribution(*(F.col(c) for c in ("tf", "df", "n", "dl", "avgdl"))),
        )
        m = m.merge(u[key + ["c"]], on=key)
        scored = m.groupby(["query_id", "doc_id"])["c"].sum(min_count=1).reset_index()
        # round(6) moves a score by at most 5e-7, so a sum more than 1e-6
        # under its query's k-th best cannot reach the top k: only the
        # rest need rounding.
        kth = scored.groupby("query_id")["c"].transform(lambda c: c.nlargest(k).min())
        scored = scored[(scored["c"] >= kth - 1e-6) | scored["c"].isna()].copy()
        scored["score"] = serving.evaluate(spark, scored, "c double", F.round("c", 6))
        scored = scored.sort_values(
            ["query_id", "score", "doc_id"], ascending=[True, False, True], na_position="last"
        )
        scored["rn"] = scored.groupby("query_id").cumcount() + 1
        return serving.local_frame(spark, scored[scored["rn"] <= k], _RESULT_SCHEMA)

    qhash = serving.local_frame(
        spark, {"query_id": qids, "thash": thash}, "query_id int, thash long"
    )
    # Liveness ledger: a doc's current epoch and current length,
    # tombstoned docs gone (text_index_delete_sink).
    live = sl.live_spark().withColumn("dl", F.col("dl").cast("double"))
    stats = live.agg(
        F.count("*").cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    # Only the live epoch's postings count — a stale epoch's rows for a
    # re-ingested doc (including terms its new text dropped) are dead.
    tf = sl.postings_spark(live).select(
        "doc_id", "thash", F.col("tf").cast("double").alias("tf"), "dl"
    )
    dft = tf.groupBy("thash").agg(F.count("*").cast("double").alias("df"))

    contrib = bm25_contribution(
        F.col("tf"), F.col("df"), F.col("n"), F.col("dl"), F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(dft), "thash")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(qhash), "thash")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("score"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "doc_id", "score", "rn")
    )


def phrase_query_index(
    spark: SparkSession,
    index_dir: str,
    phrases: list[tuple[int, str, int]],
) -> DataFrame:
    """Exact consecutive-token phrase search over the persisted positional
    postings — the index-served form of operators/retrieval.py::
    llm_phrase_search (same offset-voting algebra: a posting position
    matching a phrase term at offset qpos votes for start = pos - qpos;
    a start with votes == phrase length is one occurrence). `phrases` is
    the bounded (query_id, term, offset) workload. Returns
    (query_id, doc_id, n_occurrences), identical to the batch operator
    over the same ingested corpus (pinned in tests).

    The slice is pruned exactly like the BM25 path (pkey leaves + thash
    filter) and served the same way; liveness comes from the doclen
    ledger, so a re-ingested document's old phrasing stops matching. On
    the Spark path only matched postings' position arrays are exploded —
    the votes that shuffle are (query_id, doc_id, start) scalars."""
    qids = [q for q, _, _ in phrases]
    thash = _term_hashes(spark, [t for _, t, _ in phrases])
    qpos = [o for _, _, o in phrases]
    qlen = pd.DataFrame({"query_id": qids}).groupby("query_id").size().rename("L").reset_index()
    sl = _Slice(spark, index_dir, thash)
    if sl.local:
        qhash = pd.DataFrame({"query_id": qids, "thash": thash, "qpos": qpos})
        tp = sl.postings_local(sl.live_local(), "pos array<int>")
        m = tp.merge(qhash, on="thash")
        m["start"] = m["pos"] - m["qpos"]
        votes = m.groupby(["query_id", "doc_id", "start"]).size().rename("n_hit").reset_index()
        votes = votes.merge(qlen, on="query_id")
        out = (
            votes[votes["n_hit"] == votes["L"]]
            .groupby(["query_id", "doc_id"])
            .size()
            .rename("n_occurrences")
            .reset_index()
        )
        return serving.local_frame(spark, out, _PHRASE_SCHEMA)

    qhash = serving.local_frame(
        spark,
        {"query_id": qids, "thash": thash, "qpos": qpos},
        "query_id int, thash long, qpos int",
    )
    tokpos = sl.postings_spark(sl.live_spark()).select(
        "doc_id", "thash", F.explode("pos").alias("pos")
    )
    m = (
        tokpos.join(F.broadcast(qhash), "thash")
        .groupBy(
            "query_id", "doc_id", (F.col("pos") - F.col("qpos")).alias("start")
        )
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        m.join(F.broadcast(serving.local_frame(spark, qlen, "query_id int, L long")), "query_id")
        .filter(F.col("n_hit") == F.col("L"))
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("n_occurrences"))
    )


def compact_text_index(spark: SparkSession, index_dir: str, out_dir: str) -> None:
    """Fold an epoch-accumulated index into a single-generation index at
    `out_dir` — the text-index analog of materialize.compact_rollup.

    Why: every query reads every epoch's partition files (liveness is
    resolved at query time), so a long-running ingest accumulates
    epochs × _PARTS posting files and pays the liveness join per query.
    Compaction applies the liveness rule ONCE — only each doc's
    latest-epoch rows survive — and rewrites both stores under a single
    src_batch=0 generation with one file per pkey: the file count drops
    from epochs × _PARTS to _PARTS, dead postings leave the index
    entirely, and queries against the compacted generation return
    byte-identical answers (pinned in tests). Dead-term removal is the
    part a pure file-merge could NOT do — liveness needs the doclen
    ledger, so compaction belongs to the index, not the filesystem.

    The output is a fresh directory (generation swap, like
    compact_rollup's): the live index keeps serving while the new
    generation builds, then readers move — no in-place rewrite of
    partitions a replay might still target."""
    doclen = (
        spark.read.schema(_DOCLEN_SCHEMA)
        .option("basePath", os.path.join(index_dir, "doclen"))
        .parquet(os.path.join(index_dir, "doclen"))
    )
    # _live_ledger drops tombstoned docs, so compaction PURGES a deleted
    # doc's rows from both stores — the physical-erasure half of the
    # right-to-be-forgotten contract (tombstoning makes it unqueryable
    # immediately; compaction removes the bytes).
    live = _live_ledger(doclen)
    postings = (
        spark.read.schema(_POSTINGS_SCHEMA)
        .option("basePath", os.path.join(index_dir, "postings"))
        .parquet(os.path.join(index_dir, "postings"))
    )
    (
        live.select("doc_id", "dl", F.lit(0).alias("src_batch"))
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("src_batch")
        .parquet(os.path.join(out_dir, "doclen"))
    )
    (
        postings.join(
            live,
            (postings.doc_id == live.doc_id)
            & (postings.src_batch == live.cur_epoch),
        )
        .select(
            live.doc_id, "thash", "tf", "pos", F.lit(0).alias("src_batch"), "pkey"
        )
        .repartition("pkey")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("src_batch", "pkey")
        .parquet(os.path.join(out_dir, "postings"))
    )


def index_stats(spark: SparkSession, index_dir: str) -> dict:
    """Epoch/row accounting for tests and audits."""
    if not os.path.isdir(os.path.join(index_dir, "postings")):
        return {"postings": 0, "epochs": 0, "docs": 0}
    postings = spark.read.schema(_POSTINGS_SCHEMA).parquet(
        os.path.join(index_dir, "postings")
    )
    doclen = spark.read.schema(_DOCLEN_SCHEMA).parquet(os.path.join(index_dir, "doclen"))
    return {
        "postings": postings.count(),
        "epochs": doclen.select("src_batch").distinct().count(),
        "docs": doclen.select("doc_id").distinct().count(),
    }


def proximity_query_index(
    spark: SparkSession,
    index_dir: str,
    pairs: list[tuple[int, str, str]],
    window: int = 5,
) -> DataFrame:
    """Term-pair proximity over the persisted positional postings — the
    index-served form of operators/retrieval.py::llm_term_proximity
    (same algebra: explode each matched posting's position array, pair
    the two terms' positions within (query_id, doc_id), min distance +
    within-window pair count). `pairs` is the bounded
    (query_id, term_a, term_b) workload.

    Slice pruned and served exactly like the BM25/phrase paths; liveness
    from the doclen ledger, so re-ingested/deleted docs resolve
    correctly; on the Spark path only matched postings' position arrays
    explode, and the pairing join is keyed by (query_id, doc_id)
    scalars."""
    qids = [q for q, _, _ in pairs]
    ha = _term_hashes(spark, [a for _, a, _ in pairs])
    hb = _term_hashes(spark, [b for _, _, b in pairs])
    sl = _Slice(spark, index_dir, ha + hb)
    if sl.local:
        tp = sl.postings_local(sl.live_local(), "pos array<int>")
        cols = ["query_id", "doc_id", "pos"]
        side_a = tp.merge(pd.DataFrame({"query_id": qids, "thash": ha}), on="thash")[cols]
        side_b = tp.merge(pd.DataFrame({"query_id": qids, "thash": hb}), on="thash")[cols]
        m = side_a.merge(side_b.rename(columns={"pos": "pos_b"}), on=["query_id", "doc_id"])
        m["dist"] = (m["pos"] - m["pos_b"]).abs()
        m["near"] = (m["dist"] <= window).astype("int64")
        out = (
            m.groupby(["query_id", "doc_id"])
            .agg(min_dist=("dist", "min"), n_near_pairs=("near", "sum"))
            .reset_index()
        )
        return serving.local_frame(spark, out, _PROXIMITY_SCHEMA)

    qa = serving.local_frame(spark, {"query_id": qids, "thash": ha}, "query_id int, thash long")
    qb = serving.local_frame(spark, {"query_id": qids, "thash": hb}, "query_id int, thash long")
    tokpos = sl.postings_spark(sl.live_spark()).select(
        "doc_id", "thash", F.explode("pos").alias("pos")
    )
    side_a = tokpos.join(F.broadcast(qa), "thash").select("query_id", "doc_id", "pos")
    side_b = tokpos.join(F.broadcast(qb), "thash").select(
        "query_id", "doc_id", F.col("pos").alias("pos_b")
    )
    dist = F.abs(F.col("pos") - F.col("pos_b"))
    return (
        side_a.join(side_b, ["query_id", "doc_id"])
        .groupBy("query_id", "doc_id")
        .agg(
            F.min(dist).cast("long").alias("min_dist"),
            F.sum(F.when(dist <= window, 1).otherwise(0)).alias("n_near_pairs"),
        )
    )
