"""Streaming incremental vector index: the embedding-side analog of
corpus_index.corpus_dedup_sink.

Each micro-batch of vectors is hashed into the SAME multi-table sign-LSH
buckets the batch ANN uses (operators/similarity.py::bucket_udf — one
plane matrix, derived deterministically, shared by construction) and
appended to a persistent index. ANN queries then run against the index:
hash the query, read only matching bucket-range partitions, pre-rank the
candidates on the int8 payload, exact-rerank the survivors against the
source table. New vectors become searchable one epoch after arrival with
no index rebuild — the production contract for a continuously-ingested
embedding corpus.

Layout (two stores, both epoch-partitioned, both zstd — the index is
written once and scanned many times):

- ``buckets/`` — ID-ONLY posting rows ``(vec_id, bucket)`` partitioned by
  ``(src_batch, pkey)`` where ``pkey = tbl * _RANGES + bucket div width``
  — a bucket-RANGE partition key (tbl rides inside it, so the posting row
  itself carries just 12 bytes). A query's pkey set is computed on the
  driver (queries are bounded by contract), so a read touches only the
  ranges the query's own buckets land in (on the Spark path a static
  PartitionFilter, plan-pinned in tests) — ~1/_RANGES of each table's
  postings per query, not every epoch x every table. The fixed range
  width keeps the partition count bounded (tables x _RANGES dirs per
  epoch, one file each via a pkey repartition into the session's
  shuffle-partition count, so the dirs are written in parallel) where
  partitioning by raw
  ``bucket`` would explode into tables x 2^bits tiny files.
- ``vectors/`` — the int8-quantized payload ``(vec_id, q8 binary, scale)``
  stored ONCE per vector per epoch (not per table), partitioned by
  ``src_batch``: 65 bytes/vector instead of the 8 x 512-byte float64
  copies the first-cut layout stored (llm_embed_quantize's exact
  transform, packed to a 64-byte blob so parquet stores no per-element
  overhead). The quantized score orders candidates to ~1e-2 cosine error
  — enough to pick the exact-rerank survivor set, never the final answer.

Query path = the standard two-stage serving plan, in one of two places.
The query frame is collected and bucketed on the driver with the shared
`sign_buckets` kernel (one job unless the frame is a LocalRelation). If
the pkey leaves it prunes to plus the ``vectors/`` payload total at most
`serving.DRIVER_MAX_BYTES` (4 MiB, measured), candidates and the int8
pre-rank are computed on the driver (streaming/serving.py; the same
`dequant_cosine` kernel the UDF ships) and, without a source, the answer
is a Project over a LocalRelation — no Spark job. Otherwise the Spark
plan runs over the same explicit leaf paths: pruned posting scan →
bucket join against the broadcast query frame → candidate dedup across
tables/epochs → int8 pre-rank (index-local, cheap) keeps the top
k x rerank_margin per query → survivors join the full-precision SOURCE
table (broadcast of the bounded survivor id set into the source scan, the
same shape llm_embed_pq uses) → exact cosine → top-k. The exact rerank is
a Spark join on both paths; the driver path feeds it the survivors as a
broadcast LocalRelation. Callers without a
reachable source table get the pre-rank ordering as the result,
documented approximate. No vector — quantized or not — ever crosses an
Exchange; everything that shuffles is (query_id, vec_id, score) scalars.

Replay safety: both writes are scoped to the epoch's own ``src_batch=N``
partitions with dynamic partition overwrite, so a replayed epoch rewrites
identical content instead of double-indexing (same contract as every sink
in this package). A vec_id RE-INGESTED in a later epoch is searchable
through both epochs' bucket rows, and scoring resolves it to the LATEST
epoch's payload (max src_batch per candidate) — fresh embeddings win
deterministically; stale bucket rows at worst add recall.

Reference parity: the reference persists one scalar cursor as its only
index (`api/main.py:258-290`); this generalizes that durable bookkeeping
to a content-addressed geometric index, the same step corpus_index takes
for text hashes.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.similarity import (
    _LSH_BITS,
    _LSH_TABLES,
    _cosine,
    _plane_matrix,
    bucket_udf,
    sign_buckets,
)
from . import serving

# Bucket-range partitions per LSH table: wide enough that a query prunes
# to ~1/_RANGES of each table's postings, narrow enough that an epoch
# writes a bounded number of directories (tables x _RANGES, one file
# each) — at fixture scale the per-file parquet footer is the marginal
# cost, at 100 TB it's the open/seek count.
_RANGES = 8
_RERANK_MARGIN = 4

# Explicit store schemas (see text_index.py: an epoch with zero rows
# writes a partition dir containing only _SUCCESS, and a schema-less read
# of it throws UNABLE_TO_INFER_SCHEMA).
_BUCKETS_SCHEMA = "vec_id long, bucket int, src_batch int, pkey int"
_VECTORS_SCHEMA = "vec_id long, q8 binary, scale double, src_batch int"


def _range_width(bits: int) -> int:
    """Buckets per bucket-range partition."""
    return max(1, (1 << bits) // _RANGES)


def _pkey(tbl, bucket, bits: int):
    """The bucket-range partition key: tbl * _RANGES + bucket div width."""
    return (tbl * _RANGES + (bucket / _range_width(bits)).cast("int")).cast("int")


def _quantize_udf():
    """pandas_udf: array<double> -> struct<q8 binary, scale double>; the
    exact llm_embed_quantize transform, packed to a byte blob.
    Self-contained closure (workers never import this package)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<q8: binary, scale: double>")
    def quant(vs: pd.Series) -> pd.DataFrame:
        out_q, out_s = [], []
        for v in vs:
            a = np.asarray(v, dtype=np.float64)
            s = max(float(np.abs(a).max()), 1e-12) if len(a) else 1e-12
            out_q.append(np.floor(a * 127.0 / s + 0.5).astype(np.int8).tobytes())
            out_s.append(s)
        return pd.DataFrame({"q8": out_q, "scale": out_s})

    return quant


def dequant_cosine(q, blob, scale):
    """Cosine of query vector `q` against an int8 payload (`blob`,
    `scale`) dequantized (~1e-2 absolute error — a pre-rank score, not an
    answer). None for a tombstoned payload (vector_index_delete_sink: no
    geometry to score) or a zero-norm side. Run per row by
    `_dequant_cosine_udf` on the workers and by the driver-served query
    path. Self-contained for ship_by_value (shipping.py)."""
    import numpy as np

    if blob is None or scale is None:
        return None
    a = np.frombuffer(blob, dtype=np.int8).astype(np.float64) * (float(scale) / 127.0)
    qv = np.asarray(q, dtype=np.float64)
    na, nq = np.linalg.norm(a), np.linalg.norm(qv)
    return float(qv @ a / (na * nq)) if na > 0 and nq > 0 else None


def _dequant_cosine_udf():
    """pandas_udf: (q array<double>, q8 binary, scale double) ->
    `dequant_cosine`; null flows to the pre-rank's notNull filter."""
    from pyspark.sql.functions import pandas_udf

    from ..shipping import ship_by_value

    kernel = ship_by_value(dequant_cosine)

    @pandas_udf("double")
    def cos8(qs: pd.Series, blobs: pd.Series, scales: pd.Series) -> pd.Series:
        return pd.Series([kernel(*r) for r in zip(qs, blobs, scales)], dtype="float64")

    return cos8


def vector_index_sink(
    index_dir: str, tables: int = _LSH_TABLES, bits: int = _LSH_BITS
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: hash each (vec_id, embedding) micro-batch
    into per-table buckets; append ID-only posting rows under
    (src_batch, pkey) and one int8-quantized payload row under
    src_batch."""

    def index_batch(batch_df: DataFrame, batch_id: int) -> None:
        n = int(batch_df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        vec = batch_df.filter(F.col("embedding").isNotNull()).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        rows = vec.select(
            "vec_id", F.posexplode(bucket_udf(tables, bits)("v")).alias("tbl", "bucket")
        )
        (
            rows.select(
                "vec_id",
                "bucket",
                F.lit(batch_id).alias("src_batch"),
                _pkey(F.col("tbl"), F.col("bucket"), bits).alias("pkey"),
            )
            # exactly one posting file per pkey dir, written by n tasks: AQE
            # does not coalesce a shuffle with an explicit partition count
            .repartition(n, "pkey")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", "zstd")
            .partitionBy("src_batch", "pkey")
            .parquet(os.path.join(index_dir, "buckets"))
        )
        qz = _quantize_udf()
        (
            vec.select("vec_id", qz("v").alias("qz"), F.lit(batch_id).alias("src_batch"))
            .select("vec_id", F.col("qz.q8").alias("q8"), F.col("qz.scale").alias("scale"), "src_batch")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", "zstd")
            .partitionBy("src_batch")
            .parquet(os.path.join(index_dir, "vectors"))
        )

    return index_batch


def vector_index_delete_sink(index_dir: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function for a DELETION stream (right-to-be-forgotten
    for embeddings — the vector twin of text_index_delete_sink): each
    micro-batch of (vec_id) rows tombstones those vectors by writing a
    NULL-payload row at the deletion epoch and no bucket rows. The
    freshest-payload rule then resolves every query's candidate for that
    vec_id to the tombstone, whose null score the pre-rank filter drops —
    the vector stops being an answer immediately; the next compaction
    purges its payload and bucket rows physically. A later re-ingest
    (higher epoch) resurrects it. Same epoch-sequence rule as the text
    index: deletions share the store's src_batch counter with ingests."""

    def delete_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(
                "vec_id",
                F.lit(None).cast("binary").alias("q8"),
                F.lit(None).cast("double").alias("scale"),
                F.lit(batch_id).alias("src_batch"),
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", "zstd")
            .partitionBy("src_batch")
            .parquet(os.path.join(index_dir, "vectors"))
        )

    return delete_batch


def _query_buckets(queries: DataFrame, tables: int, bits: int) -> pd.DataFrame | None:
    """The bounded query frame collected to the driver and bucketed with
    the shared sign-LSH kernel: one (query_id, q, tbl, bucket, pkey) row
    per query per table, None for no queries. No job when `queries` is a
    LocalRelation."""
    rows = (
        queries.filter(F.col("embedding").isNotNull())
        .select("query_id", F.col("embedding").cast("array<double>").alias("q"))
        .collect()
    )
    if not rows:
        return None
    qv = [list(r["q"]) for r in rows]
    # dim 64: the planes bucket_udf hashes the index sink's vectors with
    b = sign_buckets(np.asarray(qv), _plane_matrix(tables * bits, 64), bits)
    qb = pd.DataFrame(
        {
            "query_id": np.repeat([r["query_id"] for r in rows], tables),
            "q": [v for v in qv for _ in range(tables)],
            "tbl": np.tile(np.arange(tables, dtype=np.int32), len(rows)),
            "bucket": b.reshape(-1),
        }
    )
    # `_pkey` on the driver (buckets are non-negative: div is floor)
    qb["pkey"] = qb["tbl"] * _RANGES + qb["bucket"] // _range_width(bits)
    return qb


def _prerank_local(qb, bucket_leaves, vector_leaves) -> pd.DataFrame:
    """Driver form of the candidate + int8 pre-rank stage: (query_id, q,
    vec_id, approx) sorted per query by approx desc, vec_id asc."""
    post = serving.read_leaves(
        bucket_leaves,
        "vec_id long, bucket int, pkey int",
        pc.field("bucket").isin(qb["bucket"].unique()),
    ).to_pandas()
    post["tbl"] = post["pkey"] // _RANGES
    cand = post.merge(qb[["query_id", "q", "tbl", "bucket"]], on=["tbl", "bucket"])
    cand = cand[cand["vec_id"] != cand["query_id"]].drop_duplicates(["query_id", "vec_id"])
    vecs = serving.read_leaves(
        vector_leaves, _VECTORS_SCHEMA, pc.field("vec_id").isin(cand["vec_id"].unique())
    ).to_pandas()
    # freshest payload per candidate (a re-ingested vec_id resolves to
    # its latest epoch; a tombstone's null payload scores None)
    vecs = (
        vecs.sort_values(["vec_id", "src_batch"], kind="stable")
        .drop_duplicates("vec_id", keep="last")
    )
    pre = cand[["query_id", "q", "vec_id"]].merge(vecs, on="vec_id")
    pre["approx"] = [dequant_cosine(*r) for r in zip(pre["q"], pre["q8"], pre["scale"])]
    pre = pre[pre["approx"].notna()].astype({"approx": "float64"})
    return pre.sort_values(["query_id", "approx", "vec_id"], ascending=[True, False, True])


def ann_query_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    tables: int = _LSH_TABLES,
    bits: int = _LSH_BITS,
    source: DataFrame | None = None,
    rerank_margin: int = _RERANK_MARGIN,
) -> DataFrame:
    """Top-k ANN over the persisted index for a bounded query frame
    (query_id, embedding). With `source` (vec_id, embedding — the
    full-precision corpus the stream was ingested from), survivors of the
    int8 pre-rank are exact-cosine reranked against it and the reported
    cosines are exact; without it, the pre-rank ordering IS the result
    (cosine ~1e-2 absolute error). Self-matches (query_id == vec_id) are
    excluded, mirroring sim_lsh_topk.

    The query frame is collected and bucketed on the driver (one job
    unless it is a LocalRelation); the bucket leaves its pkeys prune to
    plus the payload store are served on the driver when they fit under
    `serving.DRIVER_MAX_BYTES`, else by the Spark plan. The
    exact rerank against `source` is always a Spark join, fed the
    pre-rank survivors as a broadcast LocalRelation."""
    from pyspark.sql import Window as W

    qtype = queries.schema["query_id"].dataType.simpleString()
    out_schema = f"query_id {qtype}, vec_id long, cosine double, rn int"
    qb = _query_buckets(queries, tables, bits)
    if qb is None:
        return serving.local_frame(spark, None, out_schema)
    buckets_dir = os.path.join(index_dir, "buckets")
    vectors_dir = os.path.join(index_dir, "vectors")
    pkeys = sorted(int(p) for p in set(qb["pkey"]))
    bucket_leaves = serving.leaves(buckets_dir, pkeys)
    vector_leaves = serving.leaves(vectors_dir)

    if serving.on_driver(bucket_leaves, vector_leaves):
        pre = _prerank_local(qb, bucket_leaves, vector_leaves)
        pre["rn"] = pre.groupby("query_id").cumcount() + 1
        if source is None:
            # a Project over a LocalRelation: its collect runs no job
            return serving.local_frame(
                spark, pre[pre["rn"] <= k], f"query_id {qtype}, vec_id long, approx double, rn int"
            ).select("query_id", "vec_id", F.round("approx", 6).alias("cosine"), "rn")
        survivors = serving.local_frame(
            spark,
            pre[pre["rn"] <= k * rerank_margin],
            f"query_id {qtype}, q array<double>, vec_id long",
        )
    else:
        qframe = serving.local_frame(
            spark, qb, f"query_id {qtype}, q array<double>, tbl int, bucket int"
        )
        # Static partition filter on the explicit pkey leaves: the scan
        # reads only the bucket ranges the queries' own buckets land in.
        postings = (
            serving.read_leaves_spark(spark, _BUCKETS_SCHEMA, buckets_dir, bucket_leaves)
            .filter(F.col("pkey").isin(pkeys))
            .withColumn("tbl", (F.col("pkey") / _RANGES).cast("int"))
        )
        cand_ids = (
            postings.join(F.broadcast(qframe), on=["tbl", "bucket"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "q", "vec_id")
            .dropDuplicates(["query_id", "vec_id"])
        )
        vecs = serving.read_leaves_spark(spark, _VECTORS_SCHEMA, vectors_dir, vector_leaves)
        # Broadcast the bounded candidate set into the payload scan; a
        # vec_id present in several epochs (re-ingest) resolves to the
        # freshest payload deterministically.
        we = W.partitionBy("query_id", "vec_id").orderBy(F.col("src_batch").desc())
        cand = (
            vecs.join(F.broadcast(cand_ids), on="vec_id")
            .withColumn("e_rn", F.row_number().over(we))
            .filter(F.col("e_rn") == 1)
        )
        cos8 = _dequant_cosine_udf()
        pre = cand.withColumn("approx", cos8("q", "q8", "scale")).filter(
            F.col("approx").isNotNull()
        )
        wq = W.partitionBy("query_id").orderBy(F.col("approx").desc(), F.col("vec_id"))
        if source is None:
            return (
                pre.select("query_id", "vec_id", "approx")
                .withColumn("rn", F.row_number().over(wq))
                .filter(F.col("rn") <= k)
                .select("query_id", "vec_id", F.round("approx", 6).alias("cosine"), "rn")
            )
        survivors = (
            pre.withColumn("p_rn", F.row_number().over(wq))
            .filter(F.col("p_rn") <= k * rerank_margin)
            .select("query_id", "q", "vec_id")
        )
    src = source.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v")
    )
    exact = (
        src.join(F.broadcast(survivors), on="vec_id")
        .withColumn("cosine_raw", _cosine("q", "v"))
        .filter(F.col("cosine_raw").isNotNull())
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine_raw").desc(), F.col("vec_id"))
    return (
        exact.select("query_id", "vec_id", "cosine_raw")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id", F.round("cosine_raw", 6).alias("cosine"), "rn")
    )


def compact_vector_index(spark: SparkSession, index_dir: str, out_dir: str) -> None:
    """Fold an epoch-accumulated vector index into a single-generation
    index at `out_dir` — the vector twin of text_index.compact_text_index.

    Liveness comes from the `vectors` store (one payload row per vec_id
    per ingest epoch): a vec_id's live epoch is its max src_batch, the
    compacted `vectors` keeps exactly that payload, and the compacted
    `buckets` keeps only bucket rows from each vec_id's live epoch — a
    re-ingested vector's STALE-GEOMETRY bucket rows (buckets computed
    from the old embedding) leave the index, so post-compaction queries
    see only current geometry (pre-compaction they could admit a
    candidate through an old bucket, which the docstring above documents
    as at-worst-extra-recall; compaction is the cleanup path). File count
    collapses from epochs x (tables x _RANGES + 1) toward one file per
    pkey + one payload file. Fresh-directory generation swap, as in the
    text index and compact_rollup."""
    vecs = (
        spark.read.schema(_VECTORS_SCHEMA)
        .option("basePath", os.path.join(index_dir, "vectors"))
        .parquet(os.path.join(index_dir, "vectors"))
    )
    live = vecs.groupBy("vec_id").agg(
        F.max("src_batch").alias("cur_epoch"),
        F.max_by("q8", "src_batch").alias("q8"),
        F.max_by("scale", "src_batch").alias("scale"),
    )
    # Tombstoned vec_ids (freshest payload null — vector_index_delete_sink)
    # leave the generation entirely: compaction is the physical-erasure
    # half of the deletion contract.
    live = live.filter(F.col("q8").isNotNull())
    (
        live.select("vec_id", "q8", "scale", F.lit(0).alias("src_batch"))
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("src_batch")
        .parquet(os.path.join(out_dir, "vectors"))
    )
    buckets = (
        spark.read.schema(_BUCKETS_SCHEMA)
        .option("basePath", os.path.join(index_dir, "buckets"))
        .parquet(os.path.join(index_dir, "buckets"))
    )
    (
        buckets.join(
            live,
            (buckets.vec_id == live.vec_id)
            & (buckets.src_batch == live.cur_epoch),
        )
        .select(live.vec_id, "bucket", F.lit(0).alias("src_batch"), "pkey")
        .repartition("pkey")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("src_batch", "pkey")
        .parquet(os.path.join(out_dir, "buckets"))
    )


def index_stats(spark: SparkSession, index_dir: str) -> dict:
    """Epoch/row accounting for tests and audits."""
    if not os.path.isdir(os.path.join(index_dir, "buckets")):
        return {"rows": 0, "epochs": 0, "vec_rows": 0}
    buckets = spark.read.schema(_BUCKETS_SCHEMA).parquet(os.path.join(index_dir, "buckets"))
    vecs = spark.read.schema(_VECTORS_SCHEMA).parquet(os.path.join(index_dir, "vectors"))
    epochs = buckets.select("src_batch").distinct().count()
    return {"rows": buckets.count(), "epochs": epochs, "vec_rows": vecs.count()}


def index_bytes(index_dir: str) -> int:
    """Total parquet bytes on disk (payload-size audits in tests)."""
    total = 0
    for root, _dirs, files in os.walk(index_dir):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total
