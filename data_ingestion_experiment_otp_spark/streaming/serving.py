"""Driver-side serving of bounded reads over the persisted indexes
(text_index.py, vector_index.py).

A query against an epoch-partitioned index touches a small slice of it:
the partition leaves its own term hashes or LSH buckets prune to, plus
the store's liveness ledger or payload. The query paths list that slice
on the driver and choose where to answer it by its size on disk:

- at or under `DRIVER_MAX_BYTES` (4 MiB, measured: see there), the
  files are read with pyarrow and answered on the driver with pandas,
  the numpy kernels the UDFs ship, and the engine's own expressions
  evaluated over LocalRelations (`evaluate`); the answer is a
  LocalRelation, whose collect runs no Spark job;
- above it the Spark plan runs over the same explicit leaf paths.

Both sides take the query frames as LocalRelations (`local_frame`): a
`createDataFrame(list)` frame is RDD-backed and costs one job each time
it is scanned or broadcast, a LocalRelation none.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


@dataclass
class Leaf:
    """One partition leaf directory of a store: its path, the partition
    values its path spells, and its data files with their total bytes."""

    path: str
    parts: dict[str, int]
    files: list[str]
    nbytes: int


def data_files(path: str) -> list[str]:
    """The data files of a leaf directory, as Spark sees them: names
    starting with "_" or "." (_SUCCESS, .crc files, staging dirs) are
    skipped."""
    return [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(path, f))
    ]


def leaves(store: str, pkeys: list[int] | None = None) -> list[Leaf]:
    """The ``src_batch=N`` leaves of `store`, or with `pkeys` its
    ``src_batch=N/pkey=P`` leaves for those P only. An absent store has
    no leaves."""
    if not os.path.isdir(store):
        return []
    out = []
    for d in sorted(os.listdir(store)):
        if not d.startswith("src_batch="):
            continue
        batch = int(d.split("=", 1)[1])
        if pkeys is None:
            subs = [(os.path.join(store, d), {"src_batch": batch})]
        else:
            subs = [
                (os.path.join(store, d, f"pkey={p}"), {"src_batch": batch, "pkey": p})
                for p in pkeys
            ]
        for path, parts in subs:
            if os.path.isdir(path):
                files = data_files(path)
                out.append(Leaf(path, parts, files, sum(map(os.path.getsize, files))))
    return out


# The largest slice, in bytes on disk, served on the driver. Measured
# at local[4] on a 4-core x86 box (Spark 4.1, pyarrow 16): over text
# indexes of 20k-300k docs and vector indexes of 50k-400k vectors, the
# driver path answered every read over a slice of up to 5.6 MB 1.4-7x
# faster than the Spark plan. The first read it lost was a proximity
# read over an 8.7 MB slice with a 293k-row answer (3.96 s vs 3.39 s):
# its pandas work grows with the postings a query matches, where the
# Spark plan's spreads over the cores. Set to -1, every read runs the
# Spark plan.
DRIVER_MAX_BYTES = 4 << 20


def on_driver(*slices: list[Leaf]) -> bool:
    """True when the slices' bytes on disk fit under DRIVER_MAX_BYTES."""
    return sum(lf.nbytes for s in slices for lf in s) <= DRIVER_MAX_BYTES


def read_leaves(slice_: list[Leaf], schema: str, where=None) -> pa.Table:
    """The slice's rows as one Arrow table with the columns of the DDL
    `schema`: data columns from the files, partition columns (src_batch,
    pkey) from the leaf paths. `where`, a pyarrow.compute expression
    over the data columns, filters each file's rows as it is read."""
    target = arrow_schema(schema)
    data_cols = [n for n in target.names if n not in ("src_batch", "pkey")]
    tables = []
    for lf in slice_:
        for f in lf.files:
            t = pq.ParquetFile(f).read(columns=data_cols)
            if where is not None:
                t = t.filter(where)
            for k, v in lf.parts.items():
                if k in target.names:
                    t = t.append_column(k, pa.array([v] * t.num_rows, pa.int32()))
            tables.append(t.select(target.names).cast(target))
    return pa.concat_tables(tables) if tables else target.empty_table()


def read_leaves_spark(
    spark: SparkSession, schema: str, store: str, slice_: list[Leaf]
) -> DataFrame:
    """The slice as a Spark scan of its explicit leaf paths under
    basePath `store`, so no partition discovery walks the store (Spark
    still lists in a job when the leaves outnumber
    spark.sql.sources.parallelPartitionDiscovery.threshold). The schema
    is explicit because a leaf an empty epoch wrote holds only _SUCCESS,
    and a schema-less read of it throws UNABLE_TO_INFER_SCHEMA."""
    if not slice_:
        return local_frame(spark, None, schema)
    return (
        spark.read.schema(schema)
        .option("basePath", store)
        .parquet(*[lf.path for lf in slice_])
    )


def arrow_schema(schema: str) -> pa.Schema:
    """The Arrow form of a Spark DDL schema string."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    return to_arrow_schema(_parse_datatype_string(schema))


def local_frame(spark: SparkSession, data, schema: str) -> DataFrame:
    """A LocalRelation over driver data (`None`, a dict of columns, a
    pandas frame or an Arrow table), typed by the DDL `schema`. Built from
    Arrow whatever the session's Arrow setting, so its collect and any
    broadcast of it run no Spark job."""
    target = arrow_schema(schema)
    if data is None or len(data) == 0:
        # an empty pandas column has no element type to cast from
        data = target.empty_table()
    elif isinstance(data, pd.DataFrame):
        data = pa.Table.from_pandas(data[target.names], schema=target, preserve_index=False)
    elif isinstance(data, dict):
        data = pa.table({n: data[n] for n in target.names})
    return spark.createDataFrame(data.cast(target), schema)


def written_ids(spark: SparkSession, path: str) -> DataFrame:
    """The doc_ids of the parquet partition a stage has just written at
    `path`, read with pyarrow (no Spark job), as a `doc_id long`
    LocalRelation. A partition with no data file reads empty."""
    tables = [pq.read_table(f, columns=["doc_id"]) for f in data_files(path)]
    return local_frame(spark, pa.concat_tables(tables) if tables else None, "doc_id long")


def evaluate(spark: SparkSession, data, schema: str, col) -> list:
    """The Column expression `col` evaluated on the driver over driver
    data (as `local_frame` takes it): the optimizer folds a Project over
    a LocalRelation into a LocalRelation, so the collect runs no Spark
    job, and the values are the engine's own bits (its hash, log and
    rounding), with no port of them to keep in step."""
    return [r[0] for r in local_frame(spark, data, schema).select(col).collect()]
