"""The reference's hot path (`POST /gmail-webhook`, SURVEY.md §3.1) as a
composed Structured Streaming pipeline — the streaming counterpart of
plans/flagship.py with the semantic upgrades §3.1 calls for:

| reference (at-most-once)                  | here (exactly-once)             |
|-------------------------------------------|---------------------------------|
| cursor file advanced BEFORE processing    | checkpoint commits AFTER sinks  |
| (`api/main.py:289-290`)                   |                                 |
| errors swallowed with HTTP 200 → no retry | failed epoch replays;           |
| (`api/main.py:311-313`)                   | batchId-keyed sink absorbs it   |
| duplicate push → manual id compare        | withWatermark + dropDuplicates  |
| (`api/main.py:269-273`)                   | with bounded state              |

Stages: file-stream source (incremental scan; the checkpoint is the
cursor) → envelope decode (flagship.decode_stage) → watermarked dedup →
regex extraction + gates + key derivation (flagship.extract_stage) →
one foreachBatch epoch that writes the idempotent parquet sink, then
advances the monotone cursor file and posts the keyed HTTP signals from a
single collect (streaming/sinks.py::otp_epoch_sink).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..plans.flagship import decode_stage, extract_stage
from . import sinks, watermark


def otp_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """source → decode → watermark dedup → extract: the full §3.1 dataflow
    as one unstarted streaming DataFrame."""
    raw = watermark.stream_events(spark, events_dir)
    deduped = watermark.dedup_by_id(raw)
    return extract_stage(decode_stage(deduped))


def start_otp_pipeline(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cursor_path: str,
    post: Callable[[str, dict], None],
) -> StreamingQuery:
    """Start the pipeline with the three-sink foreachBatch epoch
    (sinks.otp_epoch_sink): data parquet first, cursor file second, HTTP
    signals last — so a crash mid-epoch replays into idempotent writes
    instead of losing the batch (the inversion of the reference's
    cursor-then-process ordering).

    Job budget: every micro-batch, the watermark's no-data eviction batch
    included, runs one parquet write (which also runs the stateful dedup)
    plus one driver collect; the cursor and the signals come from the
    collected rows."""
    return (
        otp_stream(spark, events_dir)
        .writeStream.foreachBatch(sinks.otp_epoch_sink(out_dir, cursor_path, post))
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
