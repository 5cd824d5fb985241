"""Idempotent streaming sinks (SURVEY.md §2.7 `st_replay_safe_step`,
§2.1 `snk_state_file`, `snk_http_signal`).

The reference advances its cursor BEFORE processing and swallows all errors
with HTTP 200 (`api/main.py:289-290`, `main.py:311-313`) — at-most-once:
a crash between cursor write and sink loses the batch. The engine inverts
this to at-least-once + idempotent sink: the checkpoint commits an epoch
only after `foreachBatch` returns, and the batch write is keyed by batchId
so a replayed epoch overwrites its own previous (possibly partial) output
instead of duplicating it. Net effect per sink: the parquet write and the
monotone cursor are effectively exactly-once (replays overwrite
themselves); the HTTP push is at-least-once — a replayed epoch re-POSTs
its rows, so the receiver must dedup on the carried identity
(signal_key, otp, batch_id). True end-to-end exactly-once over HTTP would
need a transactional/acknowledged receiver, which the reference's webhook
(fire-and-forget, `api/main.py:180-194`) does not provide.

Job budget: `otp_epoch_sink` runs each micro-batch — the watermark's
no-data eviction batch included — as ONE parquet write plus ONE driver
collect. The cursor and the signals are taken from the collected rows, so
the ordering data → cursor → signals costs no extra Spark job.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame


def idempotent_parquet_sink(out_dir: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: write each epoch to its own batchId-keyed
    subdirectory with overwrite — replays are absorbed, not duplicated
    (the journaled-step semantics of `ctx.run`,
    `api/login_workflow.py:110`)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(os.path.join(out_dir, f"batch_id={batch_id}"))

    return write


def _advance_cursor(state_path: str, last_id, batch_id: int) -> None:
    """Move the scalar cursor file forward to `last_id`: monotone (a
    replayed or older batch never regresses it; None leaves it untouched)
    and atomic (write-to-temp + rename, torn-write safe)."""
    if last_id is None:
        return
    previous = -1
    if os.path.exists(state_path):
        with open(state_path) as f:
            previous = json.load(f).get("last_id", -1)
    if last_id > previous:
        tmp = state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"last_id": int(last_id), "batch_id": batch_id}, f)
        os.replace(tmp, state_path)


def watermark_file_sink(
    out_dir: str, state_path: str, id_col: str = "event_id"
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function reproducing the reference's scalar-cursor file
    (`last_history_id.txt`, `api/main.py:258-290`) with the ordering fixed:
    data first, cursor last, cursor write idempotent and monotone. The
    cursor file is observability/interop state — correctness comes from the
    checkpoint, not the file."""
    write_data = idempotent_parquet_sink(out_dir)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        write_data(batch_df, batch_id)
        last_id = batch_df.selectExpr(f"max({id_col}) AS m").collect()[0]["m"]
        _advance_cursor(state_path, last_id, batch_id)

    return write


def _post_signals(post: Callable[[str, dict], None], rows, batch_id: int) -> None:
    for r in rows:
        post(r["signal_key"], {"otp": r["otp"], "batch_id": batch_id})


def http_signal_sink(
    post: Callable[[str, dict], None]
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function for the keyed HTTP push sink
    (`api/main.py:180-194`): POST one signal per row to the keyed endpoint.
    `post` is injected (tests pass a recorder; production passes a real
    HTTP client). Signals are the post-filter trickle (OTP hits; one file
    per micro-batch under `maxFilesPerTrigger=1`), so one driver `collect`
    (one job) is bounded; the high-volume form is
    `http_signal_sink_partitioned` below (`foreachPartition`, client per
    partition, nothing through the driver)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        _post_signals(post, batch_df.select("signal_key", "otp").collect(), batch_id)

    return write


def otp_epoch_sink(
    out_dir: str, state_path: str, post: Callable[[str, dict], None]
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function for the OTP hot path: the three sinks above
    fused into one write plus one collect per micro-batch.

    1. the batchId-keyed parquet write materializes the persisted batch;
    2. `(event_id, signal_key, otp)` is collected once from the cache;
    3. the monotone cursor advances to the max id of those rows;
    4. the signals are posted from the same rows.

    Replay semantics are those of the separate sinks: the write overwrites
    its own batch, the cursor never regresses, and a replayed epoch re-posts
    its signals (at-least-once)."""
    write_data = idempotent_parquet_sink(out_dir)

    def epoch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            write_data(batch_df, batch_id)
            rows = batch_df.select("event_id", "signal_key", "otp").collect()
        finally:
            batch_df.unpersist()
        _advance_cursor(state_path, max((r["event_id"] for r in rows), default=None), batch_id)
        _post_signals(post, rows, batch_id)

    return epoch


def http_signal_sink_partitioned(
    post_factory: "Callable[[], Callable[[str, dict], None]]",
) -> Callable[[DataFrame, int], None]:
    """High-volume form of the HTTP push sink: the POST loop runs INSIDE the
    executors via `foreachPartition` — one client per partition, rows never
    collected to the driver — so throughput scales with the cluster instead
    of the driver NIC. `post_factory` is called once per partition ON THE
    EXECUTOR to build the client (a connection/session cannot be pickled;
    the factory closure can). Delivery semantics match http_signal_sink:
    at-least-once, receiver dedups on (signal_key, otp, batch_id)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        def send_partition(rows) -> None:
            post = post_factory()
            for r in rows:
                post(r["signal_key"], {"otp": r["otp"], "batch_id": batch_id})

        batch_df.select("signal_key", "otp").foreachPartition(send_partition)

    return write
