"""OTP phase: the reference's hot path driven as an open loop.

The inputs are datagen's deliveries: time-ordered events, DELIVERY_EVENTS
per delivery, about 10% of them seeded redeliveries of earlier event ids
(some inside the 2-minute dedup watermark, some behind it). In the timed
region one generator thread renames timed delivery k into the watched
directory at k * PERIOD_S, whatever the pipeline is doing. The main
thread runs `start_otp_pipeline` + `drive.drain` whenever files are
pending, and a recording `post` timestamps every signal.

An operation is one delivery, timed from its scheduled time to the
`post` of its last signal; every signal of a delivery is posted from one
micro-batch, so its signals are not independent samples. TIMED_DELIVERIES
is fixed, not taken from `--seconds`, so that every run's medians rest
on the same number of deliveries.

The rate, one delivery every PERIOD_S seconds, sits below saturation on a
4-core box: a query run (start, one micro-batch, stop) takes 1.0-1.5 s
once warm, but in the host's slow phases it took over 2 s, and at a 2 s
period four runs in ten then built a backlog that doubled their median.
TIMED_DELIVERIES is as many as fit a campaign of 70 runs over the three
workloads in under an hour at that rate. The first WARMUP_DELIVERIES
deliveries run through the same pipeline (same checkpoint and sinks) in
set-up, one query run each, back to back, so that no timed delivery
pays the process's first streaming query (5-9 s) or the pipeline's
first runs, which stay up to twice as slow for a few deliveries.

Check (outside the timing): the multiset of posted (signal_key, otp)
equals a replay of all deliveries with event ids deduplicated, so a
redelivery never produces a second signal.
"""

from __future__ import annotations

import os
import threading
import time
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

PERIOD_S = 3.0
TIMED_DELIVERIES = 8
WARMUP_DELIVERIES = 3
DELIVERIES = TIMED_DELIVERIES + WARMUP_DELIVERIES


def _expected(files) -> Counter:
    """The replay: every delivered event once (event ids deduplicated),
    through the flagship extraction rules."""
    seen, want = set(), Counter()
    for p in files:
        for r in pq.read_table(p).to_pylist():
            if r["event_id"] in seen:
                continue
            seen.add(r["event_id"])
            if r["event_type"] in ("signup", "purchase"):
                k = int(r["props"].split(":")[1].rstrip("}")) % 10000
                want[(f"{r['event_type']}_user{r['user_id']}", f"{k:04d}")] += 1
    return want


def _start(spark, base, watched, post):
    """One run of the pipeline over `watched`, with its sinks and
    checkpoint under `base`."""
    from data_ingestion_experiment_otp_spark.streaming.pipeline import start_otp_pipeline

    return start_otp_pipeline(
        spark,
        watched,
        os.path.join(base, "out"),
        os.path.join(base, "checkpoint"),
        os.path.join(base, "cursor.json"),
        post,
    )


def setup(ctx):
    from data_ingestion_experiment_otp_spark.streaming import drive

    staging = os.path.join(ctx.sf_dir, "deliveries")
    files = sorted(os.path.join(staging, f) for f in os.listdir(staging))
    for k, p in enumerate(files):
        t_mtime = 1_700_000_000 + k  # mtimes order the file source's admission
        os.utime(p, (t_mtime, t_mtime))
    base = os.path.join(ctx.work, "otp")
    watched = os.path.join(base, "events")
    os.makedirs(watched)
    posts: list[tuple[float, int, str, str]] = []

    def post(key: str, body: dict) -> None:
        posts.append((time.perf_counter(), body["batch_id"], key, body["otp"]))

    with ctx.tracer.span("setup.otp.warmup", "setup"):
        for p in files[:WARMUP_DELIVERIES]:
            os.rename(p, os.path.join(watched, os.path.basename(p)))
            drive.drain(_start(ctx.spark, base, watched, post), timeout=60.0, poll=0.01)
    return {
        "files": files[WARMUP_DELIVERIES:],
        "all_files": [os.path.join(watched, os.path.basename(p)) for p in files],
        "base": base,
        "watched": watched,
        "posts": posts,
        "post": post,
    }


def run(ctx, state):
    from data_ingestion_experiment_otp_spark.streaming import drive

    from phases import log, percentile_tail, put_ops

    spark, base, watched, files = ctx.spark, state["base"], state["watched"], state["files"]
    posts, post = state["posts"], state["post"]
    n = len(files)
    delivered_at: list[float] = []
    lag: list[float] = []
    t0 = time.perf_counter() + 0.2
    sched = [t0 + k * PERIOD_S for k in range(n)]

    def generator():
        for k, p in enumerate(files):
            wait = sched[k] - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            os.rename(p, os.path.join(watched, os.path.basename(p)))
            now = time.perf_counter()
            delivered_at.append(now)
            lag.append(now - sched[k])

    gen = threading.Thread(target=generator, name="otp-generator", daemon=True)
    progress, starts, first_signal, backlog = [], [], [], []
    consumed = 0
    ctx.begin_timed()
    gen.start()
    deadline = t0 + n * PERIOD_S + 60.0
    run_i = 0
    while consumed < n and time.perf_counter() < deadline:
        pending = len(delivered_at) - consumed
        if pending <= 0:
            time.sleep(0.005)
            continue
        backlog.append(pending)
        ctx.job_group(f"otp:{run_i}", f"otp run {run_i}")
        with ctx.tracer.span("streaming.pipeline.run", f"otp:{run_i}"):
            n_posts = len(posts)
            ts = time.perf_counter()
            with ctx.tracer.span("streaming.pipeline.start", f"otp:{run_i}"):
                q = _start(spark, base, watched, post)
            starts.append(time.perf_counter() - ts)
            with ctx.tracer.span("streaming.drive.drain", f"otp:{run_i}"):
                drive.drain(q, timeout=60.0, poll=0.01)
            if len(posts) > n_posts:
                first_signal.append(posts[n_posts][0] - ts)
        ctx.clear_job_group()
        rows = [p for p in q.recentProgress if p["numInputRows"] > 0]
        consumed += len(rows)
        progress.extend(rows)
        run_i += 1
    gen.join()
    ctx.end_timed(max((t for t, _, _, _ in posts), default=sched[0]) - sched[0])

    # batch i among the batches with input reads delivery i (one file per
    # micro-batch, files admitted in mtime order)
    delivery_of = {
        p["batchId"]: k for k, p in enumerate(sorted(progress, key=lambda p: p["batchId"]))
    }
    lat = [t - sched[delivery_of[b]] for t, b, _, _ in posts if b in delivery_of]
    last: dict[int, float] = {}
    for t, b, _, _ in posts:
        if b in delivery_of:
            k = delivery_of[b]
            last[k] = max(last.get(k, 0.0), t - sched[k])
    log(f"otp last-signal latency per delivery: {[round(last.get(k, -1), 3) for k in range(n)]}")
    ok = ctx.check("otp deliveries consumed", consumed == n, f"{consumed} of {n} consumed")
    got = Counter((k, o) for _, _, k, o in posts)
    want = _expected(state["all_files"])
    ctx.check(
        "otp signals",
        ok and got == want,
        f"{sum(got.values())} posted vs {sum(want.values())} expected; "
        f"extra={sum((got - want).values())} missing={sum((want - got).values())}",
    )
    if len(last) < n:
        raise RuntimeError(f"otp push: {n - len(last)} of {n} deliveries produced no signal")
    put_ops(ctx, ctx.timed_total_s, list(last.values()))
    if ctx.traced:
        ctx.put("otp.signal_latency_p50_s", np.median(lat))
        ctx.put("otp.signal_latency_p99_s", percentile_tail(lat))
        _layers(ctx, progress, starts, first_signal, backlog, lag)


def _layers(ctx, progress, starts, first_signal, backlog, lag):
    keys = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")
    for k in keys:
        vals = [p["durationMs"].get(k, 0) / 1e3 for p in progress]
        ctx.put(f"spark.streaming.{k}_s", np.mean(vals) if vals else 0.0)
    states = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
    ctx.put("streaming.watermark.state_rows", states[-1]["numRowsTotal"] if states else 0)
    ctx.put("streaming.watermark.state_bytes", states[-1]["memoryUsedBytes"] if states else 0)
    ctx.put(
        "streaming.watermark.late_rows_dropped",
        sum(s.get("numRowsDroppedByWatermark", 0) for s in states),
    )
    ctx.put("streaming.pipeline.start_s", np.median(starts) if starts else 0.0)
    ctx.put("streaming.sinks.first_signal_s", np.median(first_signal) if first_signal else 0.0)
    ctx.put("otp.backlog_files", max(backlog) if backlog else 0)
    ctx.put("otp.generator_lag_s", max(lag) if lag else 0.0)
