"""Structured Streaming behavior: watermark dedup, windowed aggregation,
applyInPandasWithState state machine + rendezvous, idempotent sinks.

Stream inputs are staged as parquet files in a temp dir and driven with
`Trigger.AvailableNow` + `drive.drain`. Neither `processAllAvailable()`
nor bare AvailableNow termination works for the stateful-timeout queries:
a key armed with a ProcessingTimeTimeout keeps the engine in a timer-check
trigger loop forever, so those tests pass an explicit `until` completion
predicate (see streaming/drive.py). Cross-restart tests pass an explicit
checkpoint dir and rerun the query — state must come back from the
checkpoint, which is also the stronger claim (survives restart, not just
next-batch).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from data_ingestion_experiment_otp_spark.streaming import drive, sinks, state_machine, watermark


def _drive(df, name, output_mode="update", checkpoint=None, until=None):
    w = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    q = w.start()
    drive.drain(q, until=until)
    return q


def _stage_stream(spark, tmp_path, rows, schema, subdir="in"):
    path = str(tmp_path / subdir)
    spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode("append").parquet(path)
    return path


# Synthetic-stream staging schema: tests stage long-ns event times and
# convert on read (the fixture-staged path carries real timestamps instead).
EVENTS_NS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, value double, props string"
)


class TestWatermarkDedup:
    def test_stream_dedup_drops_redelivery(self, spark, tmp_path):
        rows = [(1, 1_000_000_000, 1, "signup", 1.0, "{}")] * 3 + [
            (2, 2_000_000_000, 1, "purchase", 2.0, "{}")
        ]
        path = _stage_stream(spark, tmp_path, rows, EVENTS_NS_SCHEMA)
        stream = (
            spark.readStream.schema(EVENTS_NS_SCHEMA)
            .parquet(path)
            .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        )
        deduped = watermark.dedup_by_id(stream)
        _drive(deduped, "dedup_out", output_mode="append")
        out = spark.sql("SELECT event_id FROM dedup_out").collect()
        assert sorted(r.event_id for r in out) == [1, 2]

    def test_streaming_events_fixture(self, spark, sf_dir, tmp_path):
        """Append mode emits a window only once the watermark passes its end.
        Run 1 ingests the fixture; run 2 (same checkpoint) ingests one
        far-future event, forcing the watermark past every run-1 window —
        all of them must then flush. Two runs are needed because whether an
        extra watermark-advancing batch happens before AvailableNow
        terminates is timing-dependent."""
        events_dir = watermark.stage_events_dir(spark, sf_dir, str(tmp_path / "events_dir"))
        ckpt = str(tmp_path / "ckpt")
        got: list[tuple] = []

        def run():
            agg = watermark.windowed_counts(watermark.stream_events(spark, events_dir))
            q = (
                agg.writeStream.foreachBatch(
                    lambda df, bid: got.extend(map(tuple, df.collect()))
                )
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            drive.drain(q)

        run()
        seen_after_run1 = len(got)
        head = (
            spark.read.parquet(events_dir).agg(F.max("ts").alias("m")).collect()[0].m
        )
        schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        # Two far-future arrivals, one per extra run: a batch's own max event
        # time only becomes the watermark at the NEXT batch, so run 2 flushes
        # windows up to run 1's head and run 3 flushes the rest.
        from datetime import timedelta

        for i, hours in enumerate((1, 2), start=1):
            _stage_stream(
                spark, tmp_path,
                [(10**9 + i, head + timedelta(hours=hours), 1, "signup", 0.0, "{}")],
                schema,
                subdir="events_dir",
            )
            run()
        assert len(got) > seen_after_run1
        # every fixture window is closed now; only the far-future events' own
        # windows can still be open
        batch_windows = (
            watermark.windowed_counts(
                spark.read.parquet(events_dir).filter(F.col("event_id") < 10**9)
            ).count()
        )
        assert len(got) >= batch_windows


class TestStateMachine:
    def test_advance_monotone_and_terminal(self):
        a = state_machine.advance
        assert a(None, "subprocess_created") == "subprocess_created"
        assert a("subprocess_created", "browser_ready") == "browser_ready"
        # replays / out-of-order never regress (idempotent re-entry)
        assert a("waiting_for_otp", "subprocess_created") == "waiting_for_otp"
        assert a("waiting_for_otp", "waiting_for_otp") == "waiting_for_otp"
        # error is terminal and absorbing
        assert a("browser_ready", "error") == "error"
        assert a("error", "success") == "error"
        assert a("success", "error") == "success"
        # unknown statuses ignored
        assert a("browser_ready", "garbage") == "browser_ready"

    def test_streaming_state_machine(self, spark, tmp_path):
        rows = [
            ("k1", "subprocess_created", 1),
            ("k1", "browser_ready", 2),
            ("k1", "waiting_for_otp", 3),
            ("k1", "otp_submitted", 4),
            ("k1", "success", 5),
            ("k2", "subprocess_created", 1),
            ("k2", "error", 2),
            ("k2", "browser_ready", 3),  # after terminal: absorbed
        ]
        path = _stage_stream(spark, tmp_path, rows, "key string, status string, seq long")
        stream = spark.readStream.schema("key string, status string, seq long").parquet(path)
        out = state_machine.apply_state_machine(stream)
        _drive(out, "sm_out")
        final = {
            r.key: (r.state, r.n_events)
            for r in spark.sql(
                "SELECT key, state, n_events FROM sm_out"
            ).collect()
        }
        assert final["k1"] == ("success", 5)
        assert final["k2"] == ("error", 3)

    def test_state_survives_across_restarts(self, spark, tmp_path):
        schema = "key string, status string, seq long"
        ckpt = str(tmp_path / "ckpt")
        path = _stage_stream(spark, tmp_path, [("k1", "subprocess_created", 1)], schema)
        got: list[tuple] = []

        def run():
            stream = spark.readStream.schema(schema).parquet(path)
            q = (
                state_machine.apply_state_machine(stream)
                .writeStream.foreachBatch(
                    lambda df, bid: got.extend((r.state, r.n_events) for r in df.collect())
                )
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            drive.drain(q)

        run()
        # second file arrives; a NEW query on the same checkpoint must resume
        # the per-key state from the state store, not restart from scratch
        _stage_stream(spark, tmp_path, [("k1", "waiting_for_otp", 2)], schema)
        run()
        assert ("waiting_for_otp", 2) in set(got)


class TestRendezvous:
    def test_request_then_otp_matches(self, spark, tmp_path):
        schema = "key string, kind string, payload string"
        path = _stage_stream(
            spark,
            tmp_path,
            [("zepto_u1", "request", None), ("zepto_u1", "otp", "1234"), ("zepto_u2", "request", None)],
            schema,
        )
        stream = spark.readStream.schema(schema).parquet(path)
        out = state_machine.apply_rendezvous(stream)
        got: list[tuple] = []
        q = (
            out.writeStream.foreachBatch(
                lambda df, bid: got.extend((r.key, r.status, r.otp) for r in df.collect())
            )
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        # u2's armed 300s timer keeps the query alive forever — stop once
        # the u1 match (same input batch as u2's request) has been emitted.
        drive.drain(q, until=lambda: ("zepto_u1", "matched", "1234") in got)
        assert ("zepto_u1", "matched", "1234") in got
        # u2 still waiting: no emitted row, state armed with timeout
        assert not any(k == "zepto_u2" for k, _, _ in got)

    def test_real_timer_fires_timeout_row(self, spark, tmp_path):
        """End-to-end timeout path with a REAL processing-time timer: a
        lone request arms a 1.5 s timeout; no otp ever arrives; the state
        store must expire the key and emit the timeout row (timer expiry is
        delivered inside the post-drain cleanup loop — see
        streaming/drive.py)."""
        schema = "key string, kind string, payload string"
        path = _stage_stream(spark, tmp_path, [("solo", "request", None)], schema)
        stream = spark.readStream.schema(schema).parquet(path)
        out = state_machine.apply_rendezvous(stream, timeout_ms=1_500)
        got: list[tuple] = []
        q = (
            out.writeStream.foreachBatch(
                lambda df, bid: got.extend((r.key, r.status) for r in df.collect())
            )
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        drive.drain(q, until=lambda: ("solo", "timeout") in got, timeout=60)
        assert ("solo", "timeout") in got

    def test_otp_before_request_parks_signal(self, spark, tmp_path):
        schema = "key string, kind string, payload string"
        ckpt = str(tmp_path / "ckpt")
        path = _stage_stream(spark, tmp_path, [("k", "otp", "9999")], schema)
        got: list[tuple] = []

        def run(until_for):
            stream = spark.readStream.schema(schema).parquet(path)
            q = (
                state_machine.apply_rendezvous(stream)
                .writeStream.foreachBatch(
                    lambda df, bid: got.extend((r.status, r.otp) for r in df.collect())
                )
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            drive.drain(q, until=until_for(q))

        # otp arrives first: parked in state, nothing is emitted — done once
        # the file's batch has been committed
        run(lambda q: lambda: drive.consumed_input(q))
        assert got == []
        _stage_stream(spark, tmp_path, [("k", "request", None)], schema)
        run(lambda q: lambda: ("matched", "9999") in got)
        assert ("matched", "9999") in set(got)


class TestSinks:
    def test_idempotent_parquet_sink_overwrites_on_replay(self, spark, tmp_path):
        out = str(tmp_path / "out")
        sink = sinks.idempotent_parquet_sink(out)
        df1 = spark.range(5).toDF("x")
        sink(df1, 7)
        sink(df1, 7)  # replayed epoch
        got = spark.read.parquet(out)
        assert got.count() == 5  # not 10: replay absorbed

    def test_watermark_file_sink_monotone_and_atomic(self, spark, tmp_path):
        out = str(tmp_path / "out")
        state = str(tmp_path / "cursor.json")
        sink = sinks.watermark_file_sink(out, state)
        sink(spark.createDataFrame([(10,), (20,)], "event_id long"), 0)
        assert json.load(open(state))["last_id"] == 20
        # replay of an older batch must not regress the cursor
        sink(spark.createDataFrame([(5,)], "event_id long"), 1)
        assert json.load(open(state))["last_id"] == 20
        # empty batch: cursor untouched
        sink(spark.createDataFrame([], "event_id long"), 2)
        assert json.load(open(state))["last_id"] == 20

    def test_http_signal_sink_posts_each_row(self, spark):
        posted = []
        sink = sinks.http_signal_sink(lambda key, body: posted.append((key, body["otp"])))
        df = spark.createDataFrame(
            [("zepto_u1", "1234"), ("zepto_u2", "5678")], "signal_key string, otp string"
        )
        sink(df, 3)
        assert sorted(posted) == [("zepto_u1", "1234"), ("zepto_u2", "5678")]


    def test_otp_epoch_sink_replay(self, spark, tmp_path):
        """Replaying one batch_id through the fused epoch sink: parquet rows
        are overwritten (not doubled), the cursor never regresses, and the
        same signals are posted again (at-least-once). Every post sees the
        cursor already advanced (data → cursor → signals)."""
        out = str(tmp_path / "out")
        state = str(tmp_path / "cursor.json")
        posted = []

        def post(key, body):
            cursor = json.load(open(state))["last_id"]
            posted.append((key, body["otp"], body["batch_id"], cursor))

        epoch = sinks.otp_epoch_sink(out, state, post)
        schema = "event_id long, signal_key string, otp string"
        b0 = spark.createDataFrame([(10, "signup_u1", "1234"), (20, "purchase_u2", "5678")], schema)
        b1 = spark.createDataFrame([(30, "signup_u3", "9012")], schema)
        epoch(b0, 0)
        epoch(b0, 0)  # replayed epoch
        assert spark.read.parquet(out).count() == 2
        assert json.load(open(state))["last_id"] == 20
        assert sorted(posted) == sorted(
            [("signup_u1", "1234", 0, 20), ("purchase_u2", "5678", 0, 20)] * 2
        )
        epoch(b1, 1)
        epoch(b0, 0)  # late replay of the older batch
        assert json.load(open(state))["last_id"] == 30
        assert posted[4] == ("signup_u3", "9012", 1, 30)
        assert spark.read.parquet(out).count() == 3
        epoch(spark.createDataFrame([], schema), 2)  # no-data batch
        assert json.load(open(state))["last_id"] == 30


class TestEndToEndPipeline:
    def test_streaming_matches_batch_semantics(self, spark, sf_dir, tmp_path):
        """The composed §3.1 pipeline (source → decode → watermarked dedup →
        extract → three-sink epoch) over the staged fixture must produce
        exactly the rows the same stages produce in batch (in-order staging
        → no late drops), the cursor file must hold the global max id, and
        the parquet sink must hold the same rows."""
        from data_ingestion_experiment_otp_spark.plans import flagship
        from data_ingestion_experiment_otp_spark.sources.catalog import load
        from data_ingestion_experiment_otp_spark.streaming import pipeline

        events_dir = watermark.stage_events_dir(spark, sf_dir, str(tmp_path / "events_dir"))
        posted: list[tuple] = []
        q = pipeline.start_otp_pipeline(
            spark,
            events_dir,
            out_dir=str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            cursor_path=str(tmp_path / "cursor.json"),
            post=lambda key, body: posted.append((key, body["otp"])),
        )
        assert drive.drain(q), "no armed timers — the pipeline must self-terminate"

        ev = load(spark, sf_dir, "events")
        expected = (
            flagship.extract_stage(flagship.decode_stage(ev.dropDuplicates(["event_id"])))
            .select("signal_key", "otp")
            .collect()
        )
        assert sorted(posted) == sorted((r.signal_key, r.otp) for r in expected)
        assert len(posted) > 0

        cursor = json.load(open(tmp_path / "cursor.json"))
        assert cursor["last_id"] == ev.agg(F.max("event_id")).collect()[0][0]

        sunk = spark.read.parquet(str(tmp_path / "out"))
        assert sunk.count() == len(expected)
        assert sorted(r.signal_key for r in sunk.select("signal_key").collect()) == sorted(
            r.signal_key for r in expected
        )

    def test_epoch_job_budget(self, spark, sf_dir, tmp_path):
        """Each micro-batch, the no-data eviction batch included, runs at
        most one parquet write plus one collect. Streaming jobs carry the
        query's runId and batch id in their description; they are read
        from the status store (populated with the UI disabled)."""
        from data_ingestion_experiment_otp_spark.streaming import pipeline

        events_dir = watermark.stage_events_dir(
            spark, sf_dir, str(tmp_path / "events_dir"), n_files=2
        )
        store = spark.sparkContext._jsc.sc().statusStore()
        bus = spark.sparkContext._jsc.sc().listenerBus()

        def last_job_id():
            bus.waitUntilEmpty()
            jobs = store.jobsList(None)
            if jobs.size() == 0:
                return -1
            return max(jobs.head().jobId(), jobs.last().jobId())

        first = last_job_id() + 1
        posted = []
        q = pipeline.start_otp_pipeline(
            spark,
            events_dir,
            out_dir=str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            cursor_path=str(tmp_path / "cursor.json"),
            post=lambda key, body: posted.append(key),
        )
        assert drive.drain(q)
        assert posted
        tag = f"runId = {q.runId}"
        per_batch: dict[str, int] = {}
        for j in range(first, last_job_id() + 1):
            desc = store.job(j).description()
            if desc.isDefined() and tag in desc.get():
                batch = desc.get().split("batch = ")[-1]
                per_batch[batch] = per_batch.get(batch, 0) + 1
        assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 2
        assert len(per_batch) >= 2, per_batch
        assert max(per_batch.values()) <= 2, per_batch


class TestTimeoutLadder:
    def test_constants_mirror_reference(self):
        assert state_machine.RENDEZVOUS_TIMEOUT_MS == 300_000
        assert state_machine.OTP_POLL_CAP_MS == 600_000
        assert state_machine.RESULT_POLL_CAP_MS == 18_000_000

    def test_rendezvous_timeout_path(self):
        """Drive the timeout branch of the rendezvous fn with a fake state."""

        class FakeState:
            exists = False
            hasTimedOut = True

            def remove(self):
                self.removed = True

        state = FakeState()
        out = list(state_machine._rendezvous_fn(("k",), iter([]), state))
        assert state.removed
        assert out[0]["status"].tolist() == ["timeout"]
        assert out[0]["otp"].isna().all()


from data_ingestion_experiment_otp_spark.streaming.transform_state import (  # noqa: E402
    transform_with_state_available,
)
import pytest  # noqa: E402


@pytest.mark.skipif(
    not transform_with_state_available(),
    reason="transformWithStateInPandas needs google.protobuf (PySpark TWS "
    "driver worker) — not shipped in this container; the "
    "applyInPandasWithState forms above are the tested path here",
)
class TestTransformWithState:
    """transformWithStateInPandas forms must reproduce the
    applyInPandasWithState results on identical input (same pure core)."""

    def test_state_machine_tws_matches_apply_form(self, spark, tmp_path):
        from data_ingestion_experiment_otp_spark.streaming import transform_state

        rows = [
            ("k1", "subprocess_created", 1),
            ("k1", "browser_ready", 2),
            ("k1", "waiting_for_otp", 3),
            ("k1", "otp_submitted", 4),
            ("k1", "success", 5),
            ("k2", "subprocess_created", 1),
            ("k2", "error", 2),
            ("k2", "browser_ready", 3),  # after terminal: absorbed
        ]
        schema = "key string, status string, seq long"
        path = _stage_stream(spark, tmp_path, rows, schema)
        stream = spark.readStream.schema(schema).parquet(path)
        out = transform_state.apply_state_machine_tws(stream)
        _drive(out, "sm_tws_out", checkpoint=str(tmp_path / "ckpt"))
        final = {
            r.key: (r.state, r.n_events)
            for r in spark.sql("SELECT key, state, n_events FROM sm_tws_out").collect()
        }
        assert final["k1"] == ("success", 5)
        assert final["k2"] == ("error", 3)

    def test_rendezvous_tws_match_and_park(self, spark, tmp_path):
        from data_ingestion_experiment_otp_spark.streaming import transform_state

        schema = "key string, kind string, payload string"
        ckpt = str(tmp_path / "ckpt")
        # otp first: parked, nothing emitted
        path = _stage_stream(spark, tmp_path, [("k", "otp", "9999")], schema)
        got: list[tuple] = []

        def run(until_for):
            stream = spark.readStream.schema(schema).parquet(path)
            q = (
                transform_state.apply_rendezvous_tws(stream)
                .writeStream.foreachBatch(
                    lambda df, bid: got.extend((r.status, r.otp) for r in df.collect())
                )
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            drive.drain(q, until=until_for(q))

        run(lambda q: lambda: drive.consumed_input(q))
        assert got == []
        # request arrives on a NEW query over the same checkpoint: the
        # parked signal must come back from RocksDB state and match
        _stage_stream(spark, tmp_path, [("k", "request", None)], schema)
        run(lambda q: lambda: ("matched", "9999") in got)
        assert ("matched", "9999") in set(got)

    def test_rendezvous_tws_real_timer_timeout(self, spark, tmp_path):
        from data_ingestion_experiment_otp_spark.streaming import transform_state

        schema = "key string, kind string, payload string"
        path = _stage_stream(spark, tmp_path, [("solo", "request", None)], schema)
        stream = spark.readStream.schema(schema).parquet(path)
        out = transform_state.apply_rendezvous_tws(stream, timeout_ms=1_500)
        got: list[tuple] = []
        q = (
            out.writeStream.foreachBatch(
                lambda df, bid: got.extend((r.key, r.status) for r in df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        drive.drain(q, until=lambda: ("solo", "timeout") in got, timeout=60)
        assert ("solo", "timeout") in got


class TestPartitionedHttpSink:
    def test_posts_every_row_from_executors(self, spark, tmp_path):
        """foreachPartition sink: every row is POSTed exactly once per
        epoch, with the client built executor-side by the factory. The
        recorder writes through a spill directory because executor-side
        appends to a driver list are invisible in a real deployment (and
        only coincidentally visible in local mode)."""
        import glob
        import json as _json
        import os
        import uuid

        from data_ingestion_experiment_otp_spark.streaming import sinks

        spool = str(tmp_path / "posted")
        os.makedirs(spool, exist_ok=True)

        def factory():
            path = os.path.join(spool, f"{uuid.uuid4().hex}.jsonl")
            f = open(path, "a")

            def post(key, body):
                f.write(_json.dumps({"key": key, "otp": body["otp"]}) + "\n")
                f.flush()

            return post

        sink = sinks.http_signal_sink_partitioned(factory)
        df = spark.createDataFrame(
            [("zepto_u1", "1234"), ("zepto_u2", "5678"), ("zepto_u3", "9012")],
            "signal_key string, otp string",
        ).repartition(3)
        sink(df, 11)
        posted = []
        for p in glob.glob(os.path.join(spool, "*.jsonl")):
            with open(p) as f:
                posted.extend((r["key"], r["otp"]) for r in map(_json.loads, f))
        assert sorted(posted) == [
            ("zepto_u1", "1234"), ("zepto_u2", "5678"), ("zepto_u3", "9012")
        ]


class TestContentDedupWithinWatermark:
    def test_drops_same_content_distinct_ids(self, spark, tmp_path):
        """Redelivered payloads get fresh event_ids (the reference's Pub/Sub
        redelivery shape), so id-dedup misses them; content dedup must keep
        exactly one row per distinct payload and the WithinWatermark state
        bound must not drop the later DISTINCT payload."""
        rows = [
            (1, 1_000_000_000_000, 1, "signup", 1.0, '{"k": "a"}'),
            (2, 1_000_060_000_000, 1, "signup", 1.0, '{"k": "a"}'),  # redelivery, new id
            (3, 1_000_120_000_000, 1, "signup", 1.0, '{"k": "b"}'),
        ]
        path = _stage_stream(spark, tmp_path, rows, EVENTS_NS_SCHEMA)
        stream = (
            spark.readStream.schema(EVENTS_NS_SCHEMA)
            .parquet(path)
            .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        )
        deduped = watermark.dedup_by_content(stream)
        _drive(deduped, "content_dedup_out", output_mode="append",
               checkpoint=str(tmp_path / "ckpt"))
        out = spark.sql("SELECT props FROM content_dedup_out").collect()
        assert sorted(r.props for r in out) == ['{"k": "a"}', '{"k": "b"}']


class TestStreamStreamJoin:
    def test_interval_join_matches_within_window_only(self, spark, tmp_path):
        """Stream-stream interval join: same-key otp within the interval
        matches; an otp outside the interval and a request with no otp
        produce nothing (inner join); join state is watermark-bounded."""
        t0 = 1_700_000_000
        req_rows = [("k1", t0 * 1_000_000), ("k2", t0 * 1_000_000)]
        otp_rows = [
            ("k1", "1234", (t0 + 120) * 1_000_000),     # within 10 min -> match
            ("k2", "9999", (t0 + 3_600) * 1_000_000),   # 1 h later -> no match
        ]
        rp = str(tmp_path / "req")
        op = str(tmp_path / "otp")
        spark.createDataFrame(req_rows, "key string, ts_us long").coalesce(1).write.parquet(rp)
        spark.createDataFrame(otp_rows, "key string, payload string, ts_us long").coalesce(
            1
        ).write.parquet(op)
        req = (
            spark.readStream.schema("key string, ts_us long")
            .parquet(rp)
            .withColumn("ts", F.expr("timestamp_micros(ts_us)"))
        )
        otp = (
            spark.readStream.schema("key string, payload string, ts_us long")
            .parquet(op)
            .withColumn("ts", F.expr("timestamp_micros(ts_us)"))
        )
        joined = watermark.stream_stream_rendezvous_join(req, otp)
        _drive(joined, "ssj_out", output_mode="append", checkpoint=str(tmp_path / "ckpt"))
        out = [(r.key, r.otp) for r in spark.sql("SELECT key, otp FROM ssj_out").collect()]
        assert out == [("k1", "1234")]


class TestCorpusIndexDedup:
    DOC_SCHEMA = "doc_id long, text string"

    @staticmethod
    def _accepted(spark, accepted_dir):
        import glob

        rows = []
        for d in sorted(glob.glob(os.path.join(accepted_dir, "batch_id=*"))):
            bid = int(d.rsplit("=", 1)[1])
            for r in spark.read.parquet(d).collect():
                rows.append((bid, r["doc_id"], r["text"]))
        return rows

    def test_cross_batch_content_screen_and_replay(self, spark, tmp_path):
        """Three micro-batches with cross-batch redelivered content (fresh
        doc_ids, same text — the re-crawl shape): only first-seen content
        is accepted; a replayed epoch (same batch_id) must be absorbed,
        not re-admit or double-index its rows."""
        import time

        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            corpus_dedup_sink,
        )

        in_dir = str(tmp_path / "docs_in")
        batches = [
            [(1, "alpha text"), (2, "beta text")],
            [(3, "alpha text"), (4, "gamma text")],  # 3 = redelivery of 1
            [(5, "beta text"), (6, "alpha text"), (7, "delta text")],
        ]
        for rows in batches:
            spark.createDataFrame(rows, self.DOC_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)
            time.sleep(0.05)  # distinct mtimes -> stable admission order

        index_dir = str(tmp_path / "index")
        accepted_dir = str(tmp_path / "accepted")
        sink = corpus_dedup_sink(index_dir, accepted_dir)
        q = (
            spark.readStream.schema(self.DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        drive.drain(q)

        got = self._accepted(spark, accepted_dir)
        assert [(d, t) for _, d, t in got] == [
            (1, "alpha text"), (2, "beta text"), (4, "gamma text"), (7, "delta text"),
        ], got

        # replay the last epoch verbatim: accepted set and index unchanged
        last_bid = max(b for b, _, _ in got)
        replay_df = spark.createDataFrame(batches[2], self.DOC_SCHEMA)
        sink(replay_df, last_bid)
        assert self._accepted(spark, accepted_dir) == got
        idx = spark.read.parquet(index_dir)
        assert idx.count() == idx.select("content_hash").distinct().count() == 4


class TestStreamingRollupSink:
    def test_stream_maintains_rollup_and_absorbs_replay(self, spark, sf_dir, tmp_path):
        """Four file-stream epochs maintain the daily rollup; the merged MV
        must equal a direct batch aggregate of the same fixture, and
        re-invoking an epoch's write (simulated replay) changes nothing."""
        from data_ingestion_experiment_otp_spark.operators.materialize import (
            read_rollup,
            rollup_sink,
        )
        from data_ingestion_experiment_otp_spark.sources.catalog import load

        events_dir = watermark.stage_events_dir(
            spark, sf_dir, str(tmp_path / "events_dir")
        )
        mv = str(tmp_path / "mv")
        q = (
            watermark.stream_events(spark, events_dir)
            .writeStream.foreachBatch(rollup_sink(mv))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        drive.drain(q)

        def snapshot():
            return sorted(map(tuple, read_rollup(spark, mv).collect()))

        got = snapshot()
        want = sorted(
            map(
                tuple,
                load(spark, sf_dir, "events")
                .groupBy(F.to_date("ts").alias("day"), "event_type")
                .agg(
                    F.count("*").alias("n_events"),
                    F.round(F.sum("value"), 2).alias("sum_value"),
                )
                .collect(),
            )
        )
        assert got == want
        # replay epoch 0: re-run its write with the same micro-batch. The
        # file source admits files in mtime order (stage_events_dir writes
        # slices sequentially), so epoch 0 is the oldest file, not the
        # alphabetically first.
        first_file = min(
            (f for f in os.listdir(events_dir) if f.endswith(".parquet")),
            key=lambda f: os.path.getmtime(os.path.join(events_dir, f)),
        )
        epoch0 = spark.read.parquet(os.path.join(events_dir, first_file))
        rollup_sink(mv)(epoch0, 0)
        assert snapshot() == got


class TestStreamingFunnel:
    def test_conversion_flag_updates_across_epochs(self, spark, tmp_path):
        """The funnel's conditional-min aggregation runs unchanged as a
        streaming update-mode query: after epoch 1 (signup only) the user
        is unconverted; once epoch 2 delivers the purchase, the updated
        per-user row must flip to converted. Same plan as the batch
        win_funnel_conversion — conditional mins are just aggregates to
        the engine."""
        from data_ingestion_experiment_otp_spark.operators.windows import (
            _FUNNEL_WINDOW_US,
        )

        t0 = 1_700_000_000_000_000  # us
        path = str(tmp_path / "funnel_in")
        schema = "user_id long, event_type string, us long"

        def stage(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(path)

        stage([(1, "signup", t0), (2, "signup", t0)])
        stream = spark.readStream.schema(schema).parquet(path)
        per_user = (
            stream.groupBy("user_id")
            .agg(
                F.min(F.when(F.col("event_type") == "signup", F.col("us"))).alias(
                    "signup_us"
                ),
                F.min(F.when(F.col("event_type") == "purchase", F.col("us"))).alias(
                    "purchase_us"
                ),
            )
            .select(
                "user_id",
                F.coalesce(
                    (F.col("purchase_us") > F.col("signup_us"))
                    & (
                        F.col("purchase_us") - F.col("signup_us")
                        <= _FUNNEL_WINDOW_US
                    ),
                    F.lit(False),
                ).alias("converted"),
            )
        )
        ckpt = str(tmp_path / "ckpt")
        _drive(per_user, "funnel_out", output_mode="complete", checkpoint=ckpt)
        got1 = {
            r.user_id: r.converted
            for r in spark.sql("SELECT * FROM funnel_out").collect()
        }
        assert got1 == {1: False, 2: False}

        stage([(1, "purchase", t0 + 3_600_000_000)])  # 1 h later: converts
        _drive(per_user, "funnel_out2", output_mode="complete", checkpoint=ckpt)
        got2 = {
            r.user_id: r.converted
            for r in spark.sql("SELECT * FROM funnel_out2").collect()
        }
        assert got2 == {1: True, 2: False}


class TestStreamStaticRefresh:
    def test_static_side_refreshes_on_query_restart(self, spark, tmp_path):
        """Operational contract of stream-static joins: the STATIC side's
        file listing is resolved when the query (plan) is built — an
        in-place overwrite under a RUNNING plan throws
        FAILED_READ_FILE.FILE_NOT_EXIST from the stale listing (verified
        while writing this test). The supported refresh path is a query
        restart (redeploy) from the same checkpoint: the restarted query
        must resume the stream cursor AND see the new dimension rows."""
        dim_path = str(tmp_path / "dim")
        in_path = str(tmp_path / "stream_in")
        spark.createDataFrame(
            [(1, "bronze")], "user_id long, tier string"
        ).coalesce(1).write.mode("overwrite").parquet(dim_path)
        spark.createDataFrame([(100, 1)], "event_id long, user_id long").coalesce(
            1
        ).write.mode("append").parquet(in_path)
        ckpt = str(tmp_path / "ckpt")

        got: list[tuple] = []

        def run():
            # plan rebuilt per run — the restart re-resolves the dim listing
            stream = spark.readStream.schema(
                "event_id long, user_id long"
            ).parquet(in_path)
            dim = spark.read.parquet(dim_path)
            joined = stream.join(dim, "user_id").select("event_id", "tier")
            q = (
                joined.writeStream.foreachBatch(
                    lambda df, bid: got.extend(map(tuple, df.collect()))
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            drive.drain(q)

        run()
        assert got == [(100, "bronze")], got
        got.clear()

        # dimension updated + a new event arrives; restarted query must
        # enrich ONLY the new event (checkpoint resume) with the NEW tier
        spark.createDataFrame(
            [(1, "gold")], "user_id long, tier string"
        ).coalesce(1).write.mode("overwrite").parquet(dim_path)
        spark.createDataFrame([(101, 1)], "event_id long, user_id long").coalesce(
            1
        ).write.mode("append").parquet(in_path)
        run()
        assert got == [(101, "gold")], got


class TestWatermarkStateBound:
    @pytest.mark.slow
    def test_dedup_state_evicted_below_input_volume(self, spark, tmp_path):
        """The claim behind every watermark in this package, asserted from
        the engine's own state-store metrics: dedup state is EVICTED as
        the watermark passes, so the retained row count stays a fraction
        of the events ingested — not one state row per event forever.
        Events arrive in time order across many epochs spanning days,
        with a 2-minute lateness bound."""
        n_epochs, per_epoch = 8, 50
        path = str(tmp_path / "in")
        day_us = 24 * 3_600_000_000_000  # ns per day
        for e in range(n_epochs):
            rows = [
                (e * per_epoch + i, e * day_us + i * 1_000_000_000, 1, "signup", 0.0, "{}")
                for i in range(per_epoch)
            ]
            _stage_stream(spark, tmp_path, rows, EVENTS_NS_SCHEMA, subdir="in")
            import time as _t

            _t.sleep(0.05)
        stream = (
            spark.readStream.schema(EVENTS_NS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
            .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        )
        deduped = watermark.dedup_by_id(stream)
        q = (
            deduped.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        drive.drain(q)
        progresses = [p for p in q.recentProgress if p.get("stateOperators")]
        assert progresses, "no state-operator progress captured"
        last_state = progresses[-1]["stateOperators"][0]
        total_in = n_epochs * per_epoch
        retained = last_state["numRowsTotal"]
        # each epoch is a day ahead of the last: by the final batch the
        # watermark has passed every earlier day, so all but ~the last
        # two epochs' rows must have been evicted from the dedup state.
        # (plain dropDuplicates on the id alone retains ALL 400 forever —
        # the bug this test exists to prevent)
        assert retained <= 2 * per_epoch, (retained, total_in)


class TestStreamStreamStateBound:
    @pytest.mark.slow
    def test_interval_join_state_plateaus(self, spark, tmp_path):
        """The interval join's state must PLATEAU (steady-state rows with
        per-batch removals) as day-spaced epochs stream through — not
        accumulate one row per event forever. Asserted from the engine's
        state-operator metrics, the same way the dedup bound is."""
        import time as _t

        rp, op = str(tmp_path / "req"), str(tmp_path / "otp")
        day_us = 24 * 3_600_000_000
        n_epochs, per_epoch = 6, 30
        for e in range(n_epochs):
            t = 1_700_000_000_000_000 + e * day_us
            spark.createDataFrame(
                [(f"k{e}_{i}", t + i * 1_000_000) for i in range(per_epoch)],
                "key string, ts_us long",
            ).coalesce(1).write.mode("append").parquet(rp)
            spark.createDataFrame(
                [
                    (f"k{e}_{i}", "1234", t + i * 1_000_000 + 60_000_000)
                    for i in range(per_epoch)
                ],
                "key string, payload string, ts_us long",
            ).coalesce(1).write.mode("append").parquet(op)
            _t.sleep(0.06)
        req = (
            spark.readStream.schema("key string, ts_us long")
            .option("maxFilesPerTrigger", 1)
            .parquet(rp)
            .withColumn("ts", F.expr("timestamp_micros(ts_us)"))
        )
        otp = (
            spark.readStream.schema("key string, payload string, ts_us long")
            .option("maxFilesPerTrigger", 1)
            .parquet(op)
            .withColumn("ts", F.expr("timestamp_micros(ts_us)"))
        )
        j = watermark.stream_stream_rendezvous_join(req, otp)
        q = (
            j.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        drive.drain(q)
        progresses = [p for p in q.recentProgress if p.get("stateOperators")]
        assert progresses
        total_in = 2 * n_epochs * per_epoch
        peak = max(p["stateOperators"][0]["numRowsTotal"] for p in progresses)
        removed = sum(
            p["stateOperators"][0].get("numRowsRemoved", 0) for p in progresses
        )
        # steady state: at most ~2 epochs of both sides live at once
        assert peak <= 4 * per_epoch, (peak, total_in)
        assert removed >= total_in - 4 * per_epoch, (removed, total_in)


class TestWindowAggStateBound:
    @pytest.mark.slow
    def test_windowed_counts_state_plateaus(self, spark, tmp_path):
        """Completes the bounded-state trilogy (dedup, interval join, and
        now windowed aggregation): closed windows must leave the state
        store as the watermark passes them, so day-spaced epochs hold
        only the open tail of windows — never every window ever seen."""
        import time as _t

        n_epochs, per_epoch = 8, 50
        path = str(tmp_path / "in")
        day_us = 24 * 3_600_000_000_000
        for e in range(n_epochs):
            rows = [
                (e * per_epoch + i, e * day_us + i * 60_000_000_000, 1, "signup", 0.0, "{}")
                for i in range(per_epoch)
            ]
            _stage_stream(spark, tmp_path, rows, EVENTS_NS_SCHEMA, subdir="in")
            _t.sleep(0.05)
        stream = (
            spark.readStream.schema(EVENTS_NS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
            .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        )
        agg = watermark.windowed_counts(stream)
        q = (
            agg.writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        drive.drain(q)
        progresses = [p for p in q.recentProgress if p.get("stateOperators")]
        assert progresses
        peak = max(p["stateOperators"][0]["numRowsTotal"] for p in progresses)
        removed = sum(
            p["stateOperators"][0].get("numRowsRemoved", 0) for p in progresses
        )
        # one epoch = 50 events at 1-min spacing = ~50 min = at most 6
        # ten-minute windows; live state may hold ~2 epochs of windows,
        # never the ~48 a no-eviction run would accumulate
        assert peak <= 2 * 6, (peak,)
        assert removed > 0, "no window state was ever evicted"


class TestStreamingCurationSink:
    MM_SCHEMA = (
        "doc_id long, source string, n_chars long, text string, embedding array<float>"
    )

    @staticmethod
    def _doc(i, source, text, vec):
        return (i, source, len(text), text, vec)

    def test_curation_funnel_and_replay(self, spark, tmp_path):
        """Three micro-batches run the repetition + calibrated-quality +
        cluster-assignment funnel; the curated corpus must equal the batch
        capstone's logic applied per epoch, land cluster-partitioned, and
        absorb an epoch replay byte-for-byte."""
        import time

        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.curation import (
            curation_sink,
            read_curated,
        )

        good = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
        spammy = "spam " * 40 + "spam"
        vec_a = [1.0] + [0.0] * 63
        vec_b = [0.0, 1.0] + [0.0] * 62
        batches = [
            [
                self._doc(1, "web", good, vec_a),
                self._doc(2, "web", spammy, vec_a),  # repetition-dropped
            ],
            [
                self._doc(3, "forum", good + " extra words here", vec_b),
                # stopword-heavy -> quality ~0.33, under forum's 0.6 floor
                self._doc(4, "forum", "the a of and in to", vec_b),
            ],
            [
                self._doc(5, "web", good + " more distinct tokens now", vec_b),
            ],
        ]
        in_dir = str(tmp_path / "mm_in")
        for rows in batches:
            spark.createDataFrame(rows, self.MM_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)
            time.sleep(0.05)

        cents = (
            spark.createDataFrame(
                [(0, vec_a), (1, vec_b)], "vec_id long, embedding array<float>"
            )
            .orderBy("vec_id")
            .collect()
        )
        curated = str(tmp_path / "curated")
        sink = curation_sink(curated, cents, {"web": 0.5, "forum": 0.6, "*": 0.7})
        q = (
            spark.readStream.schema(self.MM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        drive.drain(q)

        got = {
            r["doc_id"]: (r["cluster_id"], r["source"])
            for r in read_curated(spark, curated).collect()
        }
        # 2 drops on repetition, 4 drops on forum quality floor only if
        # its quality < 0.6 — doc 3/5 are long distinct-word docs, kept
        assert set(got) == {1, 3, 5}, got
        assert got[1][0] == 0  # vec_a -> centroid 0
        assert got[3][0] == 1 and got[5][0] == 1  # vec_b -> centroid 1

        # replay the last epoch verbatim: curated corpus unchanged
        before = sorted(
            map(tuple, read_curated(spark, curated).drop("batch_id").collect())
        )
        last_bid = max(
            r["batch_id"] for r in read_curated(spark, curated).select("batch_id").collect()
        )
        sink(spark.createDataFrame(batches[2], self.MM_SCHEMA), last_bid)
        after = sorted(
            map(tuple, read_curated(spark, curated).drop("batch_id").collect())
        )
        assert after == before

        # semantic layout: cluster_id partition dirs exist under each epoch
        import os as _os

        epoch_dir = _os.path.join(curated, f"batch_id={last_bid}")
        assert any(e.startswith("cluster_id=") for e in _os.listdir(epoch_dir))


class TestStreamingVectorIndex:
    VEC_SCHEMA = "vec_id long, embedding array<float>"

    @pytest.mark.slow
    def test_incremental_index_finds_planted_neighbors_and_absorbs_replay(
        self, spark, sf_dir, tmp_path
    ):
        """Three epochs of vectors stream into the LSH bucket index; a
        query whose planted near-duplicate (cosine ~0.995) arrived in a
        LATER epoch must surface it as the top hit (no rebuild), reported
        cosines must equal brute force, and replaying the last epoch must
        change neither the index nor any query result."""
        import time

        import numpy as np

        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.vector_index import (
            ann_query_index,
            index_stats,
            vector_index_sink,
        )

        rng = np.random.default_rng(11)
        base = rng.standard_normal((30, 64))
        qvec = base[0] / np.linalg.norm(base[0])
        planted = qvec + 0.05 * rng.standard_normal(64)  # cosine ~0.995

        def rows(ids, mat):
            return [(int(i), [float(x) for x in v]) for i, v in zip(ids, mat)]

        batches = [
            rows(range(100, 110), base[:10]),
            rows(range(110, 120), base[10:20]),
            rows([999], [planted]) + rows(range(120, 129), base[20:29]),
        ]
        in_dir = str(tmp_path / "vec_in")
        for b in batches:
            spark.createDataFrame(b, self.VEC_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)
            time.sleep(0.05)

        index_dir = str(tmp_path / "vindex")
        sink = vector_index_sink(index_dir)
        q = (
            spark.readStream.schema(self.VEC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        drive.drain(q)

        queries = spark.createDataFrame(
            [(100, [float(x) for x in base[0]])], "query_id long, embedding array<float>"
        )
        source = spark.read.parquet(in_dir)  # the full-precision corpus
        got = ann_query_index(spark, index_dir, queries, k=3, source=source).collect()
        assert got, "index query returned nothing"
        top = got[0]
        assert top["vec_id"] == 999, got  # the later-epoch planted near-dup
        # index-only path (no source): int8 pre-rank still surfaces the
        # planted near-dup first, cosine within quantization error
        approx = ann_query_index(spark, index_dir, queries, k=3).collect()
        assert approx[0]["vec_id"] == 999, approx
        assert abs(approx[0]["cosine"] - top["cosine"]) < 2e-2
        # reported cosine is exact: compare against numpy brute force
        a = base[0] / np.linalg.norm(base[0])
        b = np.asarray(planted) / np.linalg.norm(planted)
        # the index stores float32-truncated vectors; recompute through
        # the same float32 round-trip before comparing
        a32 = np.asarray([float(np.float32(x)) for x in base[0]])
        b32 = np.asarray([float(np.float32(x)) for x in planted])
        expect = float(a32 @ b32 / (np.linalg.norm(a32) * np.linalg.norm(b32)))
        assert abs(top["cosine"] - round(expect, 6)) < 2e-6

        stats = index_stats(spark, index_dir)
        assert stats["epochs"] == 3

        # replay: re-invoke the sink for the final epoch; nothing changes
        sink(spark.createDataFrame(batches[2], self.VEC_SCHEMA), 2)
        assert index_stats(spark, index_dir) == stats
        again = ann_query_index(spark, index_dir, queries, k=3, source=source).collect()
        assert sorted(map(tuple, again)) == sorted(map(tuple, got))

    def test_index_payload_beats_legacy_layout_4x(self, spark, tmp_path):
        """The id-only-postings + vectors-elsewhere layout must cost at
        most 1/4 of the legacy layout that stored the raw float64 payload
        once per (table, bucket) posting row — the VERDICT r3 scale flag.
        Both layouts are written from the same 200-vector batch and
        compared by on-disk parquet bytes. 2000 vectors, so data — not the
        per-file parquet footer — is what's being measured."""
        import numpy as np

        from data_ingestion_experiment_otp_spark.operators.similarity import (
            _LSH_BITS,
            _LSH_TABLES,
            bucket_udf,
        )
        from data_ingestion_experiment_otp_spark.streaming.vector_index import (
            index_bytes,
            vector_index_sink,
        )

        rng = np.random.default_rng(5)
        mat = rng.standard_normal((2000, 64))
        batch = spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in enumerate(mat)], self.VEC_SCHEMA
        )

        new_dir = str(tmp_path / "new_idx")
        vector_index_sink(new_dir)(batch, 0)

        legacy_dir = str(tmp_path / "legacy_idx")
        vec = batch.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        (
            vec.select(
                "vec_id",
                "v",
                F.posexplode(bucket_udf(_LSH_TABLES, _LSH_BITS)("v")).alias("tbl", "bucket"),
            )
            .select("vec_id", "tbl", "bucket", "v", F.lit(0).alias("src_batch"))
            .write.mode("overwrite")
            .partitionBy("src_batch")
            .parquet(legacy_dir)
        )

        new_bytes, legacy_bytes = index_bytes(new_dir), index_bytes(legacy_dir)
        assert new_bytes > 0 and legacy_bytes > 0
        assert new_bytes <= legacy_bytes / 4, (
            f"index layout regressed: {new_bytes}B vs legacy {legacy_bytes}B"
        )

    def test_query_scan_is_partition_pruned(self, spark, tmp_path, spark_path):
        """A 1-query probe must reach the posting files through a STATIC
        partition filter on the bucket-range key (pkey) — reading every
        epoch x table for each query was the VERDICT r3 scale flag. Pinned
        two ways: the scan's PartitionFilters mention pkey, and the
        pruned-to set is a strict subset of the pkey partitions on disk
        (a 1-query probe hashes into at most one pkey per LSH table).
        Pinned on the Spark path (a slice this small is otherwise served
        on the driver, with no scan at all)."""
        import numpy as np

        from data_ingestion_experiment_otp_spark.streaming.vector_index import (
            ann_query_index,
            vector_index_sink,
        )

        rng = np.random.default_rng(7)
        mat = rng.standard_normal((120, 64))
        sink = vector_index_sink(str(tmp_path / "vidx"))
        half = [(int(i), [float(x) for x in v]) for i, v in enumerate(mat)]
        sink(spark.createDataFrame(half[:60], self.VEC_SCHEMA), 0)
        sink(spark.createDataFrame(half[60:], self.VEC_SCHEMA), 1)

        queries = spark.createDataFrame(
            [(0, [float(x) for x in mat[0]])], "query_id long, embedding array<float>"
        )
        with spark_path():
            out = ann_query_index(spark, str(tmp_path / "vidx"), queries, k=3)
            plan = out._jdf.queryExecution().executedPlan().toString()
        scan_lines = [
            ln for ln in plan.splitlines() if "PartitionFilters" in ln and "pkey" in ln
        ]
        assert any(
            "pkey" in ln.split("PartitionFilters", 1)[1] for ln in scan_lines
        ), f"posting scan is not partition-pruned:\n{plan}"

        import re

        on_disk = set()
        for root, dirs, _files in os.walk(str(tmp_path / "vidx" / "buckets")):
            on_disk.update(d for d in dirs if d.startswith("pkey="))
        in_lists = re.findall(r"pkey#\d+ IN \(([^)]*)\)", plan)
        assert in_lists, f"no pkey IN-list in plan:\n{plan}"
        pruned_to = {int(x) for x in in_lists[0].split(",")}
        # one query explodes to _LSH_TABLES=8 buckets -> at most 8 pkeys,
        # while 120 random vectors populate far more ranges on disk
        assert len(pruned_to) <= 8 < len(on_disk), (pruned_to, len(on_disk))

    def test_reingested_vector_resolves_to_latest_epoch(self, spark, tmp_path):
        """A vec_id re-ingested with a CHANGED embedding in a later epoch
        must score against the fresh payload, not an arbitrary epoch's
        (ADVICE r3). The stale embedding points AWAY from the query
        (cosine ~ -1) and the fresh one toward it (~ +0.99), so even the
        int8 index-only path separates them unambiguously."""
        import numpy as np

        from data_ingestion_experiment_otp_spark.streaming.vector_index import (
            ann_query_index,
            vector_index_sink,
        )

        rng = np.random.default_rng(13)
        qv = rng.standard_normal(64)
        stale = -qv + 0.01 * rng.standard_normal(64)  # cosine ~ -1 vs query
        fresh = qv + 0.05 * rng.standard_normal(64)  # cosine ~ +0.99 vs query
        filler = [(int(i), [float(x) for x in v]) for i, v in enumerate(rng.standard_normal((20, 64)))]

        sink = vector_index_sink(str(tmp_path / "vidx"))
        sink(
            spark.createDataFrame(
                filler[:10] + [(777, [float(x) for x in stale])], self.VEC_SCHEMA
            ),
            0,
        )
        sink(
            spark.createDataFrame(
                filler[10:] + [(777, [float(x) for x in fresh])], self.VEC_SCHEMA
            ),
            1,
        )

        queries = spark.createDataFrame(
            [(1, [float(x) for x in qv])], "query_id long, embedding array<float>"
        )
        got = {
            r["vec_id"]: r["cosine"]
            for r in ann_query_index(spark, str(tmp_path / "vidx"), queries, k=20).collect()
        }
        assert 777 in got, got
        q32 = np.asarray([float(np.float32(x)) for x in qv])
        f32 = np.asarray([float(np.float32(x)) for x in fresh])
        expect = float(q32 @ f32 / (np.linalg.norm(q32) * np.linalg.norm(f32)))
        # int8 pre-rank score: within quantization error of the FRESH
        # cosine (+0.99), nowhere near the stale one (-1)
        assert abs(got[777] - expect) < 2e-2, (got[777], expect)
        assert got[777] > 0.9


class TestStreamingCorpusPipeline:
    SCHEMA = (
        "doc_id long, source string, n_chars long, text string, embedding array<float>"
    )

    @staticmethod
    def _doc(i, source, text, vec):
        return (i, source, len(text), text, vec)

    @pytest.mark.slow
    def test_dedup_curate_index_compose_and_absorb_replay(self, spark, tmp_path):
        """The composed ingestion path (corpus_pipeline.py): a re-crawled
        duplicate must be invisible to BOTH the curated mixture and the
        vector index; a repetitive doc is admitted (unique content) and
        indexed but curation-dropped; a later-epoch vector is searchable;
        and replaying the final epoch changes none of the three stores."""
        import time

        import numpy as np

        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_ingest_epoch,
            start_corpus_ingest,
        )
        from data_ingestion_experiment_otp_spark.streaming.curation import read_curated
        from data_ingestion_experiment_otp_spark.streaming.vector_index import (
            ann_query_index,
            index_stats,
        )

        rng = np.random.default_rng(23)
        vec_a = [1.0] + [0.0] * 63
        vec_b = [0.0, 1.0] + [0.0] * 62
        qv = rng.standard_normal(64)
        vec_d = [float(x) for x in (qv + 0.05 * rng.standard_normal(64))]
        good = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
        spammy = "spam " * 40 + "spam"
        batches = [
            [
                self._doc(1, "web", good, vec_a),
                self._doc(2, "web", spammy, vec_b),  # unique but repetitive
            ],
            [
                # doc 3 re-crawls doc 1's exact text: dedup-screened, so
                # its vector must never reach the index
                self._doc(3, "web", good, [float(x) for x in rng.standard_normal(64)]),
                self._doc(4, "forum", good + " extra tokens here", vec_d),
            ],
        ]
        in_dir = str(tmp_path / "feed")
        for rows in batches:
            spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)
            time.sleep(0.05)

        cents = (
            spark.createDataFrame(
                [(0, vec_a), (1, vec_b)], "vec_id long, embedding array<float>"
            )
            .orderBy("vec_id")
            .collect()
        )
        work = str(tmp_path / "work")
        q = start_corpus_ingest(
            spark, in_dir, work, cents, {"*": 0.0}, str(tmp_path / "ckpt")
        )
        drive.drain(q)

        dirs = corpus_ingest_dirs(work)
        accepted = spark.read.option("basePath", dirs["accepted"]).parquet(
            dirs["accepted"]
        )
        assert {r["doc_id"] for r in accepted.collect()} == {1, 2, 4}

        curated = {r["doc_id"] for r in read_curated(spark, dirs["curated"]).collect()}
        assert curated == {1, 4}  # 2 repetition-dropped, 3 dedup-screened

        stats = index_stats(spark, dirs["vector_index"])
        assert stats["vec_rows"] == 3  # docs 1, 2, 4 — never doc 3

        queries = spark.createDataFrame(
            [(100, [float(x) for x in qv])], "query_id long, embedding array<float>"
        )
        source = accepted.select(F.col("doc_id").alias("vec_id"), "embedding")
        got = ann_query_index(
            spark, dirs["vector_index"], queries, k=2, source=source
        ).collect()
        assert got and got[0]["vec_id"] == 4, got  # the later-epoch near-dup

        # the text index covers the same deduped corpus: a term unique to
        # the later-epoch doc 4 finds it (searchable without rebuild), and
        # the shared-text term ranks doc 3 nowhere (dedup-screened before
        # indexing) while the repetitive-but-unique doc 2 IS findable
        from data_ingestion_experiment_otp_spark.streaming.text_index import (
            bm25_query_index,
        )
        from data_ingestion_experiment_otp_spark.streaming.text_index import (
            index_stats as text_stats,
        )

        hits = bm25_query_index(
            spark, dirs["text_index"], [(0, "extra"), (1, "alpha"), (2, "spam")]
        ).collect()
        by_q = {}
        for r in hits:
            by_q.setdefault(r.query_id, []).append(r.doc_id)
        assert by_q[0] == [4]
        assert set(by_q[1]) == {1, 4} and 3 not in by_q[1]
        assert by_q[2] == [2]
        tstats = text_stats(spark, dirs["text_index"])
        assert tstats["docs"] == 3  # docs 1, 2, 4 — never doc 3

        # replay the final epoch verbatim through the same epoch function:
        # all stores must be unchanged
        before = (
            sorted(map(tuple, accepted.collect())),
            sorted(curated),
            stats,
            sorted(map(tuple, got)),
            tstats,
            sorted(map(tuple, hits)),
        )
        epoch = corpus_ingest_epoch(work, cents, {"*": 0.0})
        epoch(spark.createDataFrame(batches[1], self.SCHEMA), 1)
        accepted2 = spark.read.option("basePath", dirs["accepted"]).parquet(
            dirs["accepted"]
        )
        after = (
            sorted(map(tuple, accepted2.collect())),
            sorted(
                r["doc_id"] for r in read_curated(spark, dirs["curated"]).collect()
            ),
            index_stats(spark, dirs["vector_index"]),
            sorted(
                map(
                    tuple,
                    ann_query_index(
                        spark, dirs["vector_index"], queries, k=2,
                        source=accepted2.select(
                            F.col("doc_id").alias("vec_id"), "embedding"
                        ),
                    ).collect(),
                )
            ),
            text_stats(spark, dirs["text_index"]),
            sorted(
                map(
                    tuple,
                    bm25_query_index(
                        spark,
                        dirs["text_index"],
                        [(0, "extra"), (1, "alpha"), (2, "spam")],
                    ).collect(),
                )
            ),
        )
        assert after == before

    def test_near_and_span_epochs_replay_to_identical_stores(self, spark, tmp_path):
        """Default-tier compose + replay: two epochs through the exact,
        near-dup and span screens (no trained artifacts), then a verbatim
        replay of the second epoch. Every store in corpus_ingest_dirs
        holds, leaf partition by leaf partition, the rows it held after
        the first run; the epoch-1 near-dup and span are caught."""
        import pyarrow.parquet as pq
        from pyspark.sql import Row

        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_ingest_epoch,
        )

        def vec(i):
            return [float((i * 7 + j) % 11) - 5.0 for j in range(64)]

        words = [f"w{i}" for i in range(400)]
        base = " ".join(words[:30])
        span = "the quick brown fox jumps over the lazy dog again"
        batches = [
            [
                self._doc(1, "web", base, vec(1)),
                self._doc(2, "web", " ".join(words[40:70]) + " " + span, vec(2)),
                self._doc(3, "forum", " ".join(words[80:110]), vec(3)),
            ],
            [
                self._doc(4, "web", base.replace("w5 ", "x5 "), vec(4)),  # near-dup of 1
                self._doc(5, "web", span + " " + " ".join(words[120:150]), vec(5)),
                self._doc(6, "web", base, vec(6)),  # exact redelivery of 1
                self._doc(7, "forum", " ".join(words[160:190]), vec(7)),
            ],
        ]
        cents = [Row(vec_id=0, embedding=vec(0)), Row(vec_id=1, embedding=vec(9))]
        work = str(tmp_path / "work")
        dirs = corpus_ingest_dirs(work)
        params = dict(span_screen=True, near_dedup=True)

        def snapshot():
            out = {}
            for key, root in sorted(dirs.items()):
                for d, _, files in os.walk(root):
                    parts = sorted(f for f in files if f.endswith(".parquet"))
                    if parts or "_SUCCESS" in files:
                        rows = [
                            repr(r)
                            for f in parts
                            for r in pq.read_table(os.path.join(d, f)).to_pylist()
                        ]
                        out[(key, os.path.relpath(d, root))] = sorted(rows)
            return out

        epoch = corpus_ingest_epoch(work, cents, {"*": 0.0}, **params)
        for b, rows in enumerate(batches):
            epoch(spark.createDataFrame(rows, self.SCHEMA), b)
        epoch.close()
        before = snapshot()

        near = pq.read_table(os.path.join(dirs["near_audit"], "batch_id=1")).to_pylist()
        assert [(r["doc_id"], r["dup_of"]) for r in near] == [(4, 1)]
        spans = {
            r["doc_id"]: r["dup_tokens"]
            for r in pq.read_table(os.path.join(dirs["span_audit"], "batch_id=1")).to_pylist()
        }
        assert spans[5] >= len(span.split()) and spans[7] == 0, spans

        replay = corpus_ingest_epoch(work, cents, {"*": 0.0}, **params)
        replay(spark.createDataFrame(batches[1], self.SCHEMA), 1)
        replay.close()
        after = snapshot()
        assert after.keys() == before.keys()
        for part in before:
            assert after[part] == before[part], part

    # Spark jobs per stage label of one fixture epoch on a fresh store
    # (domain blocklist, exact, near, and the tail with spans). Each
    # entry is a budget: a change may lower a count but never raise it.
    EPOCH_JOB_BUDGET = {
        "dom": 5,
        "screen": 3,
        "near": 15,
        "curate": 2,
        "vindex": 3,
        "tindex": 4,
        "spans": 7,
    }

    def test_epoch_job_budget_per_stage(self, spark, tmp_path):
        """One epoch's jobs, read from the status store by the
        "epoch <b>: <stage>" description each stage sets, stay within
        EPOCH_JOB_BUDGET per stage, and no job of the epoch is
        unlabeled. The domain, exact and near stages each admit and
        reject something."""
        import pyarrow.parquet as pq
        from pyspark.sql import Row

        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_ingest_epoch,
        )

        def vec(i):
            return [float((i * 7 + j) % 11) - 5.0 for j in range(64)]

        words = [f"w{i}" for i in range(400)]
        base = " ".join(words[:30])
        rows = [
            self._doc(1, "web", base, vec(1)),
            self._doc(2, "web", " ".join(words[40:70]), vec(2)),
            self._doc(3, "forum", " ".join(words[80:110]), vec(3)),  # blocked
            self._doc(4, "web", base.replace("w5 ", "x5 "), vec(4)),  # near-dup of 1
            self._doc(5, "web", base, vec(5)),  # exact duplicate of 1
            self._doc(6, "forum", " ".join(words[160:190]) + " " + base[:40], vec(6)),
        ]
        work = str(tmp_path / "work")
        dirs = corpus_ingest_dirs(work)
        epoch = corpus_ingest_epoch(
            work,
            [Row(vec_id=0, embedding=vec(0)), Row(vec_id=1, embedding=vec(9))],
            {"*": 0.0},
            span_screen=True,
            near_dedup=True,
            domain_blocklist=["d3.example.org"],
        )
        batch = spark.createDataFrame(rows, self.SCHEMA)
        batch.count()
        store = spark.sparkContext._jsc.sc().statusStore()
        bus = spark.sparkContext._jsc.sc().listenerBus()

        def last_job_id():
            bus.waitUntilEmpty()
            jobs = store.jobsList(None)
            if jobs.size() == 0:
                return -1
            return max(jobs.head().jobId(), jobs.last().jobId())

        first = last_job_id() + 1
        epoch(batch, 0)
        epoch.close()
        per_stage: dict[str, int] = {}
        for j in range(first, last_job_id() + 1):
            desc = store.job(j).description()
            label = desc.get().split("epoch 0: ")[-1] if desc.isDefined() else None
            per_stage[label] = per_stage.get(label, 0) + 1
        assert set(per_stage) == set(self.EPOCH_JOB_BUDGET), per_stage
        over = {
            k: (n, self.EPOCH_JOB_BUDGET[k])
            for k, n in per_stage.items()
            if n > self.EPOCH_JOB_BUDGET[k]
        }
        assert not over, (over, per_stage)

        def ids(key):
            path = os.path.join(dirs[key], "batch_id=0")
            return sorted(pq.read_table(path, columns=["doc_id"])["doc_id"].to_pylist())

        assert ids("dom_audit") == [3]
        kept = ids("accepted")  # one of the exact duplicates 1 and 5
        assert len(kept) == 4 and {2, 4, 6} < set(kept), kept
        # the near screen rejects the higher id of the near-duplicate pair
        near_dup = max(set(kept) - {2, 6})
        assert ids("near_audit") == [near_dup]
        assert ids("near_accepted") == sorted(set(kept) - {near_dup})


class TestVectorIndexCompaction:
    VEC_SCHEMA = "vec_id long, embedding array<float>"

    @pytest.mark.slow
    def test_compacted_generation_identical_answers_and_stale_geometry_dropped(
        self, spark, tmp_path
    ):
        """compact_vector_index: on a no-reingest corpus, query answers are
        byte-identical with strictly fewer files; a re-ingested vector's
        stale-geometry bucket rows and stale payloads leave the compacted
        index (one payload row per vec_id, buckets only from live epochs)."""
        import glob

        import numpy as np

        from data_ingestion_experiment_otp_spark.streaming.vector_index import (
            ann_query_index,
            compact_vector_index,
            index_stats,
            vector_index_sink,
        )

        rng = np.random.default_rng(31)
        mat = rng.standard_normal((40, 64))
        rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(mat)]
        idx = str(tmp_path / "vidx")
        sink = vector_index_sink(idx)
        sink(spark.createDataFrame(rows[:20], self.VEC_SCHEMA), 0)
        sink(spark.createDataFrame(rows[20:], self.VEC_SCHEMA), 1)
        # epoch 2 re-ingests vec 5 with a CHANGED embedding
        fresh5 = [float(x) for x in rng.standard_normal(64)]
        sink(spark.createDataFrame([(5, fresh5)], self.VEC_SCHEMA), 2)

        queries = spark.createDataFrame(
            [(100, [float(x) for x in mat[7]])], "query_id long, embedding array<float>"
        )
        before = sorted(
            map(tuple, ann_query_index(spark, idx, queries, k=5).collect())
        )

        out = str(tmp_path / "vidx_gen2")
        compact_vector_index(spark, idx, out)
        after = sorted(
            map(tuple, ann_query_index(spark, out, queries, k=5).collect())
        )
        # vec 7's neighborhood does not involve the re-ingested vec 5's
        # stale geometry in this draw, so answers must be identical; if a
        # draw ever made them differ, only the stale-geometry candidate
        # may explain it — assert equality as the strong form
        assert after == before

        stats = index_stats(spark, out)
        assert stats["vec_rows"] == 40  # one payload per vec_id, not 41
        assert stats["epochs"] == 1
        # stale epoch-0 bucket rows for vec 5 are gone: per-vec bucket
        # rows are exactly _LSH_TABLES for every vec
        import os as _os

        from data_ingestion_experiment_otp_spark.operators.similarity import (
            _LSH_TABLES,
        )

        buckets = spark.read.parquet(_os.path.join(out, "buckets"))
        per_vec = buckets.groupBy("vec_id").count().collect()
        assert all(r["count"] == _LSH_TABLES for r in per_vec), per_vec[:5]
        files_before = glob.glob(f"{idx}/buckets/src_batch=*/pkey=*/*.parquet")
        files_after = glob.glob(f"{out}/buckets/src_batch=*/pkey=*/*.parquet")
        assert len(files_after) < len(files_before)


class TestSpanScreenSink:
    """streaming/corpus_index.py::span_screen_sink — duplicated-substring
    screening against the persistent gram-count index (the streaming form
    of llm_incremental_dup_spans)."""

    DOC_SCHEMA = "doc_id long, text string"
    SPAN8 = "s1 s2 s3 s4 s5 s6 s7 s8"

    @staticmethod
    def _audit(spark, audit_dir):
        import glob

        out = {}
        for d in sorted(glob.glob(os.path.join(audit_dir, "batch_id=*"))):
            bid = int(d.rsplit("=", 1)[1])
            out[bid] = {
                r["doc_id"]: (r["dup_tokens"], r["kept_text"])
                for r in spark.read.parquet(d).collect()
            }
        return out

    def test_cross_epoch_coverage_and_replay(self, spark, tmp_path):
        """An epoch-2 doc repeating an epoch-1 span is covered via the
        index (ingest-time semantics: the epoch-1 FIRST occurrence stays
        uncovered — retroactive coverage is the batch operator's job);
        same-epoch repeats cover each other; a replayed epoch rewrites
        byte-identical audit rows and does not double-count its own
        grams."""
        import time

        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            span_screen_sink,
        )

        in_dir = str(tmp_path / "docs_in")
        batches = [
            [(1, f"a1 a2 {self.SPAN8} a3"), (2, "u1 u2 u3 u4 u5 u6 u7")],
            [(3, f"b1 {self.SPAN8} b2"), (4, "v1 v2 v3 v4 v5 v6")],
            [(5, f"w1 {self.SPAN8} w2"), (6, f"x1 x2 {self.SPAN8}")],
        ]
        for rows in batches:
            spark.createDataFrame(rows, self.DOC_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)
            time.sleep(0.05)

        gram_dir = str(tmp_path / "gram_index")
        audit_dir = str(tmp_path / "span_audit")
        sink = span_screen_sink(gram_dir, audit_dir)
        q = (
            spark.readStream.schema(self.DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        drive.drain(q)

        audit = self._audit(spark, audit_dir)
        bids = sorted(audit)
        assert len(bids) == 3
        e1, e2, e3 = (audit[b] for b in bids)
        # epoch 1: first occurrence, nothing covered yet
        assert e1[1] == (0, f"a1 a2 {self.SPAN8} a3")
        assert e1[2][0] == 0
        # epoch 2: the span is in the index now -> covered and cut
        assert e2[3] == (8, "b1 b2")
        assert e2[4][0] == 0
        # epoch 3: both docs repeat the span (index AND each other)
        assert e3[5] == (8, "w1 w2") and e3[6] == (8, "x1 x2")

        # replay epoch 2 verbatim: audit rows identical, index counts too
        idx_before = sorted(
            tuple(r) for r in spark.read.parquet(gram_dir).collect()
        )
        sink(spark.createDataFrame(batches[1], self.DOC_SCHEMA), bids[1])
        assert self._audit(spark, audit_dir)[bids[1]] == e2
        idx_after = sorted(
            tuple(r) for r in spark.read.parquet(gram_dir).collect()
        )
        assert idx_after == idx_before


    @pytest.mark.slow
    def test_compaction_collapses_files_and_preserves_screening(
        self, spark, tmp_path
    ):
        """compact_span_index (r8): folding the epoch stack into one
        src_batch=0 generation (1) collapses the file count, (2) leaves
        the per-gram SUM byte-identical, and (3) screening the NEXT epoch
        against the compacted generation produces byte-identical audit
        rows to screening against the epoch stack — the sink only ever
        consumes the combined count."""
        import glob
        import shutil

        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            compact_span_index,
            span_screen_sink,
        )

        batches = [
            [(1, f"a1 a2 {self.SPAN8} a3"), (2, "u1 u2 u3 u4 u5 u6 u7")],
            [(3, f"b1 {self.SPAN8} b2"), (4, "v1 v2 v3 v4 v5 v6")],
            [(5, f"w1 {self.SPAN8} w2"), (6, "x1 x2 y1 y2 z1 z2")],
        ]
        probe = [(7, f"p1 {self.SPAN8} p2"), (8, "v1 v2 v3 v4 v5 q6")]

        # path A: epoch stack, then screen the probe epoch
        gram_a = str(tmp_path / "gram_a")
        audit_a = str(tmp_path / "audit_a")
        sink_a = span_screen_sink(gram_a, audit_a)
        for b, rows in enumerate(batches):
            sink_a(spark.createDataFrame(rows, self.DOC_SCHEMA), b)
        sink_a(spark.createDataFrame(probe, self.DOC_SCHEMA), 3)

        # path B: same epochs, compact 0-2 into a fresh generation, swap
        # it into place, then screen the identical probe epoch
        gram_b = str(tmp_path / "gram_b")
        audit_b = str(tmp_path / "audit_b")
        sink_b = span_screen_sink(gram_b, audit_b)
        for b, rows in enumerate(batches):
            sink_b(spark.createDataFrame(rows, self.DOC_SCHEMA), b)

        files_before = glob.glob(f"{gram_b}/src_batch=*/*.parquet")
        sums_before = sorted(
            tuple(r)
            for r in spark.read.parquet(gram_b)
            .groupBy("g")
            .sum("n")
            .collect()
        )
        gen2 = str(tmp_path / "gram_b_gen2")
        compact_span_index(spark, gram_b, gen2)
        shutil.rmtree(gram_b)
        os.rename(gen2, gram_b)

        files_after = glob.glob(f"{gram_b}/src_batch=*/*.parquet")
        assert len(files_after) < len(files_before)
        assert {os.path.basename(os.path.dirname(f)) for f in files_after} == {
            "src_batch=0"
        }
        assert os.path.isfile(os.path.join(gram_b, "_COMPACTED"))
        sums_after = sorted(
            tuple(r)
            for r in spark.read.parquet(gram_b)
            .groupBy("g")
            .sum("n")
            .collect()
        )
        assert sums_after == sums_before

        sink_b(spark.createDataFrame(probe, self.DOC_SCHEMA), 3)
        rows_a = sorted(
            tuple(r)
            for r in spark.read.parquet(os.path.join(audit_a, "batch_id=3")).collect()
        )
        rows_b = sorted(
            tuple(r)
            for r in spark.read.parquet(os.path.join(audit_b, "batch_id=3")).collect()
        )
        assert rows_a == rows_b and rows_a


class TestSpanIndexFoldReplay:
    """r12: epoch replay composes with span-index compaction via the
    `adm` provenance column (VERDICT r11 next-round #8 — previously a
    docstring caveat). The discriminating hazard: after a fold,
    everything sits at src_batch=0 < any batch_id, so without `adm` a
    replayed epoch would count its OWN folded grams (and later epochs')
    as prior — a unique doc would read as span-covered."""

    DOC_SCHEMA = "doc_id long, text string"
    SPAN8 = TestSpanScreenSink.SPAN8

    def test_replay_of_folded_epoch_byte_identical(self, spark, tmp_path):
        import shutil

        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            compact_span_index,
            span_screen_sink,
        )

        epochs = [
            [(1, f"a1 a2 {self.SPAN8} a3"), (2, "u1 u2 u3 u4 u5 u6 u7")],
            # doc 3 repeats the epoch-0 span (covered); doc 4 is unique —
            # its grams exist ONLY in epoch 1's own contribution, the
            # exact rows the replay guard must exclude after the fold
            [(3, f"b1 {self.SPAN8} b2"), (4, "v1 v2 v3 v4 v5 v6")],
            [(5, f"w1 {self.SPAN8} w2"), (6, "x1 x2 y1 y2 z1 z2")],
        ]
        idx = str(tmp_path / "gram")
        aud = str(tmp_path / "aud")
        sink = span_screen_sink(idx, aud)
        for b, rows in enumerate(epochs):
            sink(spark.createDataFrame(rows, self.DOC_SCHEMA), b)

        def audit_rows(aud_dir, b):
            return sorted(
                map(
                    tuple,
                    spark.read.parquet(
                        os.path.join(aud_dir, f"batch_id={b}")
                    ).collect(),
                )
            )

        def index_rows(idx_dir, b):
            return sorted(
                (r["g"], r["n"], r["adm"])
                for r in spark.read.schema("g long, n long, adm long")
                .parquet(os.path.join(idx_dir, f"src_batch={b}"))
                .collect()
            )

        orig_audit = audit_rows(aud, 1)
        orig_idx = index_rows(idx, 1)
        dup = {r[0]: r[2] for r in orig_audit}  # doc_id -> dup_tokens
        assert dup[3] == 8 and dup[4] == 0

        folded = str(tmp_path / "gram_folded")
        compact_span_index(spark, idx, folded)
        replay_idx = str(tmp_path / "gram_replay")
        shutil.copytree(folded, replay_idx)
        aud_r = str(tmp_path / "aud_replay")

        sink_r = span_screen_sink(replay_idx, aud_r)
        sink_r(spark.createDataFrame(epochs[1], self.DOC_SCHEMA), 1)

        # the replayed epoch's audit is byte-identical: doc 3 still
        # covered by epoch 0's grams ONLY; doc 4 still unique (its own
        # folded grams and epoch 2's are excluded by the adm guard)
        assert audit_rows(aud_r, 1) == orig_audit
        # and its re-admitted index contribution matches the original
        assert index_rows(replay_idx, 1) == orig_idx

    def test_legacy_refold_preserves_null_provenance(self, spark, tmp_path):
        """A PRE-adm fold's rows have lost per-epoch provenance; a
        re-fold must keep their adm NULL (review r12: stamping them
        adm=0 — their src_batch partition value — would disguise
        multi-epoch legacy counts as 'epoch 0's exact contribution', and
        corpus_retract's adm-recount branch would then replace them with
        an epoch-0-only recount, deleting every other legacy epoch's
        grams). New per-epoch partitions folding alongside keep exact
        provenance."""
        import json

        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            compact_span_index,
            span_screen_sink,
        )

        idx = str(tmp_path / "gram")
        # simulate a pre-adm fold: (g, n) rows only, src_batch=0, with a
        # legacy provenance marker naming epochs 0-1
        spark.createDataFrame(
            [(101, 3), (102, 2), (103, 5)], "g long, n long"
        ).coalesce(1).write.parquet(os.path.join(idx, "src_batch=0"))
        with open(os.path.join(idx, "_COMPACTED"), "w") as fh:
            json.dump([0, 1], fh)
        # one post-adm epoch on top of the legacy fold
        sink = span_screen_sink(idx, str(tmp_path / "aud"))
        sink(
            spark.createDataFrame(
                [(9, f"n1 n2 {self.SPAN8} n3")], self.DOC_SCHEMA
            ),
            2,
        )

        folded = str(tmp_path / "gram_refold")
        compact_span_index(spark, idx, folded)
        rows = spark.read.schema("g long, n long, adm long").parquet(
            os.path.join(folded, "src_batch=0")
        )
        legacy = {
            (r["g"], r["n"])
            for r in rows.filter(F.col("adm").isNull()).collect()
        }
        assert legacy == {(101, 3), (102, 2), (103, 5)}  # NULL stayed NULL
        # the post-adm epoch's rows carry exact provenance through the fold
        assert rows.filter(F.col("adm") == 2).count() > 0
        assert rows.filter((F.col("adm").isNotNull()) & (F.col("adm") != 2)).count() == 0
        # and the fold marker unions the legacy epochs with the new one
        with open(os.path.join(folded, "_COMPACTED")) as fh:
            assert sorted(json.load(fh)) == [0, 1, 2]


class TestCapstoneSpanScreen:
    @pytest.mark.slow
    def test_stage6_audits_admitted_docs_only(self, spark, tmp_path):
        """corpus_ingest_epoch(span_screen=True): the span screen runs on
        ADMITTED docs — an exact redelivery is dropped by stage 1 and
        never reaches the span audit; a genuinely-new doc repeating an
        earlier epoch's span is covered via the persistent gram index;
        replay rewrites every store identically."""
        import glob

        import numpy as np

        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_ingest_epoch,
        )

        rng = np.random.default_rng(11)
        schema = (
            "doc_id long, source string, n_chars long, text string,"
            " embedding array<float>"
        )

        def row(i, text):
            return (i, "web", len(text), text, [float(x) for x in rng.standard_normal(64)])

        span = "s1 s2 s3 s4 s5 s6 s7 s8"
        cents = spark.createDataFrame(
            [(0, [float(x) for x in rng.standard_normal(64)])],
            "vec_id long, embedding array<float>",
        ).collect()
        work = str(tmp_path / "work")
        epoch = corpus_ingest_epoch(work, cents, {"*": 0.0}, span_screen=True)
        dirs = corpus_ingest_dirs(work)

        t0 = f"a1 a2 {span} a3"
        epoch(spark.createDataFrame([row(1, t0), row(2, "u1 u2 u3 u4 u5 u6")], schema), 0)
        # epoch 1: doc 3 = exact redelivery of doc 1 (screened out at
        # stage 1); doc 4 = new content repeating the span
        epoch(
            spark.createDataFrame([row(3, t0), row(4, f"b1 {span} b2")], schema), 1
        )

        def span_audit(bid):
            return {
                r["doc_id"]: (r["dup_tokens"], r["kept_text"])
                for r in spark.read.parquet(
                    os.path.join(dirs["span_audit"], f"batch_id={bid}")
                ).collect()
            }

        assert span_audit(0) == {1: (0, t0), 2: (0, "u1 u2 u3 u4 u5 u6")}
        assert span_audit(1) == {4: (8, "b1 b2")}  # doc 3 never audited

        # replay epoch 1: span audit and gram index byte-identical
        before = sorted(
            tuple(r) for r in spark.read.parquet(dirs["gram_index"]).collect()
        )
        epoch(
            spark.createDataFrame([row(3, t0), row(4, f"b1 {span} b2")], schema), 1
        )
        assert span_audit(1) == {4: (8, "b1 b2")}
        after = sorted(
            tuple(r) for r in spark.read.parquet(dirs["gram_index"]).collect()
        )
        assert after == before
        # stage-6-off runs don't create the span stores
        work2 = str(tmp_path / "work2")
        corpus_ingest_epoch(work2, cents, {"*": 0.0})(
            spark.createDataFrame([row(1, t0)], schema), 0
        )
        assert not glob.glob(os.path.join(corpus_ingest_dirs(work2)["span_audit"], "*"))

    def test_zero_row_epoch_is_harmless(self, spark, tmp_path):
        """An empty micro-batch (filter-dropped feed) must write its empty
        epoch artifacts without wedging later epochs: the index read uses
        an explicit schema, so the empty src_batch partition (dir with
        only _SUCCESS) cannot trigger schema inference failures."""
        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            span_screen_sink,
        )

        span8 = TestSpanScreenSink.SPAN8
        gram_dir = str(tmp_path / "gram_index")
        audit_dir = str(tmp_path / "span_audit")
        sink = span_screen_sink(gram_dir, audit_dir)
        empty = spark.createDataFrame([], TestSpanScreenSink.DOC_SCHEMA)
        sink(empty, 0)
        sink(
            spark.createDataFrame(
                [(1, f"{span8} tail1"), (2, f"{span8} tail2")],
                TestSpanScreenSink.DOC_SCHEMA,
            ),
            1,
        )
        got = TestSpanScreenSink._audit(spark, audit_dir)[1]
        assert got[1][0] == 8 and got[2][0] == 8  # mutual coverage intact


def _mh_hs(text: str) -> list[int]:
    """Independent Python rendering of the screen's documented hashed-
    shingle arithmetic (bpe-style word hash -> shingle polynomial mod P —
    the llm_minhash_banded construction)."""
    P = 1_000_000_007
    ws = [w for w in (text or "").split(" ") if w]
    if len(ws) < 3:
        return []
    whs = [
        ord(w[0]) * 961
        + (ord(w[1]) if len(w) >= 2 else 0) * 31
        + ord(w[-1]) * 17
        + len(w)
        for w in ws
    ]
    out, seen = [], set()
    for i in range(len(whs) - 2):
        h = ((whs[i] * 131 + whs[i + 1]) * 131 + whs[i + 2]) % P
        if h not in seen:
            seen.add(h)
            out.append(h)
    return out


def _mh_bands(hs: list[int]) -> set[tuple[int, int]]:
    """8 band keys of size 1 from the shared permutation family."""
    from data_ingestion_experiment_otp_spark.operators.dedup import _P, _PERM

    return {
        (i, min((a * x + b) % _P for x in hs)) for i, (a, b) in enumerate(_PERM)
    }


def _mh_jac(a: str, b: str) -> float:
    sa, sb = set(_mh_hs(a)), set(_mh_hs(b))
    return len(sa & sb) / len(sa | sb) if (sa or sb) else 0.0


class TestNearDupScreenSink:
    """streaming/corpus_index.py::neardup_screen_sink — ingestion-time
    near-duplicate screening against the persistent BANDED shingle index
    (r9: the streaming form of llm_minhash_banded's construction; r8's
    raw-gram join form is gone)."""

    DOC_SCHEMA = "doc_id long, text string"

    # 30-word base; END6/START6 edits are sized so that one edit keeps a
    # pair above the 0.6 Jaccard threshold (J = 22/34 ~ 0.647) while the
    # two edits COMBINED fall below it (J = 16/40 = 0.4) — the geometry
    # the within-batch chain test needs.
    BASE = " ".join(f"t{i}" for i in range(1, 31))
    END6 = " ".join(f"t{i}" for i in range(1, 25)) + " x25 x26 x27 x28 x29 x30"
    BOTH6 = "y1 y2 y3 y4 y5 y6 " + " ".join(f"t{i}" for i in range(7, 25)) + " x25 x26 x27 x28 x29 x30"
    UNRELATED = " ".join(f"u{i}" for i in range(1, 31))

    @staticmethod
    def _jac(a: str, b: str) -> float:
        def sh(t):
            ws = t.split()
            return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        sa, sb = sh(a), sh(b)
        return len(sa & sb) / len(sa | sb)

    @staticmethod
    def _ids(spark, d, b):
        p = os.path.join(d, f"batch_id={b}")
        if not os.path.isdir(p):
            return None
        return sorted(
            r["doc_id"]
            for r in spark.read.schema("doc_id long").parquet(p).collect()
        )

    @staticmethod
    def _indexed_docs(spark, idx):
        """doc_ids present in the gram-set sidecar sub-store."""
        return {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(os.path.join(idx, "grams"))
            .collect()
        }

    def test_fixture_geometry(self):
        """The planted Jaccards sit where the tests assume — on both the
        string shingles and the screen's hashed shingles (no collisions
        perturb the fixture), and every >=0.6 pair shares a band key (the
        screen is deterministic, so banding recall is checkable)."""
        assert self._jac(self.BASE, self.END6) >= 0.6
        assert self._jac(self.END6, self.BOTH6) >= 0.6
        assert self._jac(self.BASE, self.BOTH6) < 0.6
        assert self._jac(self.BASE, self.UNRELATED) == 0.0
        assert abs(_mh_jac(self.BASE, self.END6) - 22 / 34) < 1e-9
        assert abs(_mh_jac(self.END6, self.BOTH6) - 22 / 34) < 1e-9
        assert _mh_bands(_mh_hs(self.BASE)) & _mh_bands(_mh_hs(self.END6))
        assert _mh_bands(_mh_hs(self.END6)) & _mh_bands(_mh_hs(self.BOTH6))

    def test_cross_epoch_screen_replay_and_zero_row_epoch(self, spark, tmp_path):
        """An epoch-2 near-dup of an epoch-1 admit is rejected with a
        corpus-phase audit row naming its best match; unrelated content
        passes; a replayed epoch reproduces byte-identical accepted/
        audit/index contributions; and a zero-shingle epoch (short docs)
        leaves a zero-row index partition later screens survive."""
        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            neardup_screen_sink,
        )

        idx = str(tmp_path / "shingle_index")
        acc = str(tmp_path / "near_accepted")
        aud = str(tmp_path / "near_audit")
        sink = neardup_screen_sink(idx, acc, aud)

        sink(
            spark.createDataFrame(
                [(1, self.BASE), (2, self.UNRELATED)], self.DOC_SCHEMA
            ),
            0,
        )
        assert self._ids(spark, acc, 0) == [1, 2]

        # epoch 1: short docs only — no shingles, all admitted
        sink(spark.createDataFrame([(10, "a b"), (11, None)], self.DOC_SCHEMA), 1)
        assert self._ids(spark, acc, 1) == [10, 11]

        # epoch 2: near-dup of doc 1 rejected via the index; fresh doc in
        sink(
            spark.createDataFrame(
                [(20, self.END6), (21, "fresh words " + " ".join(f"f{i}" for i in range(20)))],
                self.DOC_SCHEMA,
            ),
            2,
        )
        assert self._ids(spark, acc, 2) == [21]
        audit = {
            r["doc_id"]: r.asDict()
            for r in spark.read.parquet(os.path.join(aud, "batch_id=2")).collect()
        }
        assert set(audit) == {20}
        assert audit[20]["dup_of"] == 1 and audit[20]["phase"] == "corpus"
        assert abs(audit[20]["jaccard"] - round(22 / 34, 6)) < 1e-9

        # replay epoch 2 verbatim: all four stores byte-identical (the
        # index's two sub-stores snapshot separately — a root read mixes
        # directory structures by design)
        def snap():
            return {
                d: sorted(map(tuple, spark.read.parquet(d).collect()))
                for d in (
                    os.path.join(idx, "bands"),
                    os.path.join(idx, "grams"),
                    acc,
                    aud,
                )
            }

        before = snap()
        sink(
            spark.createDataFrame(
                [(20, self.END6), (21, "fresh words " + " ".join(f"f{i}" for i in range(20)))],
                self.DOC_SCHEMA,
            ),
            2,
        )
        assert snap() == before

    def test_within_batch_priority_contract(self, spark, tmp_path):
        """Within one epoch the screen is a single priority-ordered pass
        (the llm_semdedup keep-contract): a doc is rejected when a
        LOWER-id corpus-screen survivor is a near-dup, regardless of that
        neighbor's own within-batch fate — here C (near-dup of B only)
        is rejected even though B itself was rejected against A."""
        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            neardup_screen_sink,
        )

        idx = str(tmp_path / "shingle_index")
        acc = str(tmp_path / "near_accepted")
        aud = str(tmp_path / "near_audit")
        sink = neardup_screen_sink(idx, acc, aud)
        sink(
            spark.createDataFrame(
                [(1, self.BASE), (2, self.END6), (3, self.BOTH6), (4, self.UNRELATED)],
                self.DOC_SCHEMA,
            ),
            0,
        )
        assert self._ids(spark, acc, 0) == [1, 4]
        audit = {
            r["doc_id"]: r.asDict()
            for r in spark.read.parquet(os.path.join(aud, "batch_id=0")).collect()
        }
        assert audit[2]["dup_of"] == 1 and audit[2]["phase"] == "batch"
        assert audit[3]["dup_of"] == 2 and audit[3]["phase"] == "batch"
        # only survivors' bands/grams were admitted
        assert self._indexed_docs(spark, idx) == {1, 4}

    @pytest.mark.slow
    def test_stream_matches_independent_python_reference(self, spark, tmp_path):
        """Batch-vs-stream equivalence: streaming a 3-epoch corpus through
        the sink accepts exactly the set an independent Python
        implementation of the documented BANDED contract accepts —
        candidates from band-key agreement (bucket-capped with star edges
        to the min-id member), exact Jaccard verification on the hashed
        shingle sets."""
        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            _NEARDUP_BUCKET_CAP,
            neardup_screen_sink,
        )

        def variant(base: str, n_edits: int, tag: str) -> str:
            ws = base.split()
            for k in range(n_edits):
                ws[len(ws) - 1 - k] = f"{tag}{k}"
            return " ".join(ws)

        texts = {}
        docs_per_epoch = []
        did = 0
        for e in range(3):
            rows = []
            for j in range(8):
                did += 1
                base = " ".join(f"w{e}_{j}_{i}" for i in range(24))
                if (did % 3) == 0 and did > 3:
                    # near-dup of an EARLIER doc (2 end edits on 24 words
                    # of an existing text: J = 18/26 ~ 0.69 >= 0.6)
                    src = ((did * 7) % (did - 1)) + 1
                    rows.append((did, variant(texts[src], 2, f"e{did}")))
                else:
                    rows.append((did, base))
                texts[did] = rows[-1][1]
            docs_per_epoch.append(rows)

        hsets = {i: set(_mh_hs(t)) for i, t in texts.items()}
        bands = {i: _mh_bands(sorted(hsets[i])) for i in texts if hsets[i]}

        def jac(a, b):
            sa, sb = hsets[a], hsets[b]
            return len(sa & sb) / len(sa | sb) if (sa or sb) else 0.0

        def candidates(i, pool):
            """Banded candidate set of doc i against `pool` (doc ids),
            with the bucket cap's star-edge fallback."""
            by_key = {}
            for c in pool:
                for bk in bands.get(c, ()):
                    by_key.setdefault(bk, []).append(c)
            out = set()
            for bk in bands.get(i, ()):
                members = by_key.get(bk, [])
                if len(members) <= _NEARDUP_BUCKET_CAP:
                    out.update(members)
                else:
                    out.add(min(members))
            return out

        expected_accept = set()
        index_docs = []  # admitted doc ids, in admission order
        for rows in docs_per_epoch:
            survivors = []
            for i, _t in rows:  # corpus screen: banded candidates, exact verify
                if not any(
                    jac(i, c) >= 0.6 for c in candidates(i, index_docs)
                ):
                    survivors.append(i)
            # within-batch: buckets over ALL survivors (the engine caps on
            # the full survivor bucket), directed pairs higher -> lower
            by_key = {}
            for c in survivors:
                for bk in bands.get(c, ()):
                    by_key.setdefault(bk, []).append(c)
            nbrs = {i: set() for i in survivors}
            for members in by_key.values():
                if len(members) <= _NEARDUP_BUCKET_CAP:
                    for a in members:
                        for b2 in members:
                            if a < b2:
                                nbrs[b2].add(a)
                else:
                    rep = min(members)
                    for m in members:
                        if m > rep:
                            nbrs[m].add(rep)
            kept = []
            for i in survivors:  # lower-id survivor wins
                if not any(jac(i, j) >= 0.6 for j in nbrs[i]):
                    kept.append(i)
                # note: rejected docs still participate as `j` above iff
                # they are corpus-screen survivors — the one-pass contract
            expected_accept.update(kept)
            index_docs.extend(kept)

        idx = str(tmp_path / "shingle_index")
        acc = str(tmp_path / "near_accepted")
        aud = str(tmp_path / "near_audit")
        sink = neardup_screen_sink(idx, acc, aud)
        got = set()
        for b, rows in enumerate(docs_per_epoch):
            sink(spark.createDataFrame(rows, self.DOC_SCHEMA), b)
            got.update(self._ids(spark, acc, b))
        assert got == expected_accept
        assert len(got) < did  # the fixture actually rejected something


class TestBandedScreenRandomizedDifferential:
    """Seeded randomized sweep of the full audit contract (r9): the
    engine's `_banded_screen_audit` vs a from-scratch Python replica of
    the documented spec — band candidates with bucket-cap star edges
    (cap=2 here, so star fallbacks actually fire), exact verification,
    per-phase argmax with the grid/tie contract — over corpora random
    enough to produce organic near-dups, shared buckets, and ties."""

    CAP = 2

    @staticmethod
    def _replica(batch: dict, index: dict, thr: float, cap: int) -> dict:
        def grid(x):
            import math

            return math.floor(x * 1e6 + 0.5) / 1e6

        hs = {i: set(_mh_hs(t)) for i, t in {**batch, **index}.items()}
        bands = {i: _mh_bands(sorted(h)) for i, h in hs.items() if h}

        def jac(a, b):
            sa, sb = hs[a], hs[b]
            return len(sa & sb) / len(sa | sb)

        def cands_from(i, pool):
            by_key: dict = {}
            for c in pool:
                for bk in bands.get(c, ()):
                    by_key.setdefault(bk, []).append(c)
            out = set()
            for bk in bands.get(i, ()):
                members = by_key.get(bk, [])
                if len(members) <= cap:
                    out.update(members)
                else:
                    out.add(min(members))
            return out

        def best(i, cands):
            verified = [
                (grid(jac(i, c)), c) for c in cands if jac(i, c) >= thr
            ]
            if not verified:
                return None
            j = max(v[0] for v in verified)
            return (min(c for v, c in verified if v == j), j)

        audit = {}
        ipool = [i for i in index if bands.get(i)]
        for i in sorted(batch):
            if not bands.get(i):
                continue
            m = best(i, cands_from(i, ipool))
            if m:
                audit[i] = (m[0], m[1], "corpus")
        survivors = [i for i in sorted(batch) if bands.get(i) and i not in audit]
        by_key: dict = {}
        for c in survivors:
            for bk in bands[c]:
                by_key.setdefault(bk, []).append(c)
        nbrs = {i: set() for i in survivors}
        for members in by_key.values():
            if len(members) <= cap:
                for a in members:
                    for b in members:
                        if a < b:
                            nbrs[b].add(a)
            else:
                rep = min(members)
                for m in members:
                    if m > rep:
                        nbrs[m].add(rep)
        for i in survivors:
            m = best(i, nbrs[i])
            if m:
                audit[i] = (m[0], m[1], "batch")
        return audit

    @pytest.mark.slow
    def test_randomized_corpora_match_replica(self, spark):
        import random

        from data_ingestion_experiment_otp_spark.operators.dedup import (
            _JACCARD_THRESHOLD,
            _band_explode,
            _banded_screen_audit,
            _minhash_sig,
        )

        for seed in range(5):
            rng = random.Random(seed)
            vocab = [f"w{k}" for k in range(12)]
            texts = {}
            ids = rng.sample(range(1, 500), 16)
            for i in ids:
                texts[i] = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 18)))
            # plant a couple of explicit near-dups of earlier docs
            for i in ids[10:13]:
                src = rng.choice(ids[:8])
                ws = texts[src].split()
                if len(ws) >= 4:
                    ws[-1] = f"e{i}"
                    texts[i] = " ".join(ws)
            index = {i: texts[i] for i in ids[: len(ids) // 2]}
            batch = {i: texts[i] for i in ids[len(ids) // 2 :]}

            bdf = spark.createDataFrame(
                list(batch.items()), "doc_id long, text string"
            )
            idf = spark.createDataFrame(
                list(index.items()), "doc_id long, text string"
            )
            bsig = _minhash_sig(bdf).localCheckpoint(eager=False)
            isig = _minhash_sig(idf)
            got = {
                r["doc_id"]: (r["dup_of"], r["jaccard"], r["phase"])
                for r in _banded_screen_audit(
                    bsig,
                    _band_explode(isig),
                    isig.select("doc_id", "hs"),
                    _JACCARD_THRESHOLD,
                    bucket_cap=self.CAP,
                ).collect()
            }
            want = self._replica(batch, index, _JACCARD_THRESHOLD, self.CAP)
            assert got == want, (seed, got, want)


class TestNearDupBandedScale:
    """The reason the screen is banded (r9, judge task 1): on a
    boilerplate-heavy corpus the raw-shingle join's candidate volume is
    Σ(batch_df × index_df) over shared grams — quadratic in the
    boilerplate population — while the banded form's is
    <= bands·bucket_cap per batch doc BY CONSTRUCTION. Both counts are
    computed on a planted skew epoch and asserted."""

    HEADER = " ".join(f"h{i}" for i in range(12))  # 12-word boilerplate

    @staticmethod
    def _tail_word(i: int, k: int) -> str:
        """Unique-per-(doc, position) word whose identity survives the
        screen's probe-based word hash (first/second/last char + length
        all carry the payload — words differing only in middle chars
        would collide and inflate hashed Jaccard)."""
        a = chr(97 + i % 26)
        b = chr(97 + (i // 26) % 26)
        c = chr(97 + k % 26)
        return a + b + "x" * (2 + (i // 676) % 3) + c

    @classmethod
    def _doc_text(cls, i: int) -> str:
        return cls.HEADER + " " + " ".join(
            cls._tail_word(i, k) for k in range(12)
        )

    def test_skew_epoch_candidates_bounded_and_recall_kept(self, spark, tmp_path):
        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            _NEARDUP_BUCKET_CAP,
            neardup_screen_sink,
        )

        n_index, n_batch = 150, 10
        idx = str(tmp_path / "shingle_index")
        acc = str(tmp_path / "near_accepted")
        aud = str(tmp_path / "near_audit")
        sink = neardup_screen_sink(idx, acc, aud)

        # epoch 0: 150 docs sharing the header, unique tails (pairwise
        # J = 10/34 ~ 0.29 < 0.6 -> all admitted, index heavily skewed
        # on the header grams)
        e0 = [(i, self._doc_text(i)) for i in range(1, n_index + 1)]
        sink(spark.createDataFrame(e0, TestNearDupScreenSink.DOC_SCHEMA), 0)
        assert len(TestNearDupScreenSink._ids(spark, acc, 0)) == n_index

        # epoch 1: 8 fresh header-sharing docs + 2 true near-dups of
        # indexed docs (2 tail edits: J = 18/26 ~ 0.69)
        def near_dup_of(src: int, new_id: int) -> str:
            ws = self._doc_text(src).split()
            ws[-1], ws[-2] = f"e{new_id}a", f"e{new_id}b"
            return " ".join(ws)

        e1 = [(1000 + j, self._doc_text(1000 + j)) for j in range(n_batch - 2)]
        e1 += [(2001, near_dup_of(7, 2001)), (2002, near_dup_of(42, 2002))]
        # determinism check: both planted pairs share a band key
        for nid, src in ((2001, 7), (2002, 42)):
            t_new = dict(e1)[nid]
            t_src = self._doc_text(src)
            assert _mh_jac(t_new, t_src) >= 0.6
            assert _mh_bands(_mh_hs(t_new)) & _mh_bands(_mh_hs(t_src))

        # candidate-volume accounting over the planted epoch, both forms
        hsets = {i: set(_mh_hs(t)) for i, t in e0}
        bands_by_key: dict = {}
        for i, _t in e0:
            for bk in _mh_bands(sorted(hsets[i])):
                bands_by_key.setdefault(bk, []).append(i)
        raw_by_gram: dict = {}
        for i, _t in e0:
            for g in hsets[i]:
                raw_by_gram[g] = raw_by_gram.get(g, 0) + 1
        raw_candidates = banded_candidates = 0
        for i, t in e1:
            for g in set(_mh_hs(t)):
                raw_candidates += raw_by_gram.get(g, 0)
            cands = set()
            for bk in _mh_bands(_mh_hs(t)):
                members = bands_by_key.get(bk, [])
                if len(members) <= _NEARDUP_BUCKET_CAP:
                    cands.update(members)
                else:
                    cands.add(min(members))
            banded_candidates += len(cands)
        # raw form: every batch doc meets every indexed doc through the
        # 10 shared header grams -> >= 10·150·10 gram-pair hits
        assert raw_candidates >= 10 * n_index * n_batch
        # banded form: linear bound, independent of the skew
        assert banded_candidates <= len(e1) * 8 * _NEARDUP_BUCKET_CAP
        assert banded_candidates < raw_candidates / 10

        # and the screen still catches both planted near-dups (recall),
        # admitting everything else (precision: exact verify)
        sink(spark.createDataFrame(e1, TestNearDupScreenSink.DOC_SCHEMA), 1)
        got = TestNearDupScreenSink._ids(spark, acc, 1)
        assert got == sorted(i for i, _t in e1 if i < 2000)
        audit = {
            r["doc_id"]: r["dup_of"]
            for r in spark.read.parquet(os.path.join(aud, "batch_id=1")).collect()
        }
        assert audit == {2001: 7, 2002: 42}


class TestCapstoneNearDedup:
    """corpus_pipeline.py with near_dedup=True: the near screen gates every
    downstream store, and RTBF makes a victim's content near-unknown
    again."""

    @pytest.mark.slow
    def test_near_screen_gates_downstream_and_rtbf_unknows(self, spark, tmp_path):
        import time

        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_ingest_epoch,
            corpus_retract,
            start_corpus_ingest,
        )

        base = TestNearDupScreenSink.BASE
        end6 = TestNearDupScreenSink.END6
        unrelated = TestNearDupScreenSink.UNRELATED
        vec = lambda s: [float(s)] + [0.0] * 63  # noqa: E731
        batches = [
            [
                (1, "web", len(base), base, vec(1)),
                (2, "web", len(unrelated), unrelated, vec(2)),
            ],
            [
                # 3 = exact redelivery of 1 (exact screen's kill);
                # 4 = near-dup of 1 (near screen's kill); 5 = fresh
                (3, "web", len(base), base, vec(3)),
                (4, "web", len(end6), end6, vec(4)),
                (5, "forum", 20, " ".join(f"q{i}" for i in range(25)), vec(5)),
            ],
        ]
        in_dir = str(tmp_path / "feed")
        for rows in batches:
            spark.createDataFrame(
                rows, TestStreamingCorpusPipeline.SCHEMA
            ).coalesce(1).write.mode("append").parquet(in_dir)
            time.sleep(0.05)

        cents = (
            spark.createDataFrame(
                [(0, vec(1)), (1, vec(2))], "vec_id long, embedding array<float>"
            )
            .orderBy("vec_id")
            .collect()
        )
        work = str(tmp_path / "work")
        q = start_corpus_ingest(
            spark,
            in_dir,
            work,
            cents,
            {"*": 0.0},
            str(tmp_path / "ckpt"),
            near_dedup=True,
        )
        drive.drain(q)

        dirs = corpus_ingest_dirs(work)
        accepted = {
            r["doc_id"] for r in spark.read.parquet(dirs["accepted"]).collect()
        }
        near_accepted = {
            r["doc_id"] for r in spark.read.parquet(dirs["near_accepted"]).collect()
        }
        assert accepted == {1, 2, 4, 5}  # exact screen killed 3 only
        assert near_accepted == {1, 2, 5}  # near screen killed 4
        # every downstream store holds exactly the near-survivors
        curated = {
            r["doc_id"] for r in spark.read.parquet(dirs["curated"]).collect()
        }
        assert curated <= near_accepted and 4 not in curated
        from data_ingestion_experiment_otp_spark.streaming.vector_index import (
            index_stats,
        )

        assert index_stats(spark, dirs["vector_index"])["vec_rows"] == 3
        tdocs = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .option("basePath", dirs["text_index"])
            .parquet(os.path.join(dirs["text_index"], "doclen"))
            .collect()
        }
        assert tdocs == near_accepted

        # RTBF: retract doc 1 — its shingles leave the index, so a fresh
        # near-dup of its content is UNKNOWN again and gets admitted.
        # The probe is a DIFFERENT end-6 edit of BASE (z-words): not
        # byte-identical to the near-rejected doc 4 (whose hash rightly
        # still blocks exact redelivery), and doc 4's shingles were never
        # admitted, so only the retracted doc 1 could match it.
        z6 = " ".join(f"t{i}" for i in range(1, 25)) + " z25 z26 z27 z28 z29 z30"
        removed = corpus_retract(spark, work, [1])
        assert removed["near_accepted"] == 1
        assert removed["shingle_index"] > 0
        assert 1 not in TestNearDupScreenSink._indexed_docs(
            spark, dirs["shingle_index"]
        )
        epoch = corpus_ingest_epoch(work, cents, {"*": 0.0}, near_dedup=True)
        epoch(
            spark.createDataFrame(
                [(9, "web", len(z6), z6, vec(9))],
                TestStreamingCorpusPipeline.SCHEMA,
            ),
            5,
        )
        assert TestNearDupScreenSink._ids(
            spark, dirs["near_accepted"], 5
        ) == [9]

    def test_off_by_default(self, spark, tmp_path):
        """near_dedup=False (the default) writes none of the three near
        stores and admits near-dups exactly as before."""
        import time

        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            start_corpus_ingest,
        )

        base = TestNearDupScreenSink.BASE
        end6 = TestNearDupScreenSink.END6
        vec = lambda s: [float(s)] + [0.0] * 63  # noqa: E731
        in_dir = str(tmp_path / "feed")
        spark.createDataFrame(
            [(1, "web", len(base), base, vec(1)), (2, "web", len(end6), end6, vec(2))],
            TestStreamingCorpusPipeline.SCHEMA,
        ).coalesce(1).write.parquet(in_dir)
        time.sleep(0.05)
        cents = (
            spark.createDataFrame(
                [(0, vec(1))], "vec_id long, embedding array<float>"
            )
            .orderBy("vec_id")
            .collect()
        )
        work = str(tmp_path / "work")
        q = start_corpus_ingest(
            spark, in_dir, work, cents, {"*": 0.0}, str(tmp_path / "ckpt")
        )
        drive.drain(q)
        dirs = corpus_ingest_dirs(work)
        assert not os.path.isdir(dirs["shingle_index"])
        assert not os.path.isdir(dirs["near_accepted"])
        curated = {
            r["doc_id"] for r in spark.read.parquet(dirs["curated"]).collect()
        }
        assert {1, 2} <= curated  # both admitted: no near screen ran


class TestShingleIndexCompaction:
    """corpus_index.py::compact_shingle_index (r8): the near-dup index's
    generation fold — file collapse, byte-identical screening, and RTBF
    against the folded generation."""

    @pytest.mark.slow
    def test_fold_preserves_screening_and_collapses_files(self, spark, tmp_path):
        import glob
        import shutil

        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            compact_shingle_index,
            neardup_screen_sink,
        )

        S = TestNearDupScreenSink
        batches = [
            [(1, S.BASE), (2, S.UNRELATED)],
            [(3, " ".join(f"m{i}" for i in range(24)))],
            [(4, " ".join(f"n{i}" for i in range(24)))],
        ]
        probe = [(9, S.END6), (10, " ".join(f"p{i}" for i in range(24)))]

        stores = {}
        for path in ("a", "b"):
            idx = str(tmp_path / f"idx_{path}")
            acc = str(tmp_path / f"acc_{path}")
            aud = str(tmp_path / f"aud_{path}")
            sink = neardup_screen_sink(idx, acc, aud)
            for b, rows in enumerate(batches):
                sink(spark.createDataFrame(rows, S.DOC_SCHEMA), b)
            stores[path] = (idx, acc, aud, sink)

        idx_b, acc_b, aud_b, sink_b = stores["b"]
        gen2 = str(tmp_path / "idx_b_gen2")
        compact_shingle_index(spark, idx_b, gen2)
        shutil.rmtree(idx_b)
        os.rename(gen2, idx_b)
        for sub in ("bands", "grams"):
            files_after = glob.glob(f"{idx_b}/{sub}/src_batch=*/*.parquet")
            assert {
                os.path.basename(os.path.dirname(f)) for f in files_after
            } == {"src_batch=0"}, sub
        assert os.path.isfile(os.path.join(idx_b, "_COMPACTED"))

        # same row set survives the fold, in both sub-stores
        def rows(idx):
            bands = sorted(
                (r["doc_id"], r["band"], r["v"])
                for r in spark.read.parquet(os.path.join(idx, "bands")).collect()
            )
            grams = sorted(
                (r["doc_id"], tuple(sorted(r["hs"])), r["n_g"])
                for r in spark.read.parquet(os.path.join(idx, "grams")).collect()
            )
            return bands, grams

        assert rows(stores["a"][0]) == rows(idx_b)

        # identical probe epoch against stack vs folded generation
        idx_a, acc_a, aud_a, sink_a = stores["a"]
        sink_a(spark.createDataFrame(probe, S.DOC_SCHEMA), 3)
        sink_b(spark.createDataFrame(probe, S.DOC_SCHEMA), 3)
        for da, db in ((acc_a, acc_b), (aud_a, aud_b)):
            ra = sorted(
                map(tuple, spark.read.parquet(os.path.join(da, "batch_id=3")).collect())
            )
            rb = sorted(
                map(tuple, spark.read.parquet(os.path.join(db, "batch_id=3")).collect())
            )
            assert ra == rb
        # the probe's near-dup was actually rejected (the fold screened)
        assert TestNearDupScreenSink._ids(spark, acc_b, 3) == [10]

    @pytest.mark.slow
    def test_rtbf_after_fold(self, spark, tmp_path):
        """Retraction against the folded generation: the victim's rows
        leave src_batch=0 and its content is near-unknown again."""
        import shutil
        import time

        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            compact_shingle_index,
        )
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_ingest_epoch,
            corpus_retract,
            start_corpus_ingest,
        )

        S = TestNearDupScreenSink
        vec = lambda s: [float(s)] + [0.0] * 63  # noqa: E731
        in_dir = str(tmp_path / "feed")
        batches = [
            [(1, "web", len(S.BASE), S.BASE, vec(1))],
            [(2, "web", len(S.UNRELATED), S.UNRELATED, vec(2))],
        ]
        for rows in batches:
            spark.createDataFrame(
                rows, TestStreamingCorpusPipeline.SCHEMA
            ).coalesce(1).write.mode("append").parquet(in_dir)
            time.sleep(0.05)
        cents = (
            spark.createDataFrame(
                [(0, vec(1))], "vec_id long, embedding array<float>"
            )
            .orderBy("vec_id")
            .collect()
        )
        work = str(tmp_path / "work")
        q = start_corpus_ingest(
            spark,
            in_dir,
            work,
            cents,
            {"*": 0.0},
            str(tmp_path / "ckpt"),
            near_dedup=True,
        )
        drive.drain(q)
        dirs = corpus_ingest_dirs(work)

        gen2 = str(tmp_path / "sh_gen2")
        compact_shingle_index(spark, dirs["shingle_index"], gen2)
        shutil.rmtree(dirs["shingle_index"])
        os.rename(gen2, dirs["shingle_index"])

        removed = corpus_retract(spark, work, [1])
        assert removed["shingle_index"] > 0
        assert TestNearDupScreenSink._indexed_docs(
            spark, dirs["shingle_index"]
        ) == {2}

        # a near-dup of the victim's content is unknown again
        epoch = corpus_ingest_epoch(work, cents, {"*": 0.0}, near_dedup=True)
        epoch(
            spark.createDataFrame(
                [(9, "web", len(S.END6), S.END6, vec(9))],
                TestStreamingCorpusPipeline.SCHEMA,
            ),
            7,
        )
        assert TestNearDupScreenSink._ids(spark, dirs["near_accepted"], 7) == [9]


class TestCapstoneAllStages:
    """The full composition: every optional stage on at once (drift +
    the r13 stage-0 domain gate + span screen + near-dup screen + the
    r10 semantic screen + the r11 model gate + the r11b decontamination
    gate + the r12 selection and trained-LM quality gates — all 24
    stores) — the stages must not interfere, and a replayed epoch must
    reproduce every store byte-identically. The domain gate runs with a
    feed-disjoint blocklist, the model gate with keep-everything weights
    (bias +1, buckets 0: margin = n_tokens > 0), the decon gate with a
    feed-disjoint benchmark, the selection gate with a keep-everything
    calibration (empty models, -inf threshold), and the LM gate with a
    +inf cut over a real trained store (scores compute, nothing lands in
    the tail) so the dedup-funnel assertions stay exact; their own
    decision behavior is TestDomainGateSink's / TestClassifierGateSink's
    / TestDeconGateSink's / TestDsirGateSink's / TestPplGateSink's
    job."""

    @pytest.mark.slow
    def test_all_stages_compose_and_replay_byte_identical(self, spark, tmp_path):
        import glob
        import time

        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_ingest_epoch,
            start_corpus_ingest,
        )
        from data_ingestion_experiment_otp_spark.streaming.drift_monitor import (
            calibrate_reference,
        )

        base = TestNearDupScreenSink.BASE
        end6 = TestNearDupScreenSink.END6
        unrelated = TestNearDupScreenSink.UNRELATED
        span8 = TestSpanScreenSink.SPAN8
        # distinct basis DIRECTIONS (a scalar-multiple family would make
        # every pair cosine-1.0 and the semantic screen would kill the
        # whole feed); doc 8 is the planted SEMANTIC dup of doc 1
        vec = lambda s: [0.0] * s + [1.0] + [0.0] * (63 - s)  # noqa: E731
        fv = TestSemDedupScreenSink._fv
        batches = [
            [
                (1, "web", len(base), base, vec(1)),
                (2, "web", len(unrelated), unrelated, vec(2)),
                (3, "web", 40, f"a1 a2 {span8} a3 a4 a5", vec(3)),
            ],
            [
                (4, "web", len(base), base, vec(4)),      # exact dup of 1
                (5, "web", len(end6), end6, vec(5)),       # near dup of 1
                (6, "forum", 40, f"b1 b2 {span8} b3 b4 b5", vec(6)),  # span repeat
                (7, "forum", 30, " ".join(f"q{i}" for i in range(20)), vec(7)),
                # fresh text, vector ~ doc 1's direction -> stage 7's kill
                (8, "forum", 30, " ".join(f"c{i}" for i in range(20)),
                 fv([0.0, 0.96, 0.04] + [0.0] * 61)),
            ],
        ]
        mdl = TestSemDedupScreenSink._train(
            spark,
            tmp_path / "calib",
            [(i, vec(i)) for i in range(10)],
        )
        in_dir = str(tmp_path / "feed")
        for rows in batches:
            spark.createDataFrame(
                rows, TestStreamingCorpusPipeline.SCHEMA
            ).coalesce(1).write.mode("append").parquet(in_dir)
            time.sleep(0.05)
        ref = calibrate_reference(
            spark.createDataFrame(
                [(i, r[3]) for i, r in enumerate(batches[0])],
                "doc_id long, text string",
            )
        )
        cents = (
            spark.createDataFrame(
                [(0, vec(1)), (1, vec(2))], "vec_id long, embedding array<float>"
            )
            .orderBy("vec_id")
            .collect()
        )
        # decon benchmark DISJOINT from every feed 3-gram (tokens appear
        # nowhere in the feed texts): the stage materializes its stores
        # and passes everything through — its kill behavior is
        # TestDeconGateSink's job
        from data_ingestion_experiment_otp_spark.streaming.curation import (
            benchmark_shingles,
        )

        decon = benchmark_shingles(
            spark.createDataFrame(
                [("zzbench1 zzbench2 zzbench3 zzbench4 zzbench5",)],
                "text string",
            )
        )
        # keep-everything selection calibration: empty models score every
        # doc 0.0 and the -inf threshold keeps all — the stage
        # materializes its stores and passes everything through; its
        # decision behavior is TestDsirGateSink's job
        sel_noop = {
            "c_r": {},
            "c_t": {},
            "rtot": 0,
            "ttot": 0,
            "thr": {},
            "thr_global": float("-inf"),
        }
        # keep-everything LM calibration: a REAL trained store over the
        # feed corpus (the scoring join runs for real) with a +inf cut
        from data_ingestion_experiment_otp_spark.operators.ngram_lm import (
            trigram_model_dir,
        )

        lm_corpus = str(tmp_path / "lm_corpus")
        spark.createDataFrame(
            [
                (i, r[3], "en", r[1], r[2])
                for i, r in enumerate(batches[0] + batches[1])
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(os.path.join(lm_corpus, "documents.parquet"))
        ppl_noop = {
            "model_dir": trigram_model_dir(spark, lm_corpus),
            "cuts": {},
            "cut_global": float("inf"),
        }
        work = str(tmp_path / "work")
        q = start_corpus_ingest(
            spark,
            in_dir,
            work,
            cents,
            {"*": 0.0},
            str(tmp_path / "ckpt"),
            drift_reference=ref,
            span_screen=True,
            near_dedup=True,
            sem_model=mdl,
            gate_weights=[0] * 128 + [1],
            decon_hashes=decon,
            select_calib=sel_noop,
            ppl_calib=ppl_noop,
            # feed doc_ids 1-8 derive domains d1..d8.example.org: d12 is
            # feed-disjoint, the stage materializes and passes all through
            domain_blocklist=["d12.example.org"],
        )
        drive.drain(q)
        dirs = corpus_ingest_dirs(work)

        # every one of the 24 stores materialized
        for k, d in dirs.items():
            assert os.path.isdir(d), k
        # the feed-disjoint blocklist passes everything through: the
        # stage-0 relation is the whole feed and its audit is empty
        dom_acc = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(dirs["dom_accepted"])
            .collect()
        }
        assert dom_acc == {1, 2, 3, 4, 5, 6, 7, 8}
        assert (
            spark.read.schema("doc_id long, domain string")
            .parquet(dirs["dom_audit"])
            .count()
            == 0
        )
        # the feed-disjoint benchmark passes everything through: the
        # decon relation equals the gate's and the audit is empty
        decon_acc = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(dirs["decon_accepted"])
            .collect()
        }
        gate_acc = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(dirs["gate_accepted"])
            .collect()
        }
        assert decon_acc == gate_acc
        assert (
            spark.read.schema("doc_id long, n_shared_ngrams long")
            .parquet(dirs["decon_audit"])
            .count()
            == 0
        )
        # both keep-everything calibrations pass everything through:
        # LM relation == decon's, selection relation == LM's, audits empty
        ppl_acc = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(dirs["ppl_accepted"])
            .collect()
        }
        assert ppl_acc == decon_acc
        assert (
            spark.read.schema("doc_id long, avg_bits double")
            .parquet(dirs["ppl_audit"])
            .count()
            == 0
        )
        sel_acc = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(dirs["sel_accepted"])
            .collect()
        }
        assert sel_acc == ppl_acc
        assert (
            spark.read.schema("doc_id long, logratio double")
            .parquet(dirs["sel_audit"])
            .count()
            == 0
        )
        # stage interactions: 4 exact-killed, 5 near-killed, 8 SEM-killed
        # (fresh text, doc-1-like geometry), 6 admitted with its span
        # COVERED (epoch-0 doc 3 planted the grams)
        near_accepted = {
            r["doc_id"] for r in spark.read.parquet(dirs["near_accepted"]).collect()
        }
        assert near_accepted == {1, 2, 3, 6, 7, 8}
        sem_accepted = {
            r["doc_id"] for r in spark.read.parquet(dirs["sem_accepted"]).collect()
        }
        assert sem_accepted == {1, 2, 3, 6, 7}
        sem_audit = {
            r["doc_id"]: r.asDict()
            for r in spark.read.schema(
                "doc_id long, dup_of long, cosine double, phase string"
            )
            .parquet(dirs["sem_audit"])
            .collect()
        }
        assert set(sem_audit) == {8}
        assert sem_audit[8]["dup_of"] == 1 and sem_audit[8]["phase"] == "corpus"
        audit = {
            r["doc_id"]: r["dup_tokens"]
            for r in spark.read.parquet(
                os.path.join(dirs["span_audit"], "batch_id=1")
            ).collect()
        }
        assert audit[6] == 8 and audit[7] == 0
        # drift rows exist for both sources in epoch 1
        drift_rows = {
            r["source"]
            for r in spark.read.parquet(
                os.path.join(dirs["drift_audit"], "batch_id=1")
            ).collect()
        }
        assert drift_rows == {"web", "forum"}

        # replay epoch 1 verbatim: all stores byte-identical
        # text/vector indexes hold multiple sub-tables; snapshot each
        # leaf table separately (a root read raises
        # CONFLICTING_DIRECTORY_STRUCTURES by design)
        def leaf_tables(d):
            subs = [
                e
                for e in sorted(os.listdir(d))
                if os.path.isdir(os.path.join(d, e)) and "=" not in e
            ]
            return [os.path.join(d, e) for e in subs] if subs else [d]

        def snapshot():
            out = {}
            for k, d in sorted(dirs.items()):
                for t in leaf_tables(d):
                    out[f"{k}/{os.path.basename(t)}"] = sorted(
                        map(tuple, spark.read.parquet(t).collect())
                    )
            return out

        before = snapshot()
        epoch = corpus_ingest_epoch(
            work, cents, {"*": 0.0}, ref, 1.0, True, True, mdl,
            [0] * 128 + [1], decon, sel_noop, ppl_noop,
            domain_blocklist=["d12.example.org"],
        )
        epoch(
            spark.createDataFrame(batches[1], TestStreamingCorpusPipeline.SCHEMA), 1
        )
        assert snapshot() == before


class TestRetractionWithBothScreens:
    """corpus_retract with span_screen AND near_dedup on (ADVICE r8,
    high): the span sink indexed only near_accepted docs, so retraction's
    gram recount/subtraction must derive from that relation too — a
    near-REJECTED victim contributed no grams and its retraction must
    leave the gram index untouched, while the recount of a survivor's
    epoch must not re-add near-rejected docs' never-admitted grams."""

    @staticmethod
    def _grams(spark, gdir):
        return {
            (r["g"], r["src_batch"]): r["n"]
            for r in spark.read.schema(
                "g long, n long, src_batch long"
            )
            .option("basePath", gdir)
            .parquet(gdir)
            .collect()
        }

    @staticmethod
    def _ingest(spark, work, span_screen=True, near_dedup=True):
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_epoch,
        )

        vec = lambda s: [float(s)] + [0.0] * 63  # noqa: E731
        cents = (
            spark.createDataFrame(
                [(0, vec(1))], "vec_id long, embedding array<float>"
            )
            .orderBy("vec_id")
            .collect()
        )
        epoch = corpus_ingest_epoch(
            work, cents, {"*": 0.0}, span_screen=span_screen, near_dedup=near_dedup
        )

        def run(batch_id, rows):
            epoch(
                spark.createDataFrame(
                    [(i, "web", len(t), t, vec(i)) for i, t in rows],
                    TestStreamingCorpusPipeline.SCHEMA,
                ),
                batch_id,
            )

        return run

    def _setup(self, spark, tmp_path):
        """Epoch 0: base + unrelated. Epoch 1: near-dup of base (near-
        REJECTED → never span-indexed) + a fresh survivor."""
        S = TestNearDupScreenSink
        work = str(tmp_path / "work")
        run = self._ingest(spark, work)
        run(0, [(1, S.BASE), (2, S.UNRELATED)])
        fresh = " ".join(f"f{i}" for i in range(24))
        run(1, [(5, S.END6), (6, fresh)])
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
        )

        dirs = corpus_ingest_dirs(work)
        near1 = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(os.path.join(dirs["near_accepted"], "batch_id=1"))
            .collect()
        }
        assert near1 == {6}  # 5 was near-rejected: never reached the span sink
        return work, dirs

    @pytest.mark.slow
    def test_retracting_near_rejected_victim_leaves_gram_index_untouched(
        self, spark, tmp_path
    ):
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_retract,
        )

        work, dirs = self._setup(spark, tmp_path)
        before = self._grams(spark, dirs["gram_index"])
        removed = corpus_retract(spark, work, [5])
        assert removed["accepted"] == 1  # exact screen had admitted it
        assert removed["gram_index"] == 0
        assert self._grams(spark, dirs["gram_index"]) == before

    @pytest.mark.slow
    def test_recount_of_survivor_epoch_excludes_near_rejected_grams(
        self, spark, tmp_path
    ):
        """Retract the near-ACCEPTED doc 6: epoch 1's gram partition is
        recounted and must come back EMPTY — the near-rejected doc 5 is
        still in `accepted` but never contributed grams."""
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_retract,
        )

        work, dirs = self._setup(spark, tmp_path)
        removed = corpus_retract(spark, work, [6])
        assert removed["gram_index"] > 0
        after = self._grams(spark, dirs["gram_index"])
        assert not any(sb == 1 for (_, sb) in after)  # epoch-1 grams all gone
        assert any(sb == 0 for (_, sb) in after)  # epoch-0 grams intact

    @pytest.mark.slow
    def test_subtraction_after_fold_uses_near_accepted(self, spark, tmp_path):
        """Compacted generation: subtracting a near-rejected victim must
        subtract NOTHING (it shares grams with its near-original, whose
        counts would otherwise be corrupted); subtracting the survivor
        removes exactly its grams."""
        import shutil

        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            compact_span_index,
        )
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_retract,
        )

        work, dirs = self._setup(spark, tmp_path)
        gen2 = str(tmp_path / "gram_gen2")
        compact_span_index(spark, dirs["gram_index"], gen2)
        shutil.rmtree(dirs["gram_index"])
        os.rename(gen2, dirs["gram_index"])

        before = self._grams(spark, dirs["gram_index"])
        removed = corpus_retract(spark, work, [5])  # near-rejected victim
        assert removed["gram_index"] == 0
        assert self._grams(spark, dirs["gram_index"]) == before

        removed = corpus_retract(spark, work, [6])  # the epoch-1 survivor
        assert removed["gram_index"] > 0
        after = self._grams(spark, dirs["gram_index"])
        # doc 6's text is disjoint from epoch 0's: exactly its grams left
        assert sum(after.values()) == sum(before.values()) - removed["gram_index"]

    @pytest.mark.slow
    def test_fold_marker_scopes_subtraction_to_folded_epochs(
        self, spark, tmp_path
    ):
        """ADVICE r8 (medium): an epoch ingested with span_screen=False
        never contributed grams — after a fold, retracting its docs must
        not subtract their (shared) grams from the folded generation."""
        import shutil

        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            compact_span_index,
        )
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_retract,
        )

        S = TestSpanScreenSink
        work = str(tmp_path / "work")
        # epoch 0 WITH the span screen: doc 1 plants span8's grams
        run_on = self._ingest(spark, work, span_screen=True, near_dedup=False)
        run_on(0, [(1, f"a1 a2 {S.SPAN8} a3 a4 a5")])
        # epoch 1 WITHOUT it: doc 9 repeats the same span, adds no grams
        run_off = self._ingest(spark, work, span_screen=False, near_dedup=False)
        run_off(1, [(9, f"b1 b2 {S.SPAN8} b3 b4 b5")])

        dirs = corpus_ingest_dirs(work)
        gen2 = str(tmp_path / "gram_gen2")
        compact_span_index(spark, dirs["gram_index"], gen2)
        shutil.rmtree(dirs["gram_index"])
        os.rename(gen2, dirs["gram_index"])
        import json

        with open(os.path.join(dirs["gram_index"], "_COMPACTED")) as fh:
            assert json.load(fh) == [0]

        before = self._grams(spark, dirs["gram_index"])
        removed = corpus_retract(spark, work, [9])
        assert removed["accepted"] == 1
        assert removed["gram_index"] == 0  # epoch 1 was never folded
        assert self._grams(spark, dirs["gram_index"]) == before


class TestSemDedupScreenSink:
    """streaming/corpus_index.py::semdedup_screen_sink (r10) — ingestion-
    time SEMANTIC dedup: probe the trained coarse/fine hierarchy, verify
    within-cluster against the persistent vector sidecar, llm_semdedup's
    keep contract."""

    DOC_SCHEMA = "doc_id long, text string, embedding array<float>"

    @staticmethod
    def _fv(xs):
        return [float(x) for x in xs]

    @classmethod
    def _planted(cls):
        """The test_semdedup planted geometry: 8 basis directions, exact
        embedding dup pairs (10/11, 50/51), a zero-norm row (30)."""
        def basis(i, dim=8):
            v = [0.0] * dim
            v[i] = 1.0
            return v

        rows = [(i, basis(i)) for i in range(8)]
        rows += [
            (10, cls._fv([0.9, 0.1, 0, 0, 0, 0, 0, 0])),
            (11, cls._fv([0.9, 0.1, 0, 0, 0, 0, 0, 0])),
            (30, [0.0] * 8),
            (50, cls._fv([0, 0, 0, 0.8, 0.2, 0, 0, 0])),
            (51, cls._fv([0, 0, 0, 0.8, 0.2, 0, 0, 0])),
        ]
        return rows

    @staticmethod
    def _train(spark, where, rows):
        from data_ingestion_experiment_otp_spark.operators.clustering import (
            sem_model_dir,
        )

        sf = str(where)
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).coalesce(1).write.parquet(os.path.join(sf, "embeddings.parquet"))
        return sem_model_dir(spark, sf)

    @staticmethod
    def _acc(spark, d, b):
        p = os.path.join(d, f"batch_id={b}")
        if not os.path.isdir(p):
            return None
        return sorted(
            r["doc_id"]
            for r in spark.read.schema("doc_id long").parquet(p).collect()
        )

    @pytest.mark.slow
    def test_single_epoch_keepset_equals_llm_semdedup(self, spark, tmp_path):
        """Batch/streaming tier parity (the r10 Done pin): over one epoch
        with an empty sidecar, the streaming screen's keep-set EQUALS
        `llm_semdedup`'s over the same corpus and trained model — the
        within-batch pass is the batch screen's predicate verbatim.
        Docs without an embedding are admitted besides (no geometry to
        screen; the near screen's short-doc convention). A replayed
        epoch reproduces byte-identical accepted/audit/sidecar rows."""
        from data_ingestion_experiment_otp_spark.operators.clustering import (
            llm_semdedup,
        )
        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            semdedup_screen_sink,
        )

        rows = self._planted()
        sf = tmp_path / "corpus"
        mdl = self._train(spark, sf, rows)
        kept = sorted(
            r["vec_id"]
            for r in llm_semdedup(spark, str(sf)).collect()
            if r["kept"]
        )

        work = str(tmp_path / "work")
        idx, acc, aud = (
            os.path.join(work, d) for d in ("sem_index", "acc", "aud")
        )
        sink = semdedup_screen_sink(mdl, idx, acc, aud)
        docs = spark.createDataFrame(
            [(i, f"text {i}", v) for i, v in rows] + [(99, "no emb", None)],
            self.DOC_SCHEMA,
        )
        sink(docs, 0)
        assert self._acc(spark, acc, 0) == sorted(kept + [99])
        # exact-dup groups: only the first-priority member survives
        audit = {
            r["doc_id"]: r.asDict()
            for r in spark.read.parquet(os.path.join(aud, "batch_id=0")).collect()
        }
        assert {11, 51} <= set(audit)
        assert audit[11]["phase"] == "batch" and audit[11]["dup_of"] == 10
        assert audit[51]["phase"] == "batch" and audit[51]["dup_of"] == 50

        def snap():
            return {
                d: sorted(map(tuple, spark.read.parquet(d).collect()))
                for d in (idx, acc, aud)
            }

        before = snap()
        sink(docs, 0)
        assert snap() == before

    def test_cross_epoch_rejection_and_first_admitted_priority(
        self, spark, tmp_path
    ):
        """An epoch-1 semantic near-dup of an epoch-0 admit is rejected
        with a corpus-phase audit row naming the best indexed match —
        the already-admitted doc is never retro-dropped (first-admitted
        wins, the incremental keep contract); orthogonal content passes;
        and the zero-norm row can never match anything."""
        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            semdedup_screen_sink,
        )

        rows = self._planted()
        mdl = self._train(spark, tmp_path / "corpus", rows)
        work = str(tmp_path / "work")
        idx, acc, aud = (
            os.path.join(work, d) for d in ("sem_index", "acc", "aud")
        )
        sink = semdedup_screen_sink(mdl, idx, acc, aud)
        sink(
            spark.createDataFrame(
                [(1, "t1", self._fv([0, 1, 0, 0, 0, 0, 0, 0]))], self.DOC_SCHEMA
            ),
            0,
        )
        assert self._acc(spark, acc, 0) == [1]
        sink(
            spark.createDataFrame(
                [
                    # cosine to doc 1 = 0.995 >= 0.4 -> corpus reject
                    (20, "t20", self._fv([0.1, 0.99, 0, 0, 0, 0, 0, 0])),
                    # orthogonal -> admitted
                    (21, "t21", self._fv([0, 0, 0, 0, 0, 0, 1, 0])),
                    # zero-norm -> NaN cosine, admitted
                    (22, "t22", [0.0] * 8),
                ],
                self.DOC_SCHEMA,
            ),
            1,
        )
        assert self._acc(spark, acc, 1) == [21, 22]
        audit = {
            r["doc_id"]: r.asDict()
            for r in spark.read.parquet(os.path.join(aud, "batch_id=1")).collect()
        }
        assert set(audit) == {20}
        assert audit[20]["dup_of"] == 1 and audit[20]["phase"] == "corpus"
        # the epoch-0 admit is still in the sidecar (never retro-dropped)
        assert 1 in {
            r["vec_id"]
            for r in spark.read.schema("vec_id long")
            .parquet(idx)
            .collect()
        }

    @staticmethod
    def _load_replica_model(spark, mdl):
        """(C, fine dict cell -> [(fid, cv)]) from the committed artifact,
        for the pure-Python replica."""
        import numpy as np

        from data_ingestion_experiment_otp_spark.operators.clustering import (
            load_sem_model,
        )

        C, fine_df = load_sem_model(spark, mdl)
        fine = {}
        for r in fine_df.collect():
            fine.setdefault(r["cell"], []).append(
                (r["fid"], np.array(r["cv"], dtype=np.float64))
            )
        return C, fine

    @staticmethod
    def _replica_epochs(C, fine, epochs, thr, cap):
        """INDEPENDENT pure-Python replica of the documented screen
        contract — route to the nearest TRAINED coarse cell, fine-assign
        within it, corpus screen vs the cap-bounded first-admitted
        sidecar, within-batch priority predicate — over a list of
        epochs. Returns ([(accepted, audit)] per epoch, final sidecar
        member set)."""
        import numpy as np

        from data_ingestion_experiment_otp_spark.operators.clustering import (
            _SEM_CELL_MULT,
        )

        cells = sorted(fine)

        def grid(x):
            return np.floor(np.abs(x) * 1e6 + 0.5) * np.sign(x) / 1e6

        def cos(a, b):
            na, nb = np.linalg.norm(a), np.linalg.norm(b)
            if na == 0 or nb == 0:
                return float("nan")
            return float(a @ b / (na * nb))

        def assign(v):
            best_cell, bkey = None, (-3.0, None)
            for c in cells:
                s = grid(np.array([cos(v, C[c])]))[0]
                key = (-2.0 if np.isnan(s) else s, -c)
                if best_cell is None or key > bkey:
                    best_cell, bkey = c, key
            best_fid, bkey2, bsim = None, None, None
            for fid, cv in sorted(fine[best_cell]):
                s = grid(np.array([cos(v, cv)]))[0]
                key = (-2.0 if np.isnan(s) else s, -fid)
                if best_fid is None or key > bkey2:
                    best_fid, bkey2, bsim = fid, key, s
            return best_cell * _SEM_CELL_MULT + best_fid, bsim

        index: dict = {}  # cluster -> [(vec_id, sim, vec)] in admit order
        out = []
        for rows in epochs:
            assigned = []
            for i, v in rows:
                cid, s = assign(np.array(v, dtype=np.float64))
                assigned.append((i, cid, s, np.array(v, dtype=np.float64)))
            audit, survivors = [], []
            for i, cid, s, v in assigned:
                # cap = first-admitted members, ordered (epoch, vec_id) —
                # admit order IS that order here
                hits = [
                    (grid(np.array([cos(v, iv)]))[0], ivid)
                    for ivid, _, iv in index.get(cid, [])[:cap]
                ]
                hits = [
                    (c, ivid) for c, ivid in hits if not np.isnan(c) and c >= thr
                ]
                if hits:
                    best = max(hits, key=lambda h: (h[0], -h[1]))
                    audit.append((i, best[1], "corpus"))
                else:
                    survivors.append((i, cid, s, v))
            accepted = []
            for i, cid, s, v in survivors:
                sk = -2.0 if np.isnan(s) else s
                outranked = []
                for j, cj, sj, vj in survivors:
                    if j == i or cj != cid:
                        continue
                    c = grid(np.array([cos(v, vj)]))[0]
                    if np.isnan(c) or c < thr:
                        continue
                    sjk = -2.0 if np.isnan(sj) else sj
                    if sjk < sk or (sjk == sk and j < i):
                        outranked.append((c, j))
                if outranked:
                    best = max(outranked, key=lambda h: (h[0], -h[1]))
                    audit.append((i, best[1], "batch"))
                else:
                    accepted.append(i)
            for i, cid, s, v in survivors:
                if i in accepted:
                    index.setdefault(cid, []).append((i, s, v))
            out.append((sorted(accepted), sorted(audit)))
        members = {i for rows in index.values() for i, _, _ in rows}
        return out, members

    def _drive_and_compare(self, spark, work, mdl, epochs, cap):
        """Drive the sink over `epochs` and assert accepted/audit/sidecar
        equal the replica's, epoch for epoch."""
        from data_ingestion_experiment_otp_spark.operators.clustering import (
            _SEMDEDUP_THRESHOLD,
        )
        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            semdedup_screen_sink,
        )

        C, fine = self._load_replica_model(spark, mdl)
        want, want_members = self._replica_epochs(
            C, fine, epochs, _SEMDEDUP_THRESHOLD, cap
        )
        idx, acc, aud = (
            os.path.join(work, d) for d in ("sem_index", "acc", "aud")
        )
        sink = semdedup_screen_sink(mdl, idx, acc, aud, cluster_cap=cap)
        for b, rows in enumerate(epochs):
            sink(
                spark.createDataFrame(
                    [(i, f"t{i}", v) for i, v in rows], self.DOC_SCHEMA
                ),
                b,
            )
            exp_acc, exp_aud = want[b]
            assert self._acc(spark, acc, b) == exp_acc, b
            got_aud = sorted(
                (r["doc_id"], r["dup_of"], r["phase"])
                for r in spark.read.parquet(
                    os.path.join(aud, f"batch_id={b}")
                ).collect()
            )
            assert got_aud == exp_aud, b
        got_index = {
            r["vec_id"]
            for r in spark.read.schema("vec_id long").parquet(idx).collect()
        }
        assert got_index == want_members

    @pytest.mark.slow
    def test_stream_matches_independent_python_replica(self, spark, tmp_path):
        """Three epochs of deterministic vectors vs the INDEPENDENT pure-
        Python replica of the documented contract — accepted ids, audit
        (doc_id, dup_of, phase), and sidecar membership must agree epoch
        for epoch."""
        import numpy as np

        def vec(i):
            # deterministic multi-cluster geometry: 4 anchor directions
            # with small per-doc jitter, so near-dups straddle epochs
            base = np.zeros(4)
            base[i % 4] = 1.0
            base[(i * 7 + 1) % 4] += ((i * 37) % 11) / 30.0
            return [float(x) for x in base]

        mdl = self._train(
            spark, tmp_path / "corpus", [(i, vec(i)) for i in range(24)]
        )
        epochs = [
            [(i, vec(i)) for i in range(0, 8)],
            [(i, vec(i - 100)) for i in range(100, 110)],  # dups of 0..9
            [(i, vec(i)) for i in range(200, 212)],
        ]
        self._drive_and_compare(spark, str(tmp_path / "work"), mdl, epochs, 128)

    @pytest.mark.slow
    def test_randomized_corpora_match_replica(self, spark, tmp_path):
        """Seeded randomized sweep of the full screen contract (the r9
        banded-screen sweep's methodology applied to the semantic tier):
        5 random corpora — anchor-mixture vectors with planted
        cross-epoch near-dups and the occasional zero-norm row — driven
        3 epochs each with cluster_cap=2, so the first-admitted
        candidate cap actually binds, vs the from-scratch replica."""
        import random

        import numpy as np

        for seed in range(5):
            rng = random.Random(seed)

            def rvec(dim=6):
                v = [0.0] * dim
                v[rng.randrange(3)] = 1.0  # 3 anchor directions
                v[rng.randrange(dim)] += rng.randint(0, 8) / 16.0
                return [float(x) for x in v]

            ids = rng.sample(range(1, 900), 27)
            vecs = {i: rvec() for i in ids}
            # planted cross-epoch near-dups: later docs copy earlier
            # docs' vectors with a small deterministic nudge
            for i in ids[18:24]:
                src = rng.choice(ids[:9])
                v = list(vecs[src])
                v[rng.randrange(6)] += rng.randint(0, 3) / 64.0
                vecs[i] = [float(x) for x in v]
            vecs[ids[26]] = [0.0] * 6  # zero-norm: never matches, admitted
            mdl = self._train(
                spark,
                tmp_path / f"corpus{seed}",
                [(i, vecs[i]) for i in ids[:18]],
            )
            epochs = [
                [(i, vecs[i]) for i in sorted(ids[:9])],
                [(i, vecs[i]) for i in sorted(ids[9:18])],
                [(i, vecs[i]) for i in sorted(ids[18:])],
            ]
            self._drive_and_compare(
                spark, str(tmp_path / f"work{seed}"), mdl, epochs, 2
            )


class TestCapstoneSemDedup:
    """corpus_pipeline.py with a trained sem_model: the semantic screen is
    stage 7, gating every downstream store; RTBF makes a victim's content
    semantically unknown again."""

    @pytest.mark.slow
    def test_sem_screen_gates_downstream_and_rtbf_unknows(self, spark, tmp_path):
        import time

        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_ingest_epoch,
            corpus_retract,
            start_corpus_ingest,
        )

        base = TestNearDupScreenSink.BASE
        end6 = TestNearDupScreenSink.END6
        unrelated = TestNearDupScreenSink.UNRELATED
        fresh = " ".join(f"q{i}" for i in range(25))
        fresh2 = " ".join(f"w{i}" for i in range(25))

        def basis(i, dim=64):
            v = [0.0] * dim
            v[i] = 1.0
            return v

        fv = TestSemDedupScreenSink._fv
        # model trained on 64-dim planted geometry (calibrate-once; the
        # vector-index stage downstream assumes the fixture's 64 dims)
        mdl = TestSemDedupScreenSink._train(
            spark,
            tmp_path / "calib",
            [(i, basis(i % 8)) for i in range(8)]
            + [(10, fv([0.9, 0.1] + [0.0] * 62)),
               (11, fv([0.9, 0.1] + [0.0] * 62)),
               (30, [0.0] * 64),
               (50, fv([0, 0, 0, 0.8, 0.2] + [0.0] * 59))],
        )

        batches = [
            [
                (1, "web", len(base), base, basis(0)),
                (2, "web", len(unrelated), unrelated, basis(1)),
            ],
            [
                # 3 = exact redelivery of 1 (exact screen's kill);
                # 4 = near-dup TEXT of 1 (near screen's kill);
                # 5 = fresh text, orthogonal vector (passes all three);
                # 6 = fresh text, vector ~ doc 1's (SEM screen's kill)
                (3, "web", len(base), base, basis(2)),
                (4, "web", len(end6), end6, basis(3)),
                (5, "forum", len(fresh), fresh, basis(4)),
                (6, "forum", len(fresh2), fresh2, fv([0.95, 0.05] + [0.0] * 62)),
            ],
        ]
        in_dir = str(tmp_path / "feed")
        for rows in batches:
            spark.createDataFrame(
                rows, TestStreamingCorpusPipeline.SCHEMA
            ).coalesce(1).write.mode("append").parquet(in_dir)
            time.sleep(0.05)

        cents = (
            spark.createDataFrame(
                [(0, basis(0)), (1, basis(1))],
                "vec_id long, embedding array<float>",
            )
            .orderBy("vec_id")
            .collect()
        )
        work = str(tmp_path / "work")
        q = start_corpus_ingest(
            spark,
            in_dir,
            work,
            cents,
            {"*": 0.0},
            str(tmp_path / "ckpt"),
            near_dedup=True,
            sem_model=mdl,
        )
        drive.drain(q)

        dirs = corpus_ingest_dirs(work)
        near_accepted = {
            r["doc_id"] for r in spark.read.parquet(dirs["near_accepted"]).collect()
        }
        sem_accepted = {
            r["doc_id"] for r in spark.read.parquet(dirs["sem_accepted"]).collect()
        }
        assert near_accepted == {1, 2, 5, 6}  # near screen killed 4
        assert sem_accepted == {1, 2, 5}  # sem screen killed 6
        audit = {
            r["doc_id"]: r.asDict()
            for r in spark.read.schema(
                "doc_id long, dup_of long, cosine double, phase string"
            )
            .parquet(dirs["sem_audit"])
            .collect()
        }
        assert set(audit) == {6}
        assert audit[6]["dup_of"] == 1 and audit[6]["phase"] == "corpus"
        # every downstream store holds exactly the sem-survivors
        curated = {
            r["doc_id"] for r in spark.read.parquet(dirs["curated"]).collect()
        }
        assert curated <= sem_accepted and 6 not in curated
        from data_ingestion_experiment_otp_spark.streaming.vector_index import (
            index_stats,
        )

        assert index_stats(spark, dirs["vector_index"])["vec_rows"] == 3
        tdocs = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .option("basePath", dirs["text_index"])
            .parquet(os.path.join(dirs["text_index"], "doclen"))
            .collect()
        }
        assert tdocs == sem_accepted

        # RTBF: retract doc 1 — its vector leaves the sidecar, so a
        # fresh doc with doc-6-like geometry is semantically UNKNOWN
        # again and gets admitted (doc 6's own vector was never indexed).
        removed = corpus_retract(spark, work, [1])
        assert removed["sem_accepted"] == 1
        assert removed["sem_index"] == 1
        assert removed["sem_audit"] == 1  # the dup_of=1 reference goes too
        epoch = corpus_ingest_epoch(
            work, cents, {"*": 0.0}, near_dedup=True, sem_model=mdl
        )
        epoch(
            spark.createDataFrame(
                [(9, "web", 20, " ".join(f"z{i}" for i in range(25)),
                  fv([0.96, 0.04] + [0.0] * 62))],
                TestStreamingCorpusPipeline.SCHEMA,
            ),
            5,
        )
        assert TestNearDupScreenSink._ids(spark, dirs["sem_accepted"], 5) == [9]

    def test_off_by_default(self, spark, tmp_path):
        """No sem_model (the default) writes none of the three semantic
        stores and admits semantic dups exactly as before."""
        import time

        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            start_corpus_ingest,
        )

        def basis(i, dim=64):
            v = [0.0] * dim
            v[i] = 1.0
            return v

        fv = TestSemDedupScreenSink._fv
        in_dir = str(tmp_path / "feed")
        spark.createDataFrame(
            [
                (1, "web", 9, "alpha one", basis(0)),
                (2, "web", 9, "beta twos", fv([0.95, 0.05] + [0.0] * 62)),
            ],
            TestStreamingCorpusPipeline.SCHEMA,
        ).coalesce(1).write.parquet(in_dir)
        time.sleep(0.05)
        cents = (
            spark.createDataFrame(
                [(0, basis(0))], "vec_id long, embedding array<float>"
            )
            .orderBy("vec_id")
            .collect()
        )
        work = str(tmp_path / "work")
        q = start_corpus_ingest(
            spark, in_dir, work, cents, {"*": 0.0}, str(tmp_path / "ckpt")
        )
        drive.drain(q)
        dirs = corpus_ingest_dirs(work)
        assert not os.path.isdir(dirs["sem_index"])
        assert not os.path.isdir(dirs["sem_accepted"])
        curated = {
            r["doc_id"] for r in spark.read.parquet(dirs["curated"]).collect()
        }
        assert {1, 2} <= curated  # both admitted: no semantic screen ran


class TestSemIndexCompaction:
    """corpus_index.py::compact_sem_index (r10): folding the semantic
    sidecar must preserve screening BYTE-IDENTICALLY even on clusters
    where the probe cap binds — the candidate order is the `adm` admit-
    epoch data column, which the fold carries through (src_batch, the
    partition value it rewrites to 0, is only the replay guard's key)."""

    @pytest.mark.slow
    def test_fold_preserves_screening_under_binding_cap(self, spark, tmp_path):
        import shutil

        import numpy as np

        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            compact_sem_index,
            semdedup_screen_sink,
        )

        def basis(i, dim=12):
            v = [0.0] * dim
            v[i] = 1.0
            return v

        # trained cells over 12 orthogonal directions: per-cell fine
        # budgets are 1 (cells hold < 32 members), so cluster == cell and
        # same-cell members are mutually orthogonal (never near-dups)
        mdl = TestSemDedupScreenSink._train(
            spark, tmp_path / "calib", [(i, basis(i)) for i in range(12)]
        )
        C, fine = TestSemDedupScreenSink._load_replica_model(spark, mdl)
        cells = sorted(fine)

        def cell_of(v):
            v = np.array(v, dtype=np.float64)
            best, bkey = None, None
            for c in cells:
                cv = C[c]
                s = float(v @ cv / (np.linalg.norm(v) * np.linalg.norm(cv)))
                key = (np.floor(abs(s) * 1e6 + 0.5) * np.sign(s) / 1e6, -c)
                if best is None or key > bkey:
                    best, bkey = c, key
            return best

        groups: dict = {}
        for d in range(12):
            groups.setdefault(cell_of(basis(d)), []).append(d)
        dirs3 = next(ds for ds in groups.values() if len(ds) >= 3)[:3]

        # admit the three same-cluster directions across three epochs
        # with vec_ids DESCENDING, so admit order INVERTS vec_id order —
        # exactly the case where a fold losing the admit epoch would
        # reorder the cap's first-admitted prefix
        fv = TestSemDedupScreenSink._fv
        work = str(tmp_path / "work")
        idx, acc, aud = (
            os.path.join(work, d) for d in ("sem_index", "acc", "aud")
        )
        sink = semdedup_screen_sink(mdl, idx, acc, aud, cluster_cap=2)
        for b, (vid, d) in enumerate(zip((300, 200, 100), dirs3)):
            sink(
                spark.createDataFrame(
                    [(vid, f"t{vid}", basis(d))],
                    TestSemDedupScreenSink.DOC_SCHEMA,
                ),
                b,
            )
        assert {
            r["vec_id"]
            for r in spark.read.schema("vec_id long").parquet(idx).collect()
        } == {300, 200, 100}

        # probe batch: near the FIRST-admitted member (rejected — it is
        # inside the cap-2 candidate prefix) and near the THIRD-admitted
        # member (ADMITTED — cap-shadowed; under a vec_id-ordered fold
        # vec 100 would lead the prefix and flip this outcome)
        def near(d, other):
            v = [0.0] * 12
            v[d] = 0.95
            v[other] = 0.05
            return fv(v)

        probe = spark.createDataFrame(
            [
                (900, "p1", near(dirs3[0], dirs3[1])),
                (901, "p2", near(dirs3[2], dirs3[0])),
            ],
            TestSemDedupScreenSink.DOC_SCHEMA,
        )

        def run(index_dir, tag):
            a = os.path.join(str(tmp_path), f"acc_{tag}")
            u = os.path.join(str(tmp_path), f"aud_{tag}")
            s = semdedup_screen_sink(mdl, index_dir, a, u, cluster_cap=2)
            s(probe, 3)
            accd = sorted(
                r["doc_id"]
                for r in spark.read.schema("doc_id long")
                .parquet(os.path.join(a, "batch_id=3"))
                .collect()
            )
            audr = sorted(
                map(tuple, spark.read.parquet(os.path.join(u, "batch_id=3")).collect())
            )
            return accd, audr

        stacked_idx = os.path.join(str(tmp_path), "idx_stacked")
        shutil.copytree(idx, stacked_idx)
        folded_idx = os.path.join(str(tmp_path), "idx_folded")
        compact_sem_index(spark, idx, folded_idx)
        assert os.path.isfile(os.path.join(folded_idx, "_COMPACTED"))
        assert [
            e for e in sorted(os.listdir(folded_idx)) if e.startswith("src_batch=")
        ] == ["src_batch=0"]

        got_stacked = run(stacked_idx, "stacked")
        got_folded = run(folded_idx, "folded")
        assert got_stacked == got_folded
        acc3, aud3 = got_stacked
        # the cap genuinely decided: 900 rejected against the first
        # admit, 901 admitted because its match is cap-shadowed
        assert acc3 == [901]
        assert [(r[0], r[1], r[3]) for r in aud3] == [(900, 300, "corpus")]


class TestSemReplayAfterFold:
    """ADVICE r10: the semantic screen's replay guard is the `adm`
    ADMIT-EPOCH data column (src_batch rides along only for partition
    pruning), so replaying an old epoch against a swapped-in FOLDED
    sidecar reproduces byte-identical accepted/audit output. The old
    src_batch-only guard let the replayed epoch see its own admitted
    vectors (self-match at cosine 1.0) and any later epoch's — the two
    store contracts (epoch replay, compaction) did not compose."""

    @pytest.mark.slow
    def test_replay_of_folded_epoch_byte_identical(self, spark, tmp_path):
        import shutil

        import numpy as np

        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            compact_sem_index,
            semdedup_screen_sink,
        )

        def basis(i, dim=12):
            v = [0.0] * dim
            v[i] = 1.0
            return v

        mdl = TestSemDedupScreenSink._train(
            spark, tmp_path / "calib", [(i, basis(i)) for i in range(12)]
        )
        C, fine = TestSemDedupScreenSink._load_replica_model(spark, mdl)
        cells = sorted(fine)

        def cell_of(v):
            v = np.array(v, dtype=np.float64)
            best, bkey = None, None
            for c in cells:
                cv = C[c]
                s = float(v @ cv / (np.linalg.norm(v) * np.linalg.norm(cv)))
                key = (np.floor(abs(s) * 1e6 + 0.5) * np.sign(s) / 1e6, -c)
                if best is None or key > bkey:
                    best, bkey = c, key
            return best

        groups: dict = {}
        for d in range(12):
            groups.setdefault(cell_of(basis(d)), []).append(d)
        da, db, dc = next(ds for ds in groups.values() if len(ds) >= 3)[:3]

        fv = TestSemDedupScreenSink._fv

        def near(d, other):
            v = [0.0] * 12
            v[d] = 0.95
            v[other] = 0.05
            return fv(v)

        # epoch 0: vec 300 (dir a); epoch 1: vec 200 (dir b, orthogonal
        # to a -> ADMITTED); epoch 2: vec 100 NEAR dir b -> rejected
        # against 200 (a later-epoch audit reference to the epoch under
        # replay, plus 200's own folded sidecar row: both hazards the
        # adm guard must exclude when epoch 1 replays)
        epochs = [
            (0, [(300, "t300", fv(basis(da)))]),
            (1, [(200, "t200", fv(basis(db)))]),
            (2, [(100, "t100", near(db, dc))]),
        ]
        idx, acc, aud = (
            os.path.join(str(tmp_path), d) for d in ("sem_index", "acc", "aud")
        )
        sink = semdedup_screen_sink(mdl, idx, acc, aud, cluster_cap=2)
        for b, rows in epochs:
            sink(
                spark.createDataFrame(rows, TestSemDedupScreenSink.DOC_SCHEMA), b
            )

        def outputs(acc_dir, aud_dir, b):
            a = sorted(
                r["doc_id"]
                for r in spark.read.schema("doc_id long")
                .parquet(os.path.join(acc_dir, f"batch_id={b}"))
                .collect()
            )
            u = sorted(
                map(
                    tuple,
                    spark.read.parquet(
                        os.path.join(aud_dir, f"batch_id={b}")
                    ).collect(),
                )
            )
            return a, u

        orig1 = outputs(acc, aud, 1)
        assert orig1[0] == [200] and orig1[1] == []  # admitted, no audit
        assert outputs(acc, aud, 2)[0] == []  # 100 rejected against 200

        folded = os.path.join(str(tmp_path), "idx_folded")
        compact_sem_index(spark, idx, folded)
        replay_idx = os.path.join(str(tmp_path), "idx_replay")
        shutil.copytree(folded, replay_idx)

        acc_r = os.path.join(str(tmp_path), "acc_replay")
        aud_r = os.path.join(str(tmp_path), "aud_replay")
        rsink = semdedup_screen_sink(mdl, replay_idx, acc_r, aud_r, cluster_cap=2)
        rsink(
            spark.createDataFrame(epochs[1][1], TestSemDedupScreenSink.DOC_SCHEMA),
            1,
        )
        assert outputs(acc_r, aud_r, 1) == orig1  # byte-identical replay
        # the replayed sidecar contribution is also identical rows
        rep = spark.read.schema("vec_id long, adm long").parquet(
            os.path.join(replay_idx, "src_batch=1")
        )
        assert [(r["vec_id"], r["adm"]) for r in rep.collect()] == [(200, 1)]


class TestClassifierGateSink:
    """curation.py::classifier_gate_sink (r11) — the trained model
    quality gate served at ingest (stage 8): margin = fx·w over the
    classifier feature space, keep = margin > 0, token-less docs pass
    through unscored, stateless replay, RTBF row filters."""

    SCHEMA = TestStreamingCorpusPipeline.SCHEMA

    KEEP_WORDS = (
        "the and with that " + " ".join(f"w{j}ord" for j in range(56))
    )
    # same token count as KEEP_WORDS (the bias feature cancels in
    # training, so the bucket weights must do the separating), zero
    # stopwords -> Gopher labels it drop
    DROP_WORDS = " ".join(f"zzjunk{j}" for j in range(60))

    @classmethod
    def _train_weights(cls, spark, where):
        """Train the gate on a planted corpus whose Gopher labels split:
        long stop-bearing docs keep (+1), short docs drop (-1)."""
        import os

        from data_ingestion_experiment_otp_spark.operators.text_analysis import (
            llm_quality_classifier_train,
        )

        rows = []
        for i in range(6):
            rows.append((i, cls.KEEP_WORDS + f" extra{i}", "xx", "s0", 400))
        for i in range(6, 12):
            rows.append((i, cls.DROP_WORDS + f" zz{i}", "xx", "s0", 400))
        d = os.path.join(str(where), "fixture")
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        wt = {
            r["feat"]: r["weight"]
            for r in llm_quality_classifier_train(spark, d).collect()
        }
        return [wt[f] for f in range(len(wt))]

    @staticmethod
    def _margin_replica(text, weights):
        """Independent margin replica: its own fold, bucket and dot-product
        arithmetic (mirrors the published formula, not the module code)."""
        ws = [w for w in (text or "").split(" ") if w]
        if not ws:
            return None
        MOD, B = 2097143, 64
        hs = []
        for w in ws:
            a = 0
            for ch in w:
                a = (a * 31 + ord(ch)) % MOD
            hs.append(a)
        m = 0
        for h in hs:
            m += weights[h % B]
        for i in range(len(hs) - 1):
            m += weights[B + (hs[i] * 31 + hs[i + 1]) % B]
        m += weights[2 * B] * len(ws)
        return m

    def test_gate_matches_trained_predicate_passthrough_and_replay(
        self, spark, tmp_path
    ):
        from data_ingestion_experiment_otp_spark.streaming.curation import (
            classifier_gate_sink,
        )

        w = self._train_weights(spark, tmp_path / "calib")
        docs = [
            (100, "web", 400, self.KEEP_WORDS + " novel100", [0.1] * 4),
            (101, "web", 400, self.DROP_WORDS + " zznovel", [0.2] * 4),
            (102, "web", 0, None, [0.3] * 4),  # null text: pass through
            (103, "web", 1, "", [0.4] * 4),  # token-less: pass through
        ]
        acc = os.path.join(str(tmp_path), "gate_acc")
        aud = os.path.join(str(tmp_path), "gate_aud")
        sink = classifier_gate_sink(w, acc, aud)
        batch = spark.createDataFrame(docs, self.SCHEMA)
        sink(batch, 0)

        def read(b):
            a = sorted(
                r["doc_id"]
                for r in spark.read.schema("doc_id long")
                .parquet(os.path.join(acc, f"batch_id={b}"))
                .collect()
            )
            u = sorted(
                map(
                    tuple,
                    spark.read.schema("doc_id long, margin long")
                    .parquet(os.path.join(aud, f"batch_id={b}"))
                    .collect(),
                )
            )
            return a, u

        accepted, audit = read(0)
        # independent replica decides the expected keep set
        want_keep, want_audit = [], []
        for i, _s, _n, t, _v in docs:
            m = self._margin_replica(t, w)
            if m is None or m > 0:
                want_keep.append(i)
            else:
                want_audit.append((i, m))
        assert accepted == sorted(want_keep)
        assert audit == sorted(want_audit)
        assert 100 in accepted  # the trained gate keeps the keep-shaped doc
        assert any(i == 101 for i, _ in audit)  # and drops the drop-shaped
        assert {102, 103} <= set(accepted)  # outside-population passthrough

        sink(batch, 0)  # replay: byte-identical outputs
        assert read(0) == (accepted, audit)

    @pytest.mark.slow
    def test_capstone_stage8_gates_downstream_rtbf_and_off_by_default(
        self, spark, tmp_path
    ):
        import time

        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_retract,
            start_corpus_ingest,
        )

        w = self._train_weights(spark, tmp_path / "calib")

        def basis(i, dim=64):
            v = [0.0] * dim
            v[i] = 1.0
            return v

        batches = [
            [
                (1, "web", 400, self.KEEP_WORDS + " one", basis(0)),
                (2, "web", 400, self.DROP_WORDS + " zztwo", basis(1)),
            ],
            [
                (3, "web", 400, self.KEEP_WORDS + " three", basis(2)),
                (4, "web", 400, self.DROP_WORDS + " zzfour", basis(3)),
            ],
        ]
        in_dir = str(tmp_path / "feed")
        for rows in batches:
            spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)
            time.sleep(0.05)
        cents = (
            spark.createDataFrame(
                [(0, basis(0)), (1, basis(1))],
                "vec_id long, embedding array<float>",
            )
            .orderBy("vec_id")
            .collect()
        )
        work = str(tmp_path / "work")
        q = start_corpus_ingest(
            spark,
            in_dir,
            work,
            cents,
            {"*": 0.0},
            str(tmp_path / "ckpt"),
            gate_weights=w,
        )
        drive.drain(q)

        dirs = corpus_ingest_dirs(work)
        gate_acc = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(dirs["gate_accepted"])
            .collect()
        }
        assert gate_acc == {1, 3}  # model gate killed the short docs
        audit_ids = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long, margin long")
            .parquet(dirs["gate_audit"])
            .collect()
        }
        assert audit_ids == {2, 4}
        # every downstream store holds only gate survivors
        curated = {
            r["doc_id"] for r in spark.read.parquet(dirs["curated"]).collect()
        }
        assert curated <= gate_acc
        tdocs = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(os.path.join(dirs["text_index"], "doclen"))
            .collect()
        }
        assert tdocs == gate_acc

        # RTBF: retract a gate survivor -> leaves gate_accepted; a
        # gate-rejected doc's audit row goes too
        removed = corpus_retract(spark, work, [1, 2])
        assert removed["gate_accepted"] == 1
        assert removed["gate_audit"] == 1
        left_acc = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(dirs["gate_accepted"])
            .collect()
        }
        assert left_acc == {3}
        left_aud = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long, margin long")
            .parquet(dirs["gate_audit"])
            .collect()
        }
        assert left_aud == {4}

        # off by default: a run without gate_weights writes no gate dirs
        work2 = str(tmp_path / "work2")
        q2 = start_corpus_ingest(
            spark,
            in_dir,
            work2,
            cents,
            {"*": 0.0},
            str(tmp_path / "ckpt2"),
        )
        drive.drain(q2)
        d2 = corpus_ingest_dirs(work2)
        assert not os.path.isdir(d2["gate_accepted"])
        assert not os.path.isdir(d2["gate_audit"])
        curated2 = {
            r["doc_id"] for r in spark.read.parquet(d2["curated"]).collect()
        }
        assert curated2 == {1, 2, 3, 4}  # no model gate: all four flow


class TestDeconGateSink:
    """curation.py::decon_gate_sink (r11b) — benchmark decontamination
    served at ingest (stage 9): a doc sharing ANY 3-gram shingle with the
    calibrated benchmark set is rejected, short/null docs pass through,
    stateless replay, RTBF row filters, batch parity with
    llm_decontaminate on the identical corpus split."""

    SCHEMA = TestStreamingCorpusPipeline.SCHEMA

    BENCH_TEXTS = [
        "the quick brown fox jumps over the lazy dog tonight",
        "benchmark question alpha beta gamma delta answer key here",
    ]

    @staticmethod
    def _bench_hashes(spark, texts):
        from data_ingestion_experiment_otp_spark.streaming.curation import (
            benchmark_shingles,
        )

        bench = spark.createDataFrame([(t,) for t in texts], "text string")
        return benchmark_shingles(bench)

    @staticmethod
    def _shared_trigrams(a: str, b: str) -> int:
        """Independent replica of the contamination measure: distinct
        3-gram STRING shingles shared (the hash is engine-private; the
        string gram space is what the batch oracle compares too)."""

        def grams(t):
            ws = [w for w in (t or "").split(" ") if w]
            return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

        return len(grams(a) & grams(b))

    def test_gate_matches_batch_decontaminate_and_replay(self, spark, tmp_path):
        import os

        from data_ingestion_experiment_otp_spark.operators.dedup import (
            llm_decontaminate,
        )
        from data_ingestion_experiment_otp_spark.streaming.curation import (
            decon_gate_sink,
        )

        hs = self._bench_hashes(spark, self.BENCH_TEXTS)
        assert len(hs) == len(set(hs)) and hs == sorted(hs)

        docs = [
            # shares "jumps over the" + "over the lazy" with benchmark 0
            (10, "web", 300, "words then jumps over the lazy dog stuff", [0.1] * 4),
            # shares one gram with benchmark 1
            (11, "web", 300, "see alpha beta gamma end of line", [0.2] * 4),
            # clean: no 3-gram overlap
            (12, "web", 300, "completely fresh training content no overlap at all", [0.3] * 4),
            (13, "web", 0, None, [0.4] * 4),  # null text: pass through
            (14, "web", 5, "two words", [0.5] * 4),  # < 3 tokens: pass
        ]
        acc = os.path.join(str(tmp_path), "decon_acc")
        aud = os.path.join(str(tmp_path), "decon_aud")
        sink = decon_gate_sink(hs, acc, aud)
        batch = spark.createDataFrame(docs, self.SCHEMA)
        sink(batch, 0)

        def read(b):
            a = sorted(
                r["doc_id"]
                for r in spark.read.schema("doc_id long")
                .parquet(os.path.join(acc, f"batch_id={b}"))
                .collect()
            )
            u = sorted(
                map(
                    tuple,
                    spark.read.schema("doc_id long, n_shared_ngrams long")
                    .parquet(os.path.join(aud, f"batch_id={b}"))
                    .collect(),
                )
            )
            return a, u

        accepted, audit = read(0)
        # independent replica decides the expected sets
        want_audit = []
        for i, _s, _n, t, _v in docs:
            shared = sum(
                self._shared_trigrams(t, bt) for bt in self.BENCH_TEXTS
            ) if t else 0
            # distinct across the whole suite (no cross-benchmark dups in
            # the fixture, so the per-text sum IS the distinct count)
            if shared > 0:
                want_audit.append((i, shared))
        assert audit == sorted(want_audit)
        assert accepted == sorted(
            i for i, *_ in docs if i not in {a for a, _ in want_audit}
        )
        assert {13, 14} <= set(accepted)  # outside-population passthrough

        sink(batch, 0)  # stateless replay: byte-identical outputs
        assert read(0) == (accepted, audit)

        # batch parity: llm_decontaminate over a fixture where doc_id%50==0
        # marks the benchmark — the SAME corpus split, so its contaminated
        # rows must equal the gate's audit on the train docs
        fixture = os.path.join(str(tmp_path), "fixture")
        bench_rows = [
            (50 * k, t, "xx", "bench", len(t))
            for k, t in enumerate(self.BENCH_TEXTS)
        ]
        train_rows = [(i, t, "xx", "web", n) for i, _s, n, t, _v in docs]
        spark.createDataFrame(
            bench_rows + train_rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(os.path.join(fixture, "documents.parquet"))
        got = sorted(
            (r["doc_id"], r["n_shared_ngrams"])
            for r in llm_decontaminate(spark, fixture).collect()
        )
        assert got == sorted(want_audit)

    @pytest.mark.slow
    def test_capstone_stage9_gates_downstream_rtbf_and_off_by_default(
        self, spark, tmp_path
    ):
        import os
        import time

        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_retract,
            start_corpus_ingest,
        )

        hs = self._bench_hashes(spark, self.BENCH_TEXTS)

        def basis(i, dim=64):
            v = [0.0] * dim
            v[i] = 1.0
            return v

        clean = "fresh corpus content with plenty of ordinary training words"
        dirty = "prefix then the quick brown fox jumps over suffix words"
        batches = [
            [
                (1, "web", 300, clean + " one", basis(0)),
                (2, "web", 300, dirty + " two", basis(1)),
            ],
            [
                (3, "web", 300, clean + " three", basis(2)),
                (4, "web", 300, dirty + " four", basis(3)),
            ],
        ]
        in_dir = str(tmp_path / "feed")
        for rows in batches:
            spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)
            time.sleep(0.05)
        cents = (
            spark.createDataFrame(
                [(0, basis(0)), (1, basis(1))],
                "vec_id long, embedding array<float>",
            )
            .orderBy("vec_id")
            .collect()
        )
        work = str(tmp_path / "work")
        q = start_corpus_ingest(
            spark,
            in_dir,
            work,
            cents,
            {"*": 0.0},
            str(tmp_path / "ckpt"),
            decon_hashes=hs,
        )
        drive.drain(q)

        dirs = corpus_ingest_dirs(work)
        dec_acc = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(dirs["decon_accepted"])
            .collect()
        }
        assert dec_acc == {1, 3}  # contaminated docs rejected
        audit = {
            (r["doc_id"], r["n_shared_ngrams"])
            for r in spark.read.schema("doc_id long, n_shared_ngrams long")
            .parquet(dirs["decon_audit"])
            .collect()
        }
        assert {a for a, _ in audit} == {2, 4}
        assert all(n > 0 for _, n in audit)
        # every downstream store holds only decon survivors
        curated = {
            r["doc_id"] for r in spark.read.parquet(dirs["curated"]).collect()
        }
        assert curated <= dec_acc
        tdocs = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(os.path.join(dirs["text_index"], "doclen"))
            .collect()
        }
        assert tdocs == dec_acc

        # RTBF: a decon survivor leaves decon_accepted; a rejected doc's
        # audit row goes too
        removed = corpus_retract(spark, work, [1, 2])
        assert removed["decon_accepted"] == 1
        assert removed["decon_audit"] == 1
        left_acc = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(dirs["decon_accepted"])
            .collect()
        }
        assert left_acc == {3}
        left_aud = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long, n_shared_ngrams long")
            .parquet(dirs["decon_audit"])
            .collect()
        }
        assert left_aud == {4}

        # off by default: a run without decon_hashes writes no decon dirs
        work2 = str(tmp_path / "work2")
        q2 = start_corpus_ingest(
            spark,
            in_dir,
            work2,
            cents,
            {"*": 0.0},
            str(tmp_path / "ckpt2"),
        )
        drive.drain(q2)
        d2 = corpus_ingest_dirs(work2)
        assert not os.path.isdir(d2["decon_accepted"])
        assert not os.path.isdir(d2["decon_audit"])
        curated2 = {
            r["doc_id"] for r in spark.read.parquet(d2["curated"]).collect()
        }
        assert curated2 == {1, 2, 3, 4}  # no decon gate: all four flow


class TestDsirGateSink:
    """curation.py::dsir_gate_sink (r12) — DSIR data selection served at
    ingest (stage 10): docs clearing the calibrated per-source importance
    threshold pass, the rest land in the audit with their logratios;
    short/null docs pass through, stateless replay, RTBF row filters,
    batch parity with llm_dsir_select_approx on the identical corpus."""

    SCHEMA = TestStreamingCorpusPipeline.SCHEMA

    @staticmethod
    def _bucket(word: str) -> int:
        """Independent replica of the hashed-unigram bucket (the
        classifier codepoint fold mod B) for handcrafting calibrations."""
        from data_ingestion_experiment_otp_spark.operators.sampling import (
            _DSIR_BUCKETS,
        )
        from data_ingestion_experiment_otp_spark.operators.text_analysis import (
            _QC_HASH_MOD,
        )

        a = 0
        for ch in word:
            a = (a * 31 + ord(ch)) % _QC_HASH_MOD
        return a % _DSIR_BUCKETS

    def test_gate_matches_batch_select_approx_and_replay(self, spark, sf_dir, tmp_path):
        """Calibrate on the fixture corpus, feed the SAME corpus through
        the gate in two epochs: the union of kept docs must equal the
        batch llm_dsir_select_approx's selected set (same models, same
        percentile thresholds, same round-6 logratios), audit rows must
        carry the batch scorer's exact logratio values, and a replayed
        epoch reproduces both outputs."""
        import os

        from data_ingestion_experiment_otp_spark.operators.sampling import (
            _dsir_scores,
            dsir_calibration,
            llm_dsir_select_approx,
        )
        from data_ingestion_experiment_otp_spark.sources.catalog import load
        from data_ingestion_experiment_otp_spark.streaming.curation import (
            dsir_gate_sink,
        )

        calib = dsir_calibration(spark, sf_dir)
        assert len(calib["c_r"]) > 0 and calib["rtot"] > 0

        docs = load(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars", "text"
        )
        acc = os.path.join(str(tmp_path), "sel_acc")
        aud = os.path.join(str(tmp_path), "sel_aud")
        sink = dsir_gate_sink(calib, acc, aud)
        b0 = docs.filter(F.pmod("doc_id", F.lit(2)) == 0)
        b1 = docs.filter(F.pmod("doc_id", F.lit(2)) == 1)
        sink(b0, 0)
        sink(b1, 1)

        kept = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .option("basePath", acc)
            .parquet(acc)
            .collect()
        }
        audit = {
            r["doc_id"]: r["logratio"]
            for r in spark.read.schema("doc_id long, logratio double")
            .option("basePath", aud)
            .parquet(aud)
            .collect()
        }
        batch = {
            r["doc_id"]: (r["selected"], r["logratio"])
            for r in llm_dsir_select_approx(spark, sf_dir).collect()
        }
        scored_ids = set(batch)
        all_ids = {r["doc_id"] for r in docs.collect()}
        # outside-population docs (no tokens) pass through unscored
        want_kept = {i for i, (sel, _) in batch.items() if sel} | (
            all_ids - scored_ids
        )
        assert kept == want_kept
        assert set(audit) == {i for i, (sel, _) in batch.items() if not sel}
        for i, lr in audit.items():
            assert lr == batch[i][1], i  # the batch scorer's exact value

        # stateless replay: byte-identical epoch outputs
        sink(b0, 0)
        kept2 = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .option("basePath", acc)
            .parquet(acc)
            .collect()
        }
        assert kept2 == kept
        # sanity: the scorer relation the calibration derives from is the
        # batch scorer (one definition) — spot-check one doc end to end
        # (at tiny SFs the quality stratum can equal the whole corpus,
        # making every logratio the same constant and the audit empty —
        # the split behavior is the handcrafted capstone test's job)
        if audit:
            some = next(iter(audit))
            got = (
                _dsir_scores(spark, sf_dir)
                .filter(F.col("doc_id") == some)
                .first()["logratio"]
            )
            assert got == audit[some]

    @pytest.mark.slow
    def test_capstone_stage10_gates_downstream_rtbf_and_off_by_default(
        self, spark, tmp_path
    ):
        import os
        import time

        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_retract,
            start_corpus_ingest,
        )

        # handcrafted calibration: the target model holds ONLY the good
        # token's bucket. Tokens unseen at calibration score the mild
        # positive ln((rtot+B)/(ttot+B)); goodword the same; badword
        # (raw-only) a strong negative — so a 4-token doc averages > 0
        # with goodword and < 0 with badword, and threshold 0.0 splits
        # them. Texts are non-repetitive so the curation repetition gate
        # downstream stays out of the way.
        gb, bb = self._bucket("goodword"), self._bucket("badword")
        assert gb != bb
        calib = {
            "c_r": {gb: 50, bb: 50},
            "c_t": {gb: 50},
            "rtot": 100,
            "ttot": 50,
            "thr": {},
            "thr_global": 0.0,
        }

        def basis(i, dim=64):
            v = [0.0] * dim
            v[i] = 1.0
            return v

        batches = [
            [
                (1, "web", 300, "goodword alpha beta one", basis(0)),
                (2, "web", 300, "badword delta epsilon two", basis(1)),
            ],
            [
                (3, "web", 300, "goodword zeta eta three", basis(2)),
                (4, "web", 300, "badword theta iota four", basis(3)),
            ],
        ]
        in_dir = str(tmp_path / "feed")
        for rows in batches:
            spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)
            time.sleep(0.05)
        cents = (
            spark.createDataFrame(
                [(0, basis(0)), (1, basis(1))],
                "vec_id long, embedding array<float>",
            )
            .orderBy("vec_id")
            .collect()
        )
        work = str(tmp_path / "work")
        q = start_corpus_ingest(
            spark,
            in_dir,
            work,
            cents,
            {"*": 0.0},
            str(tmp_path / "ckpt"),
            select_calib=calib,
        )
        drive.drain(q)

        dirs = corpus_ingest_dirs(work)
        sel_acc = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(dirs["sel_accepted"])
            .collect()
        }
        assert sel_acc == {1, 3}  # low-importance docs not selected
        audit = {
            (r["doc_id"], r["logratio"])
            for r in spark.read.schema("doc_id long, logratio double")
            .parquet(dirs["sel_audit"])
            .collect()
        }
        assert {a for a, _ in audit} == {2, 4}
        assert all(lr < 0 for _, lr in audit)
        # every downstream store holds only selection survivors
        curated = {
            r["doc_id"] for r in spark.read.parquet(dirs["curated"]).collect()
        }
        assert curated <= sel_acc
        tdocs = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(os.path.join(dirs["text_index"], "doclen"))
            .collect()
        }
        assert tdocs == sel_acc

        # RTBF: a selected doc leaves sel_accepted; an unselected doc's
        # audit row goes too
        removed = corpus_retract(spark, work, [1, 2])
        assert removed["sel_accepted"] == 1
        assert removed["sel_audit"] == 1
        left_acc = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(dirs["sel_accepted"])
            .collect()
        }
        assert left_acc == {3}
        left_aud = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long, logratio double")
            .parquet(dirs["sel_audit"])
            .collect()
        }
        assert left_aud == {4}

        # off by default: a run without select_calib writes no sel dirs
        work2 = str(tmp_path / "work2")
        q2 = start_corpus_ingest(
            spark,
            in_dir,
            work2,
            cents,
            {"*": 0.0},
            str(tmp_path / "ckpt2"),
        )
        drive.drain(q2)
        d2 = corpus_ingest_dirs(work2)
        assert not os.path.isdir(d2["sel_accepted"])
        assert not os.path.isdir(d2["sel_audit"])
        curated2 = {
            r["doc_id"] for r in spark.read.parquet(d2["curated"]).collect()
        }
        assert curated2 == {1, 2, 3, 4}  # no selection gate: all four flow


class TestPplGateSink:
    """curation.py::ppl_gate_sink (r12) — the trained trigram LM served
    as an ingest-time quality gate (stage 11): docs whose avg_bits under
    the COMMITTED model land past the calibrated tail cut are rejected;
    null/token-less/all-OOV docs pass through, stateless replay, RTBF
    row filters, batch parity with the artifact-served scorer."""

    SCHEMA = TestStreamingCorpusPipeline.SCHEMA

    PHRASE = "the quick brown fox jumps over the lazy dog"
    SCRAMBLE = "dog the fox brown lazy the jumps quick over"

    @staticmethod
    def _corpus(spark, path, rows):
        import os

        spark.createDataFrame(
            [(i, t, lang, "web", len(t)) for i, t, lang in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(os.path.join(str(path), "documents.parquet"))
        return str(path)

    def test_gate_matches_batch_scorer_passthrough_and_replay(
        self, spark, tmp_path
    ):
        import os

        from data_ingestion_experiment_otp_spark.operators.ngram_lm import (
            _trigram_scores,
            ppl_gate_calibration,
        )
        from data_ingestion_experiment_otp_spark.streaming.curation import (
            ppl_gate_sink,
        )

        # calibration corpus: 4 boilerplate docs (low bits) + 2 scrambles
        # (high bits) -> the 2/3 cut lands between the two populations
        corpus = self._corpus(
            spark,
            tmp_path / "corpus",
            [(i, " ".join([self.PHRASE] * 3), "en") for i in range(4)]
            + [(4, self.SCRAMBLE + " " + self.SCRAMBLE, "en"),
               (5, self.SCRAMBLE + " extra " + self.SCRAMBLE, "en")],
        )
        calib = ppl_gate_calibration(spark, corpus)
        assert "en" in calib["cuts"]

        # the feed re-presents corpus-shaped texts under new ids, plus
        # outside-population docs; the batch scorer decides expectations
        docs = [
            (100, "web", 300, " ".join([self.PHRASE] * 3), [0.1] * 4),
            (101, "web", 300, self.SCRAMBLE + " " + self.SCRAMBLE, [0.2] * 4),
            (102, "web", 0, None, [0.3] * 4),          # null text
            (103, "web", 1, "", [0.4] * 4),            # token-less
            (104, "web", 30, "zzoov yyoov xxoov", [0.5] * 4),  # all-OOV
        ]
        acc = os.path.join(str(tmp_path), "ppl_acc")
        aud = os.path.join(str(tmp_path), "ppl_aud")
        sink = ppl_gate_sink(calib, acc, aud)
        batch = spark.createDataFrame(docs, self.SCHEMA)
        sink(batch, 0)

        def read(b):
            a = sorted(
                r["doc_id"]
                for r in spark.read.schema("doc_id long")
                .parquet(os.path.join(acc, f"batch_id={b}"))
                .collect()
            )
            u = sorted(
                map(
                    tuple,
                    spark.read.schema("doc_id long, avg_bits double")
                    .parquet(os.path.join(aud, f"batch_id={b}"))
                    .collect(),
                )
            )
            return a, u

        accepted, audit = read(0)
        # batch-scorer parity: score the SAME texts through the stored
        # model via the artifact-served relation on a corpus of them
        probe = self._corpus(
            spark,
            tmp_path / "probe",
            [(100, docs[0][3], "en"), (101, docs[1][3], "en")],
        )
        # note: _trigram_scores trains on ITS OWN corpus; here we only
        # need the calibration model's verdicts, so compare against the
        # gate-independent expectation instead: boilerplate under the
        # cut, scramble above it
        cut = calib["cuts"]["en"]
        assert accepted == [100, 102, 103, 104]
        assert [d for d, _ in audit] == [101]
        assert all(bits > cut for _, bits in audit)

        sink(batch, 0)  # stateless replay: byte-identical outputs
        assert read(0) == (accepted, audit)

    @pytest.mark.slow
    def test_capstone_stage11_gates_downstream_rtbf_and_off_by_default(
        self, spark, tmp_path
    ):
        import os
        import time

        from data_ingestion_experiment_otp_spark.operators.ngram_lm import (
            ppl_gate_calibration,
        )
        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_retract,
            start_corpus_ingest,
        )

        # SINGLE-phrase calibration docs: the scorer weighs the
        # doc-initial (lower-order) positions by 1/len, so the cut drawn
        # from these covers the feed's single-phrase docs exactly; the
        # repeated form would put the cut BELOW them (measured 0.583 vs
        # their 0.766) and the gate would reject everything
        corpus = self._corpus(
            spark,
            tmp_path / "corpus",
            [(i, self.PHRASE, "en") for i in range(4)]
            + [(4, self.SCRAMBLE + " " + self.SCRAMBLE, "en"),
               (5, self.SCRAMBLE + " extra " + self.SCRAMBLE, "en")],
        )
        calib = ppl_gate_calibration(spark, corpus)

        def basis(i, dim=64):
            v = [0.0] * dim
            v[i] = 1.0
            return v

        # ONE phrase pass (the 3x-repeated calibration texts would trip
        # curation's repetition gate downstream and empty the curated
        # store); its trigrams are all corpus-frequent, so it scores
        # safely under the cut
        good = self.PHRASE
        bad = self.SCRAMBLE + " " + self.SCRAMBLE
        batches = [
            [(1, "web", 300, good + " one", basis(0)),
             (2, "web", 300, bad + " two", basis(1))],
            [(3, "web", 300, good + " three", basis(2)),
             (4, "web", 300, bad + " four", basis(3))],
        ]
        in_dir = str(tmp_path / "feed")
        for rows in batches:
            spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)
            time.sleep(0.05)
        cents = (
            spark.createDataFrame(
                [(0, basis(0)), (1, basis(1))],
                "vec_id long, embedding array<float>",
            )
            .orderBy("vec_id")
            .collect()
        )
        work = str(tmp_path / "work")
        q = start_corpus_ingest(
            spark,
            in_dir,
            work,
            cents,
            {"*": 0.0},
            str(tmp_path / "ckpt"),
            ppl_calib=calib,
        )
        drive.drain(q)

        dirs = corpus_ingest_dirs(work)
        ppl_acc = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(dirs["ppl_accepted"])
            .collect()
        }
        # the feed has no lang column: the GLOBAL cut applies (the
        # one-lang calibration makes it the same boundary)
        assert ppl_acc == {1, 3}
        audit = {
            (r["doc_id"], r["avg_bits"])
            for r in spark.read.schema("doc_id long, avg_bits double")
            .parquet(dirs["ppl_audit"])
            .collect()
        }
        assert {a for a, _ in audit} == {2, 4}
        curated = {
            r["doc_id"] for r in spark.read.parquet(dirs["curated"]).collect()
        }
        assert curated <= ppl_acc
        tdocs = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(os.path.join(dirs["text_index"], "doclen"))
            .collect()
        }
        assert tdocs == ppl_acc

        # RTBF: an accepted doc leaves ppl_accepted; a rejected doc's
        # audit row goes too
        removed = corpus_retract(spark, work, [1, 2])
        assert removed["ppl_accepted"] == 1
        assert removed["ppl_audit"] == 1
        left_acc = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(dirs["ppl_accepted"])
            .collect()
        }
        assert left_acc == {3}

        # off by default: a run without ppl_calib writes no ppl dirs
        work2 = str(tmp_path / "work2")
        q2 = start_corpus_ingest(
            spark,
            in_dir,
            work2,
            cents,
            {"*": 0.0},
            str(tmp_path / "ckpt2"),
        )
        drive.drain(q2)
        d2 = corpus_ingest_dirs(work2)
        assert not os.path.isdir(d2["ppl_accepted"])
        assert not os.path.isdir(d2["ppl_audit"])

    @pytest.mark.slow
    def test_min_vocab_frac_floor_rejects_oov_garbage(self, spark, tmp_path):
        """ADVICE r12 #1: at the default floor, all-OOV garbage passes the
        gate unscored; a calibration carrying min_vocab_frac arms the
        in-vocab floor — fully-OOV docs are rejected with NULL avg_bits
        and frac 0, partial-OOV docs below the floor are rejected with
        their fraction, in-population docs are gated exactly as before."""
        import os

        from data_ingestion_experiment_otp_spark.operators.ngram_lm import (
            ppl_gate_calibration,
        )
        from data_ingestion_experiment_otp_spark.streaming.curation import (
            ppl_gate_sink,
        )

        corpus = self._corpus(
            spark,
            tmp_path / "corpus",
            [(i, " ".join([self.PHRASE] * 3), "en") for i in range(4)]
            + [(4, self.SCRAMBLE + " " + self.SCRAMBLE, "en"),
               (5, self.SCRAMBLE + " extra " + self.SCRAMBLE, "en")],
        )
        calib = ppl_gate_calibration(spark, corpus)
        docs = [
            (200, "web", 300, " ".join([self.PHRASE] * 3), [0.1] * 4),  # head
            (201, "web", 300, self.SCRAMBLE + " " + self.SCRAMBLE, [0.2] * 4),  # tail
            (202, "web", 30, "zzoov yyoov xxoov wwoov", [0.3] * 4),  # fully OOV
            # 2 in-vocab of 8 tokens = 0.25 < 0.5 floor
            (203, "web", 60, "the fox aaoov bboov ccoov ddoov eeoov ffoov", [0.4] * 4),
            # 6 in-vocab of 8 = 0.75 >= floor: scores over in-vocab tokens
            (204, "web", 60, self.PHRASE.replace("jumps over ", "") + " ggoov hhoov", [0.5] * 4),
            (205, "web", 0, None, [0.6] * 4),  # null text: outside population
        ]
        batch = spark.createDataFrame(docs, self.SCHEMA)

        # default floor: OOV docs pass (the documented convention)
        acc0 = os.path.join(str(tmp_path), "acc0")
        aud0 = os.path.join(str(tmp_path), "aud0")
        ppl_gate_sink(calib, acc0, aud0)(batch, 0)
        passed0 = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(os.path.join(acc0, "batch_id=0"))
            .collect()
        }
        # the evasion vector: fully-OOV garbage (202) passes unscored
        # (203/204 score over their in-vocab remnant and the tight
        # boilerplate cut may reject them — that is tail gating, not OOV)
        assert {202, 205} <= passed0

        # armed floor
        acc = os.path.join(str(tmp_path), "acc")
        aud = os.path.join(str(tmp_path), "aud")
        armed = dict(calib, min_vocab_frac=0.5)
        ppl_gate_sink(armed, acc, aud)(batch, 0)
        audit = {
            r["doc_id"]: (r["avg_bits"], r["in_vocab_frac"])
            for r in spark.read.schema(
                "doc_id long, avg_bits double, in_vocab_frac double"
            )
            .parquet(os.path.join(aud, "batch_id=0"))
            .collect()
        }
        passed = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(os.path.join(acc, "batch_id=0"))
            .collect()
        }
        assert 202 in audit and audit[202][0] is None and audit[202][1] == 0.0
        assert 203 in audit and audit[203][1] == 0.25
        assert 201 in audit and audit[201][1] == 1.0  # tail reject, frac audited
        assert {200, 205} <= passed  # head doc and null-text doc still pass

    @pytest.mark.slow
    def test_kn_served_gate_swaps_the_artifact(self, spark, tmp_path):
        """r13: the stage-11 gate dispatches on model_kind — a KN-4
        calibration serves the Kneser-Ney artifact through the SAME
        reject predicate (the third 'swap the model in' execution, now
        at ingest): corpus-frequent order passes, the scramble lands in
        the calibrated tail; an unknown kind is rejected loudly."""
        import os

        import pytest as _pytest

        from data_ingestion_experiment_otp_spark.operators.kn_lm import (
            kn_gate_calibration,
        )
        from data_ingestion_experiment_otp_spark.streaming.curation import (
            ppl_gate_sink,
        )

        corpus = self._corpus(
            spark,
            tmp_path / "corpus",
            [(i, " ".join([self.PHRASE] * 3), "en") for i in range(4)]
            + [(4, self.SCRAMBLE + " " + self.SCRAMBLE, "en"),
               (5, self.SCRAMBLE + " extra " + self.SCRAMBLE, "en")],
        )
        calib = kn_gate_calibration(spark, corpus)
        assert calib["model_kind"] == "kn4" and "en" in calib["cuts"]
        docs = [
            (300, "web", 300, " ".join([self.PHRASE] * 3), [0.1] * 4),
            (301, "web", 300, self.SCRAMBLE + " " + self.SCRAMBLE, [0.2] * 4),
            (302, "web", 0, None, [0.3] * 4),  # outside the population
        ]
        acc = os.path.join(str(tmp_path), "kn_acc")
        aud = os.path.join(str(tmp_path), "kn_aud")
        sink = ppl_gate_sink(calib, acc, aud)
        batch = spark.createDataFrame(docs, self.SCHEMA)
        sink(batch, 0)
        accepted = sorted(
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(os.path.join(acc, "batch_id=0"))
            .collect()
        )
        audit = {
            r["doc_id"]: r["avg_bits"]
            for r in spark.read.schema("doc_id long, avg_bits double")
            .parquet(os.path.join(aud, "batch_id=0"))
            .collect()
        }
        assert accepted == [300, 302]
        assert set(audit) == {301}
        assert audit[301] > calib["cuts"]["en"]
        sink(batch, 0)  # stateless replay under the swapped artifact
        assert sorted(
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(os.path.join(acc, "batch_id=0"))
            .collect()
        ) == accepted
        sink.close()
        with _pytest.raises(ValueError, match="model_kind"):
            ppl_gate_sink(dict(calib, model_kind="bogus"), acc, aud)

    def test_gate_close_releases_persisted_model(self, spark, tmp_path):
        """ADVICE r12 #3: the six persisted LM tables are released by the
        sink's close() hook (and the capstone wires it to query
        termination via the listener)."""
        import os

        from data_ingestion_experiment_otp_spark.operators.ngram_lm import (
            ppl_gate_calibration,
        )
        from data_ingestion_experiment_otp_spark.streaming.curation import (
            ppl_gate_sink,
        )
        from pyspark import StorageLevel

        corpus = self._corpus(
            spark,
            tmp_path / "corpus",
            [(i, " ".join([self.PHRASE] * 3), "en") for i in range(4)]
            + [(4, self.SCRAMBLE + " " + self.SCRAMBLE, "en")],
        )
        calib = ppl_gate_calibration(spark, corpus)
        sink = ppl_gate_sink(
            calib,
            os.path.join(str(tmp_path), "acc"),
            os.path.join(str(tmp_path), "aud"),
        )
        batch = spark.createDataFrame(
            [(1, "web", 10, self.PHRASE, [0.1] * 4)], self.SCHEMA
        )
        # CacheManager probes: load_lm_tables builds plan-identical
        # frames, and DataFrame.storageLevel consults the CacheManager by
        # plan — so these report the SINK's persist state without
        # reaching into its closure (and without flaky global-RDD-set
        # arithmetic against the shared session)
        from data_ingestion_experiment_otp_spark.operators.ngram_lm import (
            load_lm_tables,
        )

        probe = load_lm_tables(spark, calib["model_dir"])

        def n_pinned():
            return sum(1 for df in probe.values() if df.storageLevel.useMemory)

        assert n_pinned() == 0
        sink(batch, 0)
        assert n_pinned() == len(probe)  # the LM tables are pinned while serving
        sink.close()
        assert n_pinned() == 0
        sink.close()  # idempotent
        # a post-close batch re-persists lazily (close is replay-safe)...
        sink(batch, 1)
        assert n_pinned() == len(probe)
        # ...and closes again
        sink.close()
        assert n_pinned() == 0

    @pytest.mark.slow
    def test_capstone_listener_releases_on_termination(self, spark, tmp_path):
        """start_corpus_ingest wires epoch.close to query termination: the
        LM tables persisted by the stage-11 gate are gone (without any
        caller action) once the availableNow query self-terminates."""
        import os
        import time

        from data_ingestion_experiment_otp_spark.operators.ngram_lm import (
            ppl_gate_calibration,
        )
        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            start_corpus_ingest,
        )

        corpus = self._corpus(
            spark,
            tmp_path / "corpus",
            [(i, self.PHRASE, "en") for i in range(4)]
            + [(4, self.SCRAMBLE + " " + self.SCRAMBLE, "en")],
        )
        calib = ppl_gate_calibration(spark, corpus)

        def basis(i, dim=64):
            v = [0.0] * dim
            v[i] = 1.0
            return v

        in_dir = str(tmp_path / "feed")
        spark.createDataFrame(
            [(1, "web", 300, self.PHRASE + " one", basis(0))], self.SCHEMA
        ).coalesce(1).write.mode("append").parquet(in_dir)
        cents = (
            spark.createDataFrame(
                [(0, basis(0))], "vec_id long, embedding array<float>"
            ).collect()
        )
        def pids():
            return {
                int(x)
                for x in spark.sparkContext._jsc.getPersistentRDDs()
                .keySet()
                .toArray()
            }

        before = pids()
        q = start_corpus_ingest(
            spark,
            in_dir,
            str(tmp_path / "work"),
            cents,
            {"*": 0.0},
            str(tmp_path / "ckpt"),
            ppl_calib=calib,
        )
        drive.drain(q)
        # the terminate listener fires asynchronously; per-batch
        # localCheckpoint blocks are released by the ContextCleaner once
        # a JVM GC queues their weak refs — nudge both collectors
        import gc

        deadline = time.time() + 30
        while time.time() < deadline:
            if not (pids() - before):
                break
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.3)
        assert not (pids() - before)


class TestDomainGateSink:
    """curation.py::domain_gate_sink (r13) — the published stage-0
    screen: blocklisted domains rejected before any content pass;
    feed-url vs planted-derivation parity, null-url passthrough,
    stateless replay, capstone wiring (the gate's accepted relation
    feeds the dedup screen), discovery-path RTBF, off by default."""

    SCHEMA = TestStreamingCorpusPipeline.SCHEMA

    def test_gate_semantics_replay_and_close(self, spark, tmp_path):
        """Blocked domains are rejected; a NULL url passes unscored; a
        NULL doc_id row is admitted whatever its domain (the anti-join
        on the written audit never matches a NULL key); a doc_id listed
        twice in the audit is rejected once per batch row; an empty
        audit admits every row; a replay rewrites byte-identical accepted
        and audit partitions. The gate pins nothing, so it has no close
        hook."""
        import os

        from data_ingestion_experiment_otp_spark.streaming.curation import (
            domain_gate_sink,
        )
        from data_ingestion_experiment_otp_spark.streaming.serving import data_files

        # feed WITH a url column: the gate uses it verbatim
        rows = [
            (1, "https://www.Bad.Example.COM/a#x"),  # blocked (normalized)
            (2, "https://good.example.com/b"),
            (3, None),  # no provenance: outside the population
            (4, "https://bad.example.com/c/"),  # blocked
            (4, "https://bad.example.com/d"),  # blocked again: a duplicate reject id
            (None, "https://bad.example.com/e"),  # NULL doc_id: admitted
        ]
        batch = spark.createDataFrame(rows, "doc_id long, url string")
        acc = os.path.join(str(tmp_path), "acc")
        aud = os.path.join(str(tmp_path), "aud")

        def read(root, schema):
            rows = spark.read.schema(schema).parquet(os.path.join(root, "batch_id=0"))
            return sorted(map(tuple, rows.collect()), key=repr)

        def written():
            return [
                sorted(open(f, "rb").read() for f in data_files(os.path.join(d, "batch_id=0")))
                for d in (acc, aud)
            ]

        sink = domain_gate_sink(["bad.example.com"], acc, aud)
        assert not hasattr(sink, "close")
        sink(batch, 0)
        assert read(acc, "doc_id long") == [(2,), (3,), (None,)]
        assert read(aud, "doc_id long, domain string") == [
            (1, "bad.example.com"),
            (4, "bad.example.com"),
            (4, "bad.example.com"),
            (None, "bad.example.com"),
        ]
        before = written()
        sink(batch, 0)  # stateless replay: byte-identical outputs
        assert written() == before

        domain_gate_sink(["elsewhere.example.net"], acc, aud)(batch, 0)
        assert read(aud, "doc_id long, domain string") == []
        assert read(acc, "doc_id long") == sorted(
            [(1,), (2,), (3,), (4,), (4,), (None,)], key=repr
        )

    def test_urlless_feed_gates_on_planted_derivation(self, spark, tmp_path):
        import os

        from data_ingestion_experiment_otp_spark.operators.provenance import (
            domain_col,
            url_col,
        )
        from data_ingestion_experiment_otp_spark.streaming.curation import (
            domain_gate_sink,
        )

        # DOC_STREAM_SCHEMA has no url: the gate derives the batch
        # tier's planted URL from doc_id, so batch and stream screen the
        # identical domain space (doc_id 3 -> d3.example.org)
        docs = [(i, "web", 10, f"text {i}", [0.1] * 4) for i in (1, 2, 3, 16)]
        batch = spark.createDataFrame(docs, self.SCHEMA)
        expect_domain = {
            r["doc_id"]: r["d"]
            for r in batch.select(
                "doc_id", domain_col(url_col()).alias("d")
            ).collect()
        }
        assert expect_domain[3] == "d3.example.org"
        assert expect_domain[16] == "d3.example.org"  # 16 % 13
        acc = os.path.join(str(tmp_path), "acc")
        aud = os.path.join(str(tmp_path), "aud")
        domain_gate_sink(["d3.example.org"], acc, aud)(batch, 0)
        accepted = sorted(
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(os.path.join(acc, "batch_id=0"))
            .collect()
        )
        assert accepted == [1, 2]

    @pytest.mark.slow
    def test_capstone_stage0_rtbf_discovery_and_off_by_default(
        self, spark, tmp_path
    ):
        import os
        import time

        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_retract,
            start_corpus_ingest,
        )

        def basis(i, dim=64):
            v = [0.0] * dim
            v[i] = 1.0
            return v

        # doc 3 -> d3.example.org (blocked at stage 0); docs 1, 2 pass
        batches = [
            [(1, "web", 20, "alpha beta gamma delta", basis(0)),
             (3, "web", 20, "epsilon zeta eta theta", basis(1))],
            [(2, "web", 20, "iota kappa lambda mu", basis(2))],
        ]
        in_dir = str(tmp_path / "feed")
        for rows in batches:
            spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)
            time.sleep(0.05)
        cents = spark.createDataFrame(
            [(0, basis(0))], "vec_id long, embedding array<float>"
        ).collect()
        work = str(tmp_path / "work")
        q = start_corpus_ingest(
            spark,
            in_dir,
            work,
            cents,
            {"*": 0.0},
            str(tmp_path / "ckpt"),
            domain_blocklist=["d3.example.org"],
        )
        drive.drain(q)
        dirs = corpus_ingest_dirs(work)
        dom_acc = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(dirs["dom_accepted"])
            .collect()
        }
        assert dom_acc == {1, 2}
        audit = {
            (r["doc_id"], r["domain"])
            for r in spark.read.schema("doc_id long, domain string")
            .parquet(dirs["dom_audit"])
            .collect()
        }
        assert audit == {(3, "d3.example.org")}
        # the dedup screen consumed the GATED relation: doc 3 nowhere
        accepted = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(dirs["accepted"])
            .collect()
        }
        assert accepted == {1, 2}

        # RTBF on the stage-0-REJECTED doc: its only trace is the dom
        # audit, whose epoch the discovery path must find (no accepted
        # row exists for it)
        removed = corpus_retract(spark, work, [3])
        assert removed["dom_audit"] == 1 and removed["dom_accepted"] == 0
        assert (
            spark.read.schema("doc_id long")
            .parquet(dirs["dom_audit"])
            .count()
            == 0
        )
        # RTBF on an admitted doc sweeps both dom stores too
        removed2 = corpus_retract(spark, work, [1])
        assert removed2["dom_accepted"] == 1 and removed2["accepted"] == 1
        left = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(dirs["dom_accepted"])
            .collect()
        }
        assert left == {2}

        # off by default: a run without a blocklist writes no dom dirs
        work2 = str(tmp_path / "work2")
        q2 = start_corpus_ingest(
            spark,
            in_dir,
            work2,
            cents,
            {"*": 0.0},
            str(tmp_path / "ckpt2"),
        )
        drive.drain(q2)
        d2 = corpus_ingest_dirs(work2)
        assert not os.path.isdir(d2["dom_accepted"])
        assert not os.path.isdir(d2["dom_audit"])


class TestDedupIndexCompaction:
    """corpus_index.py::compact_dedup_index (r11): the exact screen's
    content-hash index was the last per-epoch-forever store without
    compaction. The fold must preserve screening byte-identically, and —
    because the admit epoch now rides as the `adm` data column — epoch
    REPLAY must compose with compaction too (the sem sidecar's r10
    contract, which the shingle index cannot offer)."""

    SCHEMA = "doc_id long, text string"

    @staticmethod
    def _sink(tmp_path, tag):
        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            corpus_dedup_sink,
        )

        idx = os.path.join(str(tmp_path), f"idx_{tag}")
        acc = os.path.join(str(tmp_path), f"acc_{tag}")
        return corpus_dedup_sink(idx, acc), idx, acc

    @staticmethod
    def _acc_ids(spark, acc, b):
        return sorted(
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(os.path.join(acc, f"batch_id={b}"))
            .collect()
        )

    def test_fold_preserves_screening_and_replay_composes(
        self, spark, tmp_path
    ):
        import shutil

        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            compact_dedup_index,
            corpus_dedup_sink,
        )

        sink, idx, acc = self._sink(tmp_path, "main")
        epochs = [
            [(1, "alpha text one"), (2, "beta text two")],
            [(3, "gamma text three"), (4, "alpha text one")],  # 4 = redelivery
            [(5, "delta text five")],
        ]
        for b, rows in enumerate(epochs):
            sink(spark.createDataFrame(rows, self.SCHEMA), b)
        orig1 = self._acc_ids(spark, acc, 1)
        assert orig1 == [3]  # redelivery of epoch-0 content rejected

        folded = os.path.join(str(tmp_path), "idx_folded")
        compact_dedup_index(spark, idx, folded)
        assert os.path.isfile(os.path.join(folded, "_COMPACTED"))
        assert [
            e for e in sorted(os.listdir(folded)) if e.startswith("src_batch=")
        ] == ["src_batch=0"]
        # the fold genuinely collapses the file count (the claim
        # compaction exists for: a long ingest stops paying
        # epochs x files per probe)
        import glob

        n_stack = len(glob.glob(os.path.join(idx, "src_batch=*", "*.parquet")))
        n_fold = len(glob.glob(os.path.join(folded, "src_batch=0", "*.parquet")))
        assert 0 < n_fold < n_stack

        # (a) a NEW epoch screens byte-identically against stack vs fold
        probe = [(10, "alpha text one"), (11, "epsilon fresh")]
        outs = []
        for tag, index_dir in (("stack", idx), ("fold", folded)):
            cp = os.path.join(str(tmp_path), f"cp_{tag}")
            shutil.copytree(index_dir, cp)
            acc2 = os.path.join(str(tmp_path), f"acc2_{tag}")
            s2 = corpus_dedup_sink(cp, acc2)
            s2(spark.createDataFrame(probe, self.SCHEMA), 3)
            outs.append(self._acc_ids(spark, acc2, 3))
        assert outs[0] == outs[1] == [11]

        # (b) REPLAY of epoch 1 against the folded index reproduces its
        # original accepted set byte-identically: its own folded rows
        # (adm=1) and epoch 2's (adm=2) are excluded by the adm guard —
        # the src_batch-only guard would see src_batch=0 and reject
        # everything, including the originally-admitted doc 3
        rp = os.path.join(str(tmp_path), "idx_replay")
        shutil.copytree(folded, rp)
        acc3 = os.path.join(str(tmp_path), "acc_replay")
        s3 = corpus_dedup_sink(rp, acc3)
        s3(spark.createDataFrame(epochs[1], self.SCHEMA), 1)
        assert self._acc_ids(spark, acc3, 1) == orig1

    def test_legacy_rows_without_adm_still_screen(self, spark, tmp_path):
        # a pre-r11 store has no adm column: the guard's coalesce falls
        # back to the partition value, so legacy hashes keep screening
        from pyspark.sql import functions as F

        idx = os.path.join(str(tmp_path), "idx_legacy")
        (
            spark.createDataFrame(
                [("h-legacy",)], "content_hash string"
            )
            .select("content_hash", F.lit(0).alias("src_batch"))
            .write.partitionBy("src_batch")
            .parquet(idx)
        )
        # plant the legacy hash as sha2 of a known text
        legacy_text = "legacy doc body"
        (
            spark.createDataFrame([(legacy_text,)], "text string")
            .select(
                F.sha2("text", 256).alias("content_hash"),
                F.lit(0).alias("src_batch"),
            )
            .write.mode("overwrite")
            .partitionBy("src_batch")
            .parquet(idx)
        )
        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            corpus_dedup_sink,
        )

        acc = os.path.join(str(tmp_path), "acc_legacy")
        sink = corpus_dedup_sink(idx, acc)
        sink(
            spark.createDataFrame(
                [(1, legacy_text), (2, "genuinely new")], self.SCHEMA
            ),
            1,
        )
        assert self._acc_ids(spark, acc, 1) == [2]

    @pytest.mark.slow
    def test_rtbf_after_fold_unknows_content(self, spark, tmp_path):
        import shutil

        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            compact_dedup_index,
        )
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_ingest_epoch,
            corpus_retract,
        )

        def basis(i, dim=64):
            v = [0.0] * dim
            v[i] = 1.0
            return v

        cents = (
            spark.createDataFrame(
                [(0, basis(0)), (1, basis(1))],
                "vec_id long, embedding array<float>",
            )
            .orderBy("vec_id")
            .collect()
        )
        work = str(tmp_path / "work")
        epoch = corpus_ingest_epoch(work, cents, {"*": 0.0})
        feed = [
            [(1, "web", 10, "victim body", basis(0))],
            [(2, "web", 10, "survivor body", basis(1))],
        ]
        for b, rows in enumerate(feed):
            epoch(
                spark.createDataFrame(
                    rows, TestStreamingCorpusPipeline.SCHEMA
                ),
                b,
            )
        dirs = corpus_ingest_dirs(work)
        folded = str(tmp_path / "idx_fold")
        compact_dedup_index(spark, dirs["dedup_index"], folded)
        shutil.rmtree(dirs["dedup_index"])
        shutil.move(folded, dirs["dedup_index"])

        removed = corpus_retract(spark, work, [1])
        assert removed["dedup_index"] == 1
        left = spark.read.schema("content_hash string, adm long").parquet(
            os.path.join(dirs["dedup_index"], "src_batch=0")
        )
        assert left.count() == 1  # only the survivor's hash remains
        # content is unknown again: a re-crawl of the victim's body at a
        # later epoch is ADMITTED
        epoch(
            spark.createDataFrame(
                [(9, "web", 10, "victim body", basis(0))],
                TestStreamingCorpusPipeline.SCHEMA,
            ),
            5,
        )
        accepted5 = {
            r["doc_id"]
            for r in spark.read.schema("doc_id long")
            .parquet(os.path.join(dirs["accepted"], "batch_id=5"))
            .collect()
        }
        assert accepted5 == {9}


class TestShingleFoldReplay:
    """r11: the shingle sub-stores carry the `adm` admit-epoch data
    column, so epoch REPLAY composes with compaction for the banded
    near-dup screen too (previously the sem sidecar's exclusive
    contract): replaying a folded epoch must reproduce its original
    accepted/audit output instead of self-matching on its own folded
    band keys. Legacy pre-adm rows must keep screening via the coalesce
    fallback."""

    @pytest.mark.slow
    def test_replay_of_folded_epoch_byte_identical(self, spark, tmp_path):
        import shutil

        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            compact_shingle_index,
            neardup_screen_sink,
        )

        S = TestNearDupScreenSink
        idx = str(tmp_path / "idx")
        acc = str(tmp_path / "acc")
        aud = str(tmp_path / "aud")
        sink = neardup_screen_sink(idx, acc, aud)
        epochs = [
            [(1, S.BASE), (2, S.UNRELATED)],
            # 3 = fresh; 4 = near-dup of epoch-0's BASE (rejected)
            [(3, " ".join(f"m{i}" for i in range(24))), (4, S.END6)],
            [(5, " ".join(f"n{i}" for i in range(24)))],
        ]
        for b, rows in enumerate(epochs):
            sink(spark.createDataFrame(rows, S.DOC_SCHEMA), b)
        orig_acc1 = S._ids(spark, acc, 1)
        orig_aud1 = sorted(
            map(
                tuple,
                spark.read.schema(
                    "doc_id long, dup_of long, jaccard double, phase string"
                )
                .parquet(os.path.join(aud, "batch_id=1"))
                .collect(),
            )
        )
        assert orig_acc1 == [3]
        assert [(r[0], r[1], r[3]) for r in orig_aud1] == [(4, 1, "corpus")]

        folded = str(tmp_path / "idx_folded")
        compact_shingle_index(spark, idx, folded)
        rp = str(tmp_path / "idx_replay")
        shutil.copytree(folded, rp)
        acc_r = str(tmp_path / "acc_r")
        aud_r = str(tmp_path / "aud_r")
        rsink = neardup_screen_sink(rp, acc_r, aud_r)
        rsink(spark.createDataFrame(epochs[1], S.DOC_SCHEMA), 1)
        assert S._ids(spark, acc_r, 1) == orig_acc1
        got_aud = sorted(
            map(
                tuple,
                spark.read.schema(
                    "doc_id long, dup_of long, jaccard double, phase string"
                )
                .parquet(os.path.join(aud_r, "batch_id=1"))
                .collect(),
            )
        )
        assert got_aud == orig_aud1  # byte-identical: no self-match on 3

    @pytest.mark.slow
    def test_legacy_rows_without_adm_still_screen(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            neardup_screen_sink,
        )

        S = TestNearDupScreenSink
        idx = str(tmp_path / "idx")
        acc0 = str(tmp_path / "acc0")
        aud0 = str(tmp_path / "aud0")
        # build a real epoch-0 index, then strip the adm column in place
        # to simulate a pre-r11 store
        sink0 = neardup_screen_sink(idx, acc0, aud0)
        sink0(spark.createDataFrame([(1, S.BASE)], S.DOC_SCHEMA), 0)
        for sub, cols in (
            ("bands", ["doc_id", "band", "v"]),
            ("grams", ["doc_id", "hs", "n_g"]),
        ):
            part = os.path.join(idx, sub, "src_batch=0")
            legacy = (
                spark.read.parquet(part).select(*cols).collect()
            )
            import shutil

            shutil.rmtree(part)
            schema = {
                "bands": "doc_id long, band int, v long",
                "grams": "doc_id long, hs array<int>, n_g int",
            }[sub]
            spark.createDataFrame(legacy, schema).write.parquet(part)
        acc1 = str(tmp_path / "acc1")
        aud1 = str(tmp_path / "aud1")
        sink1 = neardup_screen_sink(idx, acc1, aud1)
        sink1(
            spark.createDataFrame(
                [(9, S.END6), (10, S.UNRELATED)], S.DOC_SCHEMA
            ),
            1,
        )
        # the legacy-row index still rejects the near-dup of doc 1
        assert S._ids(spark, acc1, 1) == [10]


class TestRunOverlapped:
    def test_first_failure_starts_no_queued_write(self, spark):
        """A failing write stops the writes queued behind it; the write
        already running finishes before the failure re-raises."""
        import time

        import pytest

        from data_ingestion_experiment_otp_spark.streaming.corpus_index import run_overlapped

        ran = []

        def fail():
            raise RuntimeError("write failed")

        def running():
            time.sleep(0.3)
            ran.append("running")

        with pytest.raises(RuntimeError, match="write failed"):
            run_overlapped([fail, running, lambda: ran.append("queued")])
        assert ran == ["running"]

    def test_happy_path_two_wide_with_caller_labels(self, spark):
        """Two writes overlap (they meet at a barrier), every write runs,
        each starts with the caller's job description, and a label one
        write sets or clears does not leak into the other's."""
        import threading

        from data_ingestion_experiment_otp_spark.streaming.corpus_index import run_overlapped

        sc = spark.sparkContext
        barrier = threading.Barrier(2, timeout=30)
        seen = []

        def write(name, meet):
            inherited = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(name)
            if meet:
                barrier.wait()  # both overlapping writes have set a label
                if name == "a":
                    sc.setJobDescription(None)
                barrier.wait()  # write a has cleared its label
            seen.append((name, inherited, sc.getLocalProperty("spark.job.description")))

        sc.setJobDescription("epoch 7: tail")
        try:
            run_overlapped(
                [
                    lambda: write("a", True),
                    lambda: write("b", True),
                    lambda: write("c", False),
                ]
            )
        finally:
            sc.setJobDescription(None)
        assert sorted(seen) == [
            ("a", "epoch 7: tail", None),
            ("b", "epoch 7: tail", "b"),
            ("c", "epoch 7: tail", "c"),
        ]

    def test_writes_inherit_session_tags_without_warning(self, spark):
        """The writes start with the caller's session tags, and wrapping
        them warns nothing (without the session, PySpark warns that tags
        will not be inherited)."""
        import warnings

        from data_ingestion_experiment_otp_spark.streaming.corpus_index import run_overlapped

        seen = []
        spark.addTag("epoch-tag")
        try:
            with warnings.catch_warnings():
                warnings.simplefilter("error")
                run_overlapped([lambda: seen.append(set(spark.getTags())) for _ in range(3)])
        finally:
            spark.removeTag("epoch-tag")
        assert len(seen) == 3 and all("epoch-tag" in t for t in seen), seen


class TestStageRereadSchemaCheck:
    """Each ladder stage's admitted partition is re-read with the feed's
    schema; `check_written_schema` compares the schema Spark recorded in
    the written footer first, so a stage that renamed or retyped a column
    fails the epoch instead of passing nulls downstream."""

    SCHEMA = "doc_id long, source string, n_chars long, text string, embedding array<float>"
    ROWS = [(1, "web", 3, "abc", [0.5, 0.25])]

    def _written(self, spark, tmp_path, df):
        path = str(tmp_path / "accepted" / "batch_id=0")
        df.write.mode("overwrite").parquet(path)
        return path

    def test_matching_and_empty_partitions_pass(self, spark, tmp_path):
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            check_written_schema,
        )

        feed = spark.createDataFrame(self.ROWS, self.SCHEMA)
        check_written_schema(self._written(spark, tmp_path, feed), feed.schema)
        # an epoch that admitted nothing writes only _SUCCESS
        empty = str(tmp_path / "empty" / "batch_id=0")
        feed.limit(0).write.parquet(empty)
        check_written_schema(empty, feed.schema)

    @pytest.mark.parametrize(
        "drift",
        [
            lambda df: df.withColumnRenamed("text", "body"),
            lambda df: df.withColumn("n_chars", F.col("n_chars").cast("int")),
            lambda df: df.drop("source"),
            lambda df: df.withColumn("extra", F.lit(1)),
        ],
        ids=["renamed", "retyped", "dropped", "added"],
    )
    def test_drifted_partition_raises(self, spark, tmp_path, drift):
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            check_written_schema,
        )

        feed = spark.createDataFrame(self.ROWS, self.SCHEMA)
        path = self._written(spark, tmp_path, drift(feed))
        with pytest.raises(ValueError, match="differ from the feed schema"):
            check_written_schema(path, feed.schema)
