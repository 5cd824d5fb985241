"""Spans and Spark-side accounting for the traced run.

`Tracer` keeps spans (name, start, end, parent, trace id) in memory and
writes them as JSON lines when the run ends. `SparkLedger` reads Spark's
own status store (it is populated with `spark.ui.enabled=false`): for a
job group it returns jobs, stages, the union of stage-busy intervals,
executor run/CPU time and shuffle bytes. Nothing here touches the
engine's code; every number is taken around calls into its public
functions.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time


class Tracer:
    """Spans nest per thread; a span opened on a thread with no open span
    (a set-up pool worker) is a child of the innermost span open on the
    thread that made the tracer."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        stack = self._stacks.setdefault(threading.get_ident(), [])
        outer = stack or self._stacks.get(self._main) or [None]
        rec = {
            "id": sid,
            "name": name,
            "trace_id": trace_id,
            "parent": outer[-1],
            "start": time.perf_counter(),
            **attrs,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkLedger:
    """Per-job-group accounting from the live status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def job_count(self) -> int:
        """Jobs submitted so far; job ids run 0, 1, ... in submission
        order, so this is the id the next job gets."""
        self._sync()
        return self.store.jobsList(None).size()

    def job_ids(self, group: str) -> list[int]:
        self._sync()
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def _sync(self) -> None:
        """Wait until the listener bus, which fills the status store, has
        delivered every event posted so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def stage_ids(self, job_ids: list[int]) -> list[int]:
        tracker = self.sc.statusTracker()
        out: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                out.update(info.stageIds)
        return sorted(out)

    def account(self, job_ids: list[int]) -> dict:
        """jobs, stages, in-stage union seconds, executor run/CPU seconds
        and shuffle write bytes over the given jobs' stages (skipped
        stages have no submission time and count for nothing)."""
        intervals, run_ms, cpu_ns, shuffle = [], 0, 0, 0
        stages = 0
        for sid in self.stage_ids(job_ids):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:
                continue
            sub, done = sd.submissionTime(), sd.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            stages += 1
            intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            run_ms += sd.executorRunTime()
            cpu_ns += sd.executorCpuTime()
            shuffle += sd.shuffleWriteBytes()
        return {
            "jobs": len(job_ids),
            "stages": stages,
            "in_stage_s": union_seconds(intervals),
            "executor_run_s": run_ms / 1e3,
            "executor_cpu_s": cpu_ns / 1e9,
            "shuffle_write_bytes": shuffle,
        }
