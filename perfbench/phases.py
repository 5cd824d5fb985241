"""Run context and the phase sequence shared by every workload."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

from memory import PeakRss
from tracing import SparkLedger, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# Input scale of the generated tables (0.01 -> 60k lineitems, 10k events).
SCALE = 0.01
N_DOCS = 500
N_VECS = 500


@dataclass
class Context:
    workload: str
    seed: int
    traced: bool
    work: str
    metrics: dict = field(default_factory=dict)
    failures: list = field(default_factory=list)
    attempted: int = 0
    spark: object = None
    rss: PeakRss = None
    tracer: Tracer = None
    ledger: SparkLedger = None
    sf_dir: str = ""
    timed_jobs: range = range(0)
    timed_total_s: float = 0.0

    def __post_init__(self):
        self.tracer = Tracer(self.traced)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.end_to_end_names = [m["name"] for m in spec["end_to_end"]]
        self.per_layer_names = [m["name"] for m in spec["per_layer"]]
        self.units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    def start_spark(self):
        from data_ingestion_experiment_otp_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.ledger = SparkLedger(self.spark)
        return self.spark

    def put(self, name: str, value) -> None:
        self.metrics[name] = {"value": float(value), "unit": self.units.get(name, "")}

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        """Count one checked operation; record it as failed unless ok."""
        self.attempted += 1
        if not ok:
            self.failures.append(f"{what}: {detail}"[:300])
        return ok

    def job_group(self, group: str, desc: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(group, desc)

    def begin_timed(self) -> None:
        """Mark the start of the timed region: jobs from here on count
        toward the run's spark.* metrics."""
        if self.traced:
            n = self.ledger.job_count()
            self.timed_jobs = range(n, n)

    def end_timed(self, total_s: float) -> None:
        """Mark the end of the timed region, whose measured wall (the
        workload's `total_s`) is `total_s`, and stop the memory sampler:
        the output checks that follow are the benchmark's own work."""
        self.timed_total_s = total_s
        self.put("peak_rss_mb", self.rss.stop_mb())
        log(f"peak PSS {self.metrics['peak_rss_mb']['value']:.0f} MB, kB by process kind: {self.rss.at_peak}")
        if self.traced:
            self.timed_jobs = range(self.timed_jobs.start, self.ledger.job_count())

    def clear_job_group(self) -> None:
        if self.traced:
            sc = self.spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def percentile_tail(xs) -> float:
    """The highest of p99/p95/p90 that has at least ten samples beyond it;
    the maximum when none has."""
    xs = sorted(xs)
    for p in (0.99, 0.95, 0.9):
        i = int(p * len(xs))
        if len(xs) - i - 1 >= 10:
            return xs[i]
    return xs[-1]


def put_ops(ctx, total_s: float, ops: list[float]) -> None:
    """The end-to-end metrics every workload reports for its operations."""
    import math
    import statistics

    log(f"total {total_s:.3f}s; {len(ops)} ops, median {statistics.median(ops):.3f}s, max {max(ops):.3f}s")
    ctx.put("total_s", total_s)
    ctx.put("op_p50_s", statistics.median(ops))
    ctx.put("op_geomean_s", math.exp(sum(math.log(x) for x in ops) / len(ops)))


def _spark_layer(ctx: Context) -> None:
    """spark.* over the jobs of the timed region, and the traced run's
    wall."""
    a = ctx.ledger.account(list(ctx.timed_jobs))
    for k, v in a.items():
        ctx.put(f"spark.{k}", v)
    ctx.put("spark.driver_gap_s", ctx.timed_total_s - a["in_stage_s"])
    ctx.put("trace.total_s", ctx.timed_total_s)


def run_workload(ctx: Context, t_start: float) -> dict:
    import batch
    import corpus
    import otp

    phase = {"batch_queries": batch, "corpus_ingest": corpus, "otp_push": otp}[ctx.workload]
    if ctx.traced:
        for name in ctx.per_layer_names:  # layers this workload does not exercise
            ctx.put(name, 0)
    with ctx.tracer.span("setup", "setup"):
        ctx.sf_dir = os.path.join(ctx.work, "data")
        n_deliveries = getattr(phase, "DELIVERIES", 0)
        args = (ctx.sf_dir, ctx.seed, SCALE, N_DOCS, N_VECS, n_deliveries)
        gen = os.path.join(os.path.dirname(os.path.abspath(__file__)), "datagen.py")
        subprocess.run([sys.executable, gen, *map(str, args)], check=True)
        log("inputs written")
        ctx.start_spark()
        log("session up")
        state = phase.setup(ctx)
        # A full collection releases the heap that set-up's training and
        # concurrent warm-up left committed, so that peak_rss_mb measures
        # the timed work.
        ctx.spark._jvm.System.gc()
        ctx.rss = PeakRss()
    ctx.put("setup_s", time.perf_counter() - t_start)
    log("setup done")
    with ctx.tracer.span(ctx.workload, ctx.workload):
        phase.run(ctx, state)
    log("run done")
    if ctx.traced:
        _spark_layer(ctx)

    failed = len(ctx.failures)
    attempted = max(ctx.attempted, 1)
    return {
        "metrics": ctx.metrics,
        "attempted": attempted,
        "failed": failed,
        "failures": ctx.failures,
        "spark_version": ctx.spark.version,
    }
