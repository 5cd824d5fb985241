"""Repository benchmark: batch query suite, streaming corpus ingest with
index reads, and open-loop OTP push.

    python3 perfbench/run.py --workload <batch_queries|corpus_ingest|otp_push>
                             --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. A run builds its inputs from the seed
(perfbench/datagen.py), starts one Spark session on local[nproc] from one
driving process, and times calls into the engine's public functions:

- batch_queries (batch.py): a fixed suite of registered cells, one per
  operator module, each forced through a noop sink, one after another
  (closed loop, one client). Operation = one cell.
- corpus_ingest (corpus.py): a document epoch through
  `corpus_ingest_epoch` (domain blocklist, exact, near, semantic,
  perplexity and selection screens, then the curate/vindex/tindex/spans
  tail) on a fresh store root, then seeded BM25, phrase and ANN reads of
  the stores. Operation = one epoch.
- otp_push (otp.py): time-ordered event deliveries with redeliveries,
  renamed into the watched directory on a fixed schedule by a generator
  thread (open loop) and drained by `start_otp_pipeline` +
  `drive.drain`. Operation = one delivery, timed from its scheduled
  time to the `post` of its last signal.

Each workload times a fixed amount of work (15-20 s on a 4-core box),
so that every run's figures rest on the same operations; `--seconds` is
accepted and not used.

End-to-end metrics (same names on every workload): setup_s (process
start, input generation, JVM start, cold artifact training, warm-up),
peak_rss_mb (largest summed PSS of this process, the driver JVM and its
Python workers over the timed region; see memory.py), total_s (the timed
region), op_p50_s and op_geomean_s over its operations. A run has 1 to
22 operations, too few for any percentile above the median to have ten
samples beyond it, so no end-to-end tail is reported; the traced run's
otp.signal_latency_p99_s, over every signal, has enough samples. Outputs
are checked outside the timed regions (see each workload's module); a
failed check makes `correct` false and counts in `failed`.

`--trace 1` runs the same work with a job group per cell/epoch/query
run, records spans around each public call (written to
.bench_out/spans-<workload>-<seed>.jsonl), and prints the per-layer
metrics instead; layers a workload does not exercise read 0. spark.*
cover the timed region's jobs, from Spark's status store. Tracing
overhead is `trace.total_s` against untraced `total_s`. The last stdout
line is the JSON result; progress and run facts (cpus, driver memory,
Spark version) go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_ingestion_experiment_otp_spark"

WORKLOADS = ("batch_queries", "corpus_ingest", "otp_push")


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def configure_env(work: str, cpus: int, driver_mem_mb: int) -> None:
    """Size the session to the box and keep every file Spark, the JVM and
    the engine's artifact stores write inside the run's private work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Bound glibc's per-thread malloc arenas, as Hadoop's launch scripts
    # do: with one arena per thread the JVM's native memory, and so
    # peak_rss_mb, swung by 400 MB between identical runs.
    os.environ["MALLOC_ARENA_MAX"] = "4"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            # The heap grows from the JVM's default initial size up to the
            # -Xmx that spark.driver.memory sets, so peak_rss_mb sees the
            # old generation and humongous regions the program retains.
            # The young generation is fixed: G1's adaptive young sizing
            # swung the committed heap by 200-400 MB between identical
            # runs, whatever the program kept.
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xmn384m'",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # keep every job/stage of a run in the status store
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM gateway's stdin (which makes
    the JVM exit) and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "plans", "registry.py")):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2

    cpus = nproc()
    # driver heap: a quarter of physical memory, capped at 2 GB
    driver_mem_mb = min(2048, mem_total_mb() // 4)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work, cpus, driver_mem_mb)
    os.chdir(work)
    sys.path[:0] = [ROOT, HERE]

    from phases import Context, log, run_workload

    ctx = Context(
        workload=args.workload,
        seed=args.seed,
        traced=bool(args.trace),
        work=work,
    )
    try:
        log(f"workload={args.workload} seed={args.seed} cpus={cpus} driver_mem={driver_mem_mb}m")
        result = run_workload(ctx, T_START)
    finally:
        if ctx.rss is not None:
            ctx.rss.stop_mb()
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        if args.trace:
            ctx.tracer.write(
                os.path.join(ROOT, ".bench_out", f"spans-{args.workload}-{args.seed}.jsonl")
            )
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    keep = ctx.per_layer_names if args.trace else ctx.end_to_end_names
    metrics = {k: v for k, v in result["metrics"].items() if k in keep}
    missing = sorted(set(keep) - set(metrics))
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 3
    info = {
        "cpus": cpus,
        "driver_mem_mb": driver_mem_mb,
        "spark": result["spark_version"],
        "failures": result["failures"][:20],
    }
    print(json.dumps(info), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
