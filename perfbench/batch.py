"""Batch phase: registered query cells forced through a noop sink, one
after another (closed loop, one client).

SUITE holds one headline cell per operator module, plus
`cdc_merge_upsert` for the cdc module, which has no headline cell. Where
a module has several cells the cheapest to warm was taken, except for
dedup, whose `llm_char_jaccard_capped` is the costliest cell of the full
pass. The whole 81-cell headline pass takes 70-100 s on a 4-core box,
too long for a campaign of 70 runs over the three workloads to fit in
under an hour.

Set-up runs every cell once, WARMUP_THREADS at a time, so that every
cell's first-call costs (code generation, Python workers, class loading)
are paid there, and so that the cells that serve from a trained artifact
store (bpe, unigram, trigram, kn4) train it cold in the run's private
temp root there and never inside the timed pass. A cold timed pass ran
50% longer than a warm one and twice as noisy.

After the timed pass a seeded rotation of cells is checked outside the
timing: a multiset fingerprint against the cell's DuckDB oracle where it
has one, a non-empty row count otherwise.
"""

from __future__ import annotations

import json
import math
import time
from collections import Counter

# The cells that train an artifact store or pay the longest first call
# come first, so that the set-up pool starts them first.
SUITE = (
    "llm_char_jaccard_capped",
    "llm_kn4_perplexity",
    "llm_cluster_assign",
    "pipeline_tokenize_pack",
    "llm_trigram_perplexity",
    "llm_unigram_encode",
    "mv_incremental_rollup",
    "agg_groupby",
    "join_asof",
    "pipeline_otp_ingest",
    "llm_url_dedup",
    "join_inner_equi",
    "llm_phrase_search",
    "llm_sim_topk",
    "st_watermark_dedup",
    "llm_gopher_rules",
    "win_rank",
    "llm_mixture_weights",
    "llm_corpus_diff",
    "llm_multimodal_features",
    "llm_embed_rp",
    "cdc_merge_upsert",
)
CHECKS_PER_RUN = 1  # 22 consecutive seeds check every cell
WARMUP_THREADS = 4


def module_of(spec) -> str:
    mod = spec.fn.__module__.split(".")
    return "plans." + mod[-1] if mod[-2] == "plans" else mod[-1]


def setup(ctx):
    """Run every cell once, concurrently."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from data_ingestion_experiment_otp_spark.plans.registry import all_queries

    specs = all_queries()

    def warm(name):
        with ctx.tracer.span(f"setup.warmup.{name}", "setup"):
            specs[name].fn(ctx.spark, ctx.sf_dir).write.format("noop").mode("overwrite").save()

    with ThreadPoolExecutor(WARMUP_THREADS) as pool:
        list(pool.map(inheritable_thread_target(warm), SUITE))
    return {"specs": specs}


def run(ctx, state):
    from phases import put_ops

    specs, cells = state["specs"], SUITE
    spark, sf = ctx.spark, ctx.sf_dir
    walls, builds, ok = {}, {}, {}
    ctx.begin_timed()
    t_pass = time.perf_counter()
    for name in cells:
        ctx.job_group(f"cell:{name}", name)
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span(f"batch.{name}", f"cell:{name}", module=module_of(specs[name])):
                with ctx.tracer.span("plans.registry.build", f"cell:{name}"):
                    df = specs[name].fn(spark, sf)
                t1 = time.perf_counter()
                with ctx.tracer.span("spark.noop_write", f"cell:{name}"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            walls[name], builds[name], ok[name] = t2 - t0, t1 - t0, True
        except Exception as e:  # an erroring cell counts as failed
            walls[name], ok[name] = time.perf_counter() - t0, False
            ctx.check(f"batch {name}", False, f"error: {e!r}")
        finally:
            ctx.clear_job_group()
    total = time.perf_counter() - t_pass
    ctx.end_timed(total)

    ran = [walls[n] for n in cells if ok[n]]
    put_ops(ctx, total, ran)
    if ctx.traced:
        ctx.put("batch.total_s", total)
        ctx.put("batch.geomean_s", ctx.metrics["op_geomean_s"]["value"])
        _layer_metrics(ctx, specs, cells, walls, builds)

    # a seeded rotation of CHECKS_PER_RUN cells is checked per run; a full
    # re-run of the suite would double the run
    duck = _duck(sf)
    for i in range(CHECKS_PER_RUN):
        name = cells[(ctx.seed * CHECKS_PER_RUN + i) % len(cells)]
        if ok[name]:
            _check_cell(ctx, name, specs[name], spark, sf, duck)
    duck.close()


def _layer_metrics(ctx, specs, cells, walls, builds):
    """Per-module walls, job counts and shuffle bytes; per-cell job and
    stage counts go to stderr, where runs can be compared for
    steadiness."""
    import sys

    led = ctx.ledger
    per_mod: dict[str, Counter] = {}
    per_cell = {}
    for name in cells:
        if name not in builds:
            continue
        a = led.account(led.job_ids(f"cell:{name}"))
        per_cell[name] = (a["jobs"], a["stages"])
        m = per_mod.setdefault(module_of(specs[name]), Counter())
        m["wall_s"] += walls[name]
        m["jobs"] += a["jobs"]
        m["shuffle_write_bytes"] += a["shuffle_write_bytes"]
    print(f"perfbench: cell jobs/stages {json.dumps(per_cell)}", file=sys.stderr)
    ctx.put("plans.registry.build_s", sum(builds.values()))
    for mod, m in per_mod.items():
        for k, v in m.items():
            name = f"operators.{mod}.{k}" if not mod.startswith("plans.") else f"{mod}.{k}"
            if name in ctx.units:
                ctx.put(name, v)


def _duck(sf_dir):
    import duckdb

    from data_ingestion_experiment_otp_spark.sources.catalog import TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _fingerprint(cols, rows):
    cols = [c.lower() for c in cols]
    order = [cols.index(c) for c in sorted(cols)]
    return sorted(cols), Counter(tuple(_canon(r[i]) for i in order) for r in rows)


def _check_cell(ctx, name, spec, spark, sf, duck):
    try:
        df = spec.fn(spark, sf)
        if spec.oracle is None:
            n = df.count()
            ctx.check(f"batch {name}", n > 0, f"{n} rows")
            return
        got = _fingerprint(df.columns, [tuple(r) for r in df.collect()])
        rel = duck.sql(spec.oracle)
        want = _fingerprint(rel.columns, rel.fetchall())
        ctx.check(
            f"batch {name}",
            got == want,
            f"spark {sum(got[1].values())} rows vs oracle {sum(want[1].values())}",
        )
    except Exception as e:
        ctx.check(f"batch {name}", False, f"check error: {e!r}")
