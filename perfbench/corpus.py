"""Corpus phase: a seeded sample of the document feed through
`corpus_ingest_epoch` on a fresh store root, then seeded reads of the
indexes the epoch built.

The ladder is domain blocklist -> exact screen -> near -> sem -> ppl ->
select, then the curate/vindex/tindex/spans tail. The model gate and the
decontamination gate are left out: on this corpus the gate's weak labels
reject every doc and decon + ppl leave nothing, so with them the tail
would run on empty input. Each stage must admit more than 0 docs
(checked outside the timing, counted in `failed`).

One epoch of EPOCH_DOCS documents runs on a fresh store, then one
seeded `bm25_query_index`, `phrase_query_index` and `ann_query_index`
call each reads the stores it built. The epoch is the store's initial
load and pays the process's first-use costs, as a freshly started
pipeline does (a second epoch runs 10-40% faster). The phrase and ANN
queries are drawn from docs the epoch admitted, so every read must be
non-empty. The funnel and a digest of the read answers go to stderr, so
runs with the same seed can be compared: they must print the same.

Size: an epoch of the full ladder runs about a hundred Spark jobs (~10 s
on a 4-core box) whatever its size, and cold training of the three
calibrations the ladder serves from takes 15 s of set-up, so a run times
one epoch; a second would add a fifth to the whole benchmark's time.
"""

from __future__ import annotations

import os
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from datagen import WORDS
from phases import N_DOCS

EPOCH_DOCS = 50
# Stages of the ladder, in order, with the store their survivors land in.
STAGES = (
    ("dom", "dom_accepted"),
    ("screen", "accepted"),
    ("near", "near_accepted"),
    ("sem", "sem_accepted"),
    ("ppl", "ppl_accepted"),
    ("select", "sel_accepted"),
)
TAIL = ("curate", "vindex", "tindex", "spans")
STORES = {
    "corpus_index": ("dedup_index", "shingle_index", "gram_index", "sem_index"),
    "text_index": ("text_index",),
    "vector_index": ("vector_index",),
    "curation": ("curated",),
}


def setup(ctx):
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.sql import functions as F

    from data_ingestion_experiment_otp_spark.operators.clustering import sem_model_dir
    from data_ingestion_experiment_otp_spark.operators.ngram_lm import ppl_gate_calibration
    from data_ingestion_experiment_otp_spark.operators.provenance import _BLOCKLIST
    from data_ingestion_experiment_otp_spark.operators.sampling import dsir_calibration
    from data_ingestion_experiment_otp_spark.sources.catalog import load
    from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
        corpus_ingest_dirs,
        corpus_ingest_epoch,
    )

    spark, sf = ctx.spark, ctx.sf_dir

    def calibrate(fn):
        with ctx.tracer.span(f"setup.calibrate.{fn.__name__}", "setup"):
            return fn(spark, sf)

    # the three calibrations train different stores; run them concurrently
    with ThreadPoolExecutor(3) as pool:
        sem_model, ppl_calib, select_calib = pool.map(
            inheritable_thread_target(calibrate),
            (sem_model_dir, ppl_gate_calibration, dsir_calibration),
        )
    emb = load(spark, sf, "embeddings")
    cents = emb.orderBy("vec_id").limit(4).select("vec_id", "embedding").collect()
    rng = np.random.default_rng(ctx.seed + 1)
    doc_ids = [int(d) for d in rng.choice(N_DOCS, EPOCH_DOCS, replace=False)]
    feed = (
        load(spark, sf, "documents")
        .filter(F.col("doc_id").isin(doc_ids))
        .join(emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id", "left")
        .select("doc_id", "source", "n_chars", "text", "embedding")
        .persist()
    )
    feed.count()
    store = os.path.join(ctx.work, "corpus_store")
    epoch_fn = corpus_ingest_epoch(
        store,
        cents,
        {"*": 0.0},
        span_screen=True,
        near_dedup=True,
        sem_model=sem_model,
        select_calib=select_calib,
        ppl_calib=ppl_calib,
        domain_blocklist=list(_BLOCKLIST),
    )
    bm25 = [(q, WORDS[int(w)]) for q in range(4) for w in rng.choice(len(WORDS), 2, replace=False)]
    return {
        "feed": feed,
        "dirs": corpus_ingest_dirs(store),
        "epoch": epoch_fn,
        "bm25": bm25,
        "rng": rng,
    }


def _stage_rows(dirs, key, batch_id, columns):
    """The rows a stage store holds for one epoch, read with pyarrow so
    the check runs no Spark job (an absent directory reads empty)."""
    path = os.path.join(dirs[key], f"batch_id={batch_id}")
    if not os.path.isdir(path):
        return pa.table({c: [] for c in columns})
    return pq.read_table(path, columns=columns)


def _check_funnel(ctx, state, b) -> None:
    """Every ladder stage admitted more than 0 docs in epoch b. The
    funnel goes to stderr: runs with one seed must print the same."""
    import sys

    n_in, admitted = EPOCH_DOCS, {}
    for stage, key in STAGES:
        n = admitted[stage] = _stage_rows(state["dirs"], key, b, ["doc_id"]).num_rows
        ctx.check(f"corpus epoch {b} {stage}", n > 0, f"admitted {n} of {n_in}")
        n_in = n
    print(f"perfbench: corpus funnel {EPOCH_DOCS} -> {admitted}", file=sys.stderr)


def _admitted_docs(state, b) -> list:
    """(doc_id, text, embedding) of the docs the ladder admitted in epoch
    b, in doc_id order."""
    t = _stage_rows(state["dirs"], "sel_accepted", b, ["doc_id", "text", "embedding"])
    rows = t.sort_by("doc_id").to_pylist()
    return [(r["doc_id"], r["text"], r["embedding"]) for r in rows]


def _read_queries(state, docs):
    """Seeded phrase and ANN query sets drawn from docs the epoch
    admitted, so every read has at least one answer."""
    rng = state["rng"]
    picks = [docs[int(i)] for i in rng.choice(len(docs), min(4, len(docs)), replace=False)]
    phrases = []
    for q, (_, text, _) in enumerate(picks):
        toks = text.split()
        s = int(rng.integers(0, max(1, len(toks) - 2)))
        phrases += [(q, t, o) for o, t in enumerate(toks[s : s + 3])]
    ann = [(-1 - q, [float(x) for x in emb]) for q, (_, _, emb) in enumerate(picks)]
    state["phrase"] = phrases
    state["ann"] = ann


def _reads(ctx, state):
    """Issue the index reads once; returns [(kind, seconds, answer)]."""
    from data_ingestion_experiment_otp_spark.streaming.text_index import (
        bm25_query_index,
        phrase_query_index,
    )
    from data_ingestion_experiment_otp_spark.streaming.vector_index import ann_query_index

    spark, dirs = ctx.spark, state["dirs"]
    calls = {
        "bm25": lambda: bm25_query_index(spark, dirs["text_index"], state["bm25"]),
        "phrase": lambda: phrase_query_index(spark, dirs["text_index"], state["phrase"]),
        "ann": lambda: ann_query_index(
            spark,
            dirs["vector_index"],
            spark.createDataFrame(state["ann"], "query_id int, embedding array<float>"),
        ),
    }
    out = []
    for kind, call in calls.items():
        ctx.job_group(f"read:{kind}", kind)
        with ctx.tracer.span(f"streaming.read.{kind}", f"read:{kind}"):
            t0 = time.perf_counter()
            rows = sorted(tuple(r) for r in call().collect())
            out.append((kind, time.perf_counter() - t0, rows))
        ctx.clear_job_group()
    return out


def run(ctx, state):
    import hashlib
    import sys

    from phases import put_ops

    dirs, epoch_fn = state["dirs"], state["epoch"]
    read_s, by_kind = [], Counter()
    digest = hashlib.sha256()
    ctx.begin_timed()
    try:
        ctx.job_group("epoch:0", "epoch 0")
        with ctx.tracer.span("streaming.corpus_pipeline.epoch", "epoch:0"):
            t0 = time.perf_counter()
            epoch_fn(state["feed"], 0)
            epoch_s = time.perf_counter() - t0
        ctx.clear_job_group()
        if ctx.traced:
            _epoch_layers(ctx, 0, epoch_s, state)
        _read_queries(state, _admitted_docs(state, 0))
        for kind, s, rows in _reads(ctx, state):
            read_s.append(s)
            by_kind[kind] += s
            digest.update(repr((kind, rows)).encode())
            ctx.check(f"corpus read {kind}", len(rows) > 0, "empty answer")
        ctx.end_timed(epoch_s + sum(read_s))
        _check_funnel(ctx, state, 0)
    finally:
        epoch_fn.close()
        state["feed"].unpersist()
    print(f"perfbench: corpus read digest {digest.hexdigest()[:16]}", file=sys.stderr)

    put_ops(ctx, ctx.timed_total_s, [epoch_s])
    if ctx.traced:
        ctx.put("ingest.epoch_p50_s", epoch_s)
        ctx.put("ingest.docs_per_s", EPOCH_DOCS / epoch_s)
        ctx.put("serve.query_p50_s", np.median(read_s))
        ctx.put("serve.query_tail_s", max(read_s))
        ctx.put("streaming.text_index.bm25_s", by_kind["bm25"])
        ctx.put("streaming.text_index.phrase_s", by_kind["phrase"])
        ctx.put("streaming.vector_index.ann_s", by_kind["ann"])
        for layer, keys in STORES.items():
            nbytes = nfiles = 0
            for key in keys:
                for root, _, files in os.walk(dirs[key]):
                    nfiles += len(files)
                    nbytes += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            ctx.put(f"streaming.{layer}.bytes", nbytes)
            ctx.put(f"streaming.{layer}.files", nfiles)
        for k, v in state.get("layers", {}).items():
            ctx.put(k, v)


def _epoch_layers(ctx, b, wall, state):
    """Attribute the epoch's jobs to ladder stages by the job descriptions
    the epoch sets ("epoch <b>: <stage>"); the tail's four stages run on a
    2-wide pool and are reported as one `tail` span."""
    from tracing import union_seconds

    led = ctx.ledger
    acc = state.setdefault("layers", Counter())
    intervals: dict[str, list] = {}
    all_iv = []
    tail_labels = Counter()
    for j in led.job_ids(f"epoch:{b}"):
        jd = led.store.job(j)
        sub, done = jd.submissionTime(), jd.completionTime()
        if not (sub.isDefined() and done.isDefined()):
            continue
        iv = (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
        all_iv.append(iv)
        desc = jd.description().get() if jd.description().isDefined() else ""
        prefix = f"epoch {b}: "
        stage = desc[len(prefix) :] if desc.startswith(prefix) else None
        if stage in TAIL:
            tail_labels[stage] += 1
            stage = "tail"
        if stage is None:
            acc["streaming.corpus_pipeline.unlabeled_jobs"] += 1
            continue
        intervals.setdefault(stage, []).append(iv)
        acc[f"streaming.corpus_pipeline.{stage}.jobs"] += 1
    for stage, ivs in intervals.items():
        acc[f"streaming.corpus_pipeline.{stage}.s"] += union_seconds(ivs)
    acc["streaming.corpus_pipeline.driver_gap_s"] += wall - union_seconds(all_iv)
    acc["streaming.corpus_pipeline.tail_stages_unlabeled"] += sum(
        1 for s in TAIL if tail_labels[s] == 0
    )
