"""Deletion (right-to-be-forgotten / corpus retraction) for the two
persisted indexes (r6): tombstone epochs make a document/vector
unqueryable immediately — including its contribution to BM25's N/avgdl —
and the next compaction physically purges its rows. A later re-ingest
resurrects it through the unchanged max-src_batch liveness rule.

The correctness standard is index-vs-index parity: an index that
ingested the full corpus and then deleted doc X must answer every query
IDENTICALLY to a fresh index built without X (same code path, same
stats arithmetic — so the comparison is exact, not approximate)."""

from __future__ import annotations

import os
import pytest

from pyspark.sql import functions as F

from data_ingestion_experiment_otp_spark.streaming.text_index import (
    bm25_query_index,
    compact_text_index,
    phrase_query_index,
    text_index_delete_sink,
    text_index_sink,
)

DOC_SCHEMA = "doc_id long, text string"

DOCS = [
    (1, "alpha beta gamma alpha"),
    (2, "alpha delta epsilon"),
    (3, "beta gamma delta"),
    (4, "alpha beta alpha beta"),
    (5, "zeta eta theta"),
]
QUERIES = [(0, "alpha"), (1, "beta"), (1, "gamma")]
PHRASES = [(0, "alpha", 0), (0, "beta", 1)]


def _build(spark, path, docs, start_epoch=0, per_epoch=3):
    sink = text_index_sink(path)
    for i in range(0, len(docs), per_epoch):
        sink(
            spark.createDataFrame(docs[i : i + per_epoch], DOC_SCHEMA),
            start_epoch + i // per_epoch,
        )
    return path


def _bm25(spark, path):
    return sorted(map(tuple, bm25_query_index(spark, path, QUERIES).collect()))


def _phrase(spark, path):
    return sorted(map(tuple, phrase_query_index(spark, path, PHRASES).collect()))


class TestTextIndexDeletion:
    def test_deleted_doc_leaves_results_and_stats(self, spark, tmp_path):
        """After tombstoning doc 2, BM25 answers must equal a fresh index
        that never saw doc 2 — not just 'doc 2 absent': N and avgdl must
        shift, so every surviving score moves too."""
        full = _build(spark, str(tmp_path / "full"), DOCS)
        text_index_delete_sink(full)(
            spark.createDataFrame([(2,)], "doc_id long"), 10
        )
        ref = _build(spark, str(tmp_path / "ref"), [d for d in DOCS if d[0] != 2])
        got, want = _bm25(spark, full), _bm25(spark, ref)
        assert got == want
        assert all(r[1] != 2 for r in got)
        assert got  # non-vacuous

    def test_phrase_stops_matching(self, spark, tmp_path):
        full = _build(spark, str(tmp_path / "full"), DOCS)
        before = _phrase(spark, full)
        assert any(r[1] == 4 for r in before)  # doc 4 contains "alpha beta"
        text_index_delete_sink(full)(
            spark.createDataFrame([(4,)], "doc_id long"), 10
        )
        after = _phrase(spark, full)
        ref = _build(spark, str(tmp_path / "ref"), [d for d in DOCS if d[0] != 4])
        assert after == _phrase(spark, ref)
        assert all(r[1] != 4 for r in after)

    def test_reingest_resurrects(self, spark, tmp_path):
        full = _build(spark, str(tmp_path / "full"), DOCS)
        text_index_delete_sink(full)(
            spark.createDataFrame([(2,)], "doc_id long"), 10
        )
        # re-ingest the same doc at a higher epoch: back in the corpus
        text_index_sink(full)(
            spark.createDataFrame([DOCS[1]], DOC_SCHEMA), 11
        )
        ref = _build(spark, str(tmp_path / "ref"), DOCS)
        assert _bm25(spark, full) == _bm25(spark, ref)

    def test_compaction_purges_tombstoned_rows(self, spark, tmp_path):
        """Tombstoning makes a doc unqueryable; compaction must remove
        its BYTES — no doclen or posting row for it in the new
        generation — while answering queries identically."""
        import os

        full = _build(spark, str(tmp_path / "full"), DOCS)
        text_index_delete_sink(full)(
            spark.createDataFrame([(2,)], "doc_id long"), 10
        )
        before = _bm25(spark, full)
        gen2 = str(tmp_path / "gen2")
        compact_text_index(spark, full, gen2)
        assert _bm25(spark, gen2) == before
        doclen = spark.read.parquet(os.path.join(gen2, "doclen"))
        assert doclen.filter(F.col("doc_id") == 2).count() == 0
        postings = spark.read.parquet(os.path.join(gen2, "postings"))
        assert postings.filter(F.col("doc_id") == 2).count() == 0
        # the live docs all survived
        assert doclen.select("doc_id").distinct().count() == len(DOCS) - 1


class TestVectorIndexDeletion:
    @pytest.mark.slow
    def test_delete_purge_resurrect(self, spark, tmp_path):
        """Plant a near-duplicate of the query as the top hit, tombstone
        it (it must vanish from answers immediately), compact (its rows
        must leave both stores), then re-ingest (top hit again)."""
        import os

        import numpy as np

        from data_ingestion_experiment_otp_spark.streaming.vector_index import (
            ann_query_index,
            compact_vector_index,
            vector_index_delete_sink,
            vector_index_sink,
        )

        rng = np.random.default_rng(11)
        base = rng.standard_normal(64)
        near = base + 0.05 * rng.standard_normal(64)
        rows = [(1, [float(x) for x in near])] + [
            (i, [float(x) for x in rng.standard_normal(64)]) for i in range(2, 40)
        ]
        idx = str(tmp_path / "vidx")
        vector_index_sink(idx)(
            spark.createDataFrame(rows, "vec_id long, embedding array<float>"), 0
        )
        qdf = spark.createDataFrame(
            [(100, [float(x) for x in base])], "query_id long, embedding array<float>"
        )

        def top(path):
            r = ann_query_index(spark, path, qdf, k=3).collect()
            return [row["vec_id"] for row in sorted(r, key=lambda x: x["rn"])]

        assert top(idx)[0] == 1  # planted near-dup leads
        vector_index_delete_sink(idx)(
            spark.createDataFrame([(1,)], "vec_id long"), 1
        )
        assert 1 not in top(idx)  # unqueryable immediately

        gen2 = str(tmp_path / "vgen2")
        compact_vector_index(spark, idx, gen2)
        vecs = spark.read.parquet(os.path.join(gen2, "vectors"))
        buckets = spark.read.parquet(os.path.join(gen2, "buckets"))
        assert vecs.filter(F.col("vec_id") == 1).count() == 0
        assert buckets.filter(F.col("vec_id") == 1).count() == 0
        assert 1 not in top(gen2)

        # resurrect at a higher epoch in the original index
        vector_index_sink(idx)(
            spark.createDataFrame(rows[:1], "vec_id long, embedding array<float>"), 2
        )
        assert top(idx)[0] == 1


class TestCorpusRetract:
    SCHEMA = (
        "doc_id long, source string, n_chars long, text string, embedding array<float>"
    )

    def test_retract_across_all_five_stores_and_readmission(self, spark, tmp_path):
        """End-to-end right-to-be-forgotten through the capstone: after
        corpus_retract, the doc is gone from accepted/curated, its hash
        has left the dedup index, and both serving indexes stop
        returning it — AND a later re-crawl of the identical text is
        ADMITTED again (the property tombstoning the serving indexes
        alone would break: a stale dedup-index hash would silently block
        re-entry forever)."""
        import numpy as np

        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_ingest_epoch,
            corpus_retract,
        )
        from data_ingestion_experiment_otp_spark.streaming.curation import read_curated
        from data_ingestion_experiment_otp_spark.streaming.text_index import (
            bm25_query_index,
        )
        from data_ingestion_experiment_otp_spark.streaming.vector_index import (
            ann_query_index,
        )

        rng = np.random.default_rng(5)
        base = rng.standard_normal(64)
        near = [float(x) for x in base + 0.05 * rng.standard_normal(64)]
        text7 = "retractme alpha beta gamma delta epsilon zeta eta theta iota"
        docs0 = [
            (7, "web", len(text7), text7, near),
            (8, "web", 30, "other words entirely here now one", [float(x) for x in rng.standard_normal(64)]),
        ]
        docs1 = [
            (9, "forum", 31, "more distinct tokens in this doc two", [float(x) for x in rng.standard_normal(64)]),
        ]
        cents = (
            spark.createDataFrame([(0, near)], "vec_id long, embedding array<float>")
            .collect()
        )
        work = str(tmp_path / "work")
        epoch = corpus_ingest_epoch(work, cents, {"*": 0.0})
        epoch(spark.createDataFrame(docs0, self.SCHEMA), 0)
        epoch(spark.createDataFrame(docs1, self.SCHEMA), 1)

        dirs = corpus_ingest_dirs(work)
        q = [(0, "retractme")]
        qv = spark.createDataFrame(
            [(100, [float(x) for x in base])], "query_id long, embedding array<float>"
        )
        assert [r["doc_id"] for r in bm25_query_index(spark, dirs["text_index"], q).collect()] == [7]
        assert 7 in {
            r["vec_id"] for r in ann_query_index(spark, dirs["vector_index"], qv, k=3).collect()
        }

        removed = corpus_retract(spark, work, [7])
        assert removed["accepted"] == 1 and removed["curated"] == 1
        assert removed["dedup_index"] == 1 and removed["text_index"] > 0
        assert removed["vector_index"] > 0

        acc = spark.read.option("basePath", dirs["accepted"]).parquet(dirs["accepted"])
        assert acc.filter(F.col("doc_id") == 7).count() == 0
        assert acc.count() == 2  # the other docs untouched
        assert read_curated(spark, dirs["curated"]).filter(F.col("doc_id") == 7).count() == 0
        assert not bm25_query_index(spark, dirs["text_index"], q).collect()
        assert 7 not in {
            r["vec_id"] for r in ann_query_index(spark, dirs["vector_index"], qv, k=3).collect()
        }

        # A re-crawl of the IDENTICAL text at a later epoch is admitted
        # again and becomes searchable — consent re-granted, content back.
        epoch(spark.createDataFrame(docs0[:1], self.SCHEMA), 11)
        # fresh reader: `acc`'s file listing was resolved before epoch 11
        acc2 = spark.read.option("basePath", dirs["accepted"]).parquet(
            dirs["accepted"]
        )
        assert acc2.filter(F.col("doc_id") == 7).count() == 1
        assert [r["doc_id"] for r in bm25_query_index(spark, dirs["text_index"], q).collect()] == [7]
        assert 7 in {
            r["vec_id"] for r in ann_query_index(spark, dirs["vector_index"], qv, k=3).collect()
        }


    def test_retract_null_text_and_crash_leftovers(self, spark, tmp_path):
        """r7 ADVICE fixes: (a) retracting a NULL-text doc must not crash
        on its NULL sha2 hash, and unrelated null-hash dedup-index rows
        must survive the rewrite (the ~isin predicate silently dropped
        them); (b) the swap temp/trash generations are dot-prefixed, so a
        leftover from a crashed attempt is INVISIBLE to Spark partition
        discovery instead of double-serving as a parseable
        ``batch_id=N.retract_tmp`` pseudo-partition — and the next
        retraction cleans it up."""
        import numpy as np

        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_ingest_epoch,
            corpus_retract,
        )

        rng = np.random.default_rng(11)
        emb = lambda: [float(x) for x in rng.standard_normal(64)]  # noqa: E731
        docs0 = [
            (5, "web", 0, None, emb()),
            (6, "web", 28, "unique words for doc six here", emb()),
            (7, "web", 29, "other words for doc seven too", emb()),
        ]
        cents = spark.createDataFrame(
            [(0, docs0[1][4])], "vec_id long, embedding array<float>"
        ).collect()
        work = str(tmp_path / "work")
        corpus_ingest_epoch(work, cents, {"*": 0.0})(
            spark.createDataFrame(docs0, self.SCHEMA), 0
        )
        dirs = corpus_ingest_dirs(work)

        # plant a crashed prior attempt's temp generation: dot-prefixed,
        # so partition discovery must NOT see its rows
        stale = os.path.join(dirs["accepted"], ".batch_id=0.retract_tmp")
        spark.createDataFrame(
            [(99, "web", 1, "ghost", [0.0])], self.SCHEMA
        ).write.parquet(stale)
        acc = spark.read.option("basePath", dirs["accepted"]).parquet(
            dirs["accepted"]
        )
        assert acc.count() == 3  # the ghost rows are invisible

        removed = corpus_retract(spark, work, [5, 6])
        assert removed["accepted"] == 2
        # doc 5's NULL hash is not addressable; only doc 6's hash leaves
        assert removed["dedup_index"] == 1
        idx = spark.read.schema("content_hash string").parquet(
            os.path.join(dirs["dedup_index"], "src_batch=0")
        )
        assert idx.filter(F.col("content_hash").isNull()).count() == 1
        assert idx.count() == 2  # null row + doc 7's hash
        acc2 = spark.read.option("basePath", dirs["accepted"]).parquet(
            dirs["accepted"]
        )
        assert [r["doc_id"] for r in acc2.collect()] == [7]
        # the planted leftover was cleaned up and no new scratch remains
        leftovers = [
            e
            for store in ("accepted", "curated", "dedup_index")
            for e in os.listdir(dirs[store])
            if ".retract_" in e
        ]
        assert leftovers == []


class TestStreamingRetraction:
    SCHEMA = (
        "doc_id long, source string, n_chars long, text string, embedding array<float>"
    )

    @pytest.mark.slow
    def test_retract_between_streaming_epochs(self, spark, tmp_path):
        """Retraction through the REAL streaming API: start_corpus_ingest
        drains a 2-file feed, corpus_retract runs as the control-plane
        operation between streams, and a RESTARTED stream (same
        checkpoint) ingests the re-crawled identical text as NEW content
        — the full lifecycle a production pipeline runs."""
        import time as _t

        import numpy as np

        from data_ingestion_experiment_otp_spark.streaming import drive
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_retract,
            start_corpus_ingest,
        )
        from data_ingestion_experiment_otp_spark.streaming.text_index import (
            bm25_query_index,
        )

        rng = np.random.default_rng(3)
        text7 = "streamretract alpha beta gamma delta epsilon"
        doc7 = (7, "web", len(text7), text7, [float(x) for x in rng.standard_normal(64)])
        other = (8, "web", 20, "totally different words", [float(x) for x in rng.standard_normal(64)])
        later = (9, "web", 21, "yet more other content", [float(x) for x in rng.standard_normal(64)])

        feed = str(tmp_path / "feed")
        for rows in ([doc7], [other]):
            spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(feed)
            _t.sleep(0.05)

        cents = spark.createDataFrame(
            [(0, doc7[4])], "vec_id long, embedding array<float>"
        ).collect()
        work = str(tmp_path / "work")
        ckpt = str(tmp_path / "ckpt")
        q = start_corpus_ingest(spark, feed, work, cents, {"*": 0.0}, ckpt)
        drive.drain(q)

        dirs = corpus_ingest_dirs(work)
        probe = [(0, "streamretract")]
        assert [
            r["doc_id"] for r in bm25_query_index(spark, dirs["text_index"], probe).collect()
        ] == [7]

        corpus_retract(spark, work, [7])
        assert not bm25_query_index(spark, dirs["text_index"], probe).collect()

        # restart the stream from the same checkpoint with two new files:
        # filler + the identical re-crawl of doc 7's text
        spark.createDataFrame([later], self.SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        _t.sleep(0.05)
        spark.createDataFrame([doc7], self.SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        q2 = start_corpus_ingest(spark, feed, work, cents, {"*": 0.0}, ckpt)
        drive.drain(q2)

        acc = spark.read.option("basePath", dirs["accepted"]).parquet(dirs["accepted"])
        assert acc.filter(acc.doc_id == 7).count() == 1  # re-admitted
        assert [
            r["doc_id"] for r in bm25_query_index(spark, dirs["text_index"], probe).collect()
        ] == [7]  # searchable again


class TestRetractionSpanStores:
    @pytest.mark.slow
    def test_retract_purges_span_audit_and_gram_counts(self, spark, tmp_path):
        """With the stage-6 span screen on, retraction must also purge the
        victim's span-audit row (it holds kept_text — personal data) and
        subtract its gram contributions: the rewritten gram_index
        partition equals what the sink would have admitted had the victim
        never arrived, so a later epoch no longer sees the victim's spans
        as 'known'."""
        import numpy as np

        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_ingest_epoch,
            corpus_retract,
        )

        rng = np.random.default_rng(13)
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

        epoch(
            spark.createDataFrame(
                [row(7, f"a1 {span} a2"), (8, "web", 10, "u1 u2 u3 u4 u5 u6", None)],
                schema,
            ),
            0,
        )
        grams_before = spark.read.schema("g long, n long").parquet(
            os.path.join(dirs["gram_index"], "src_batch=0")
        )
        n_before = grams_before.agg({"n": "sum"}).collect()[0][0]

        removed = corpus_retract(spark, work, [7])
        assert removed["span_audit"] == 1
        assert removed["gram_index"] > 0

        audit = spark.read.parquet(
            os.path.join(dirs["span_audit"], "batch_id=0")
        ).collect()
        assert {r["doc_id"] for r in audit} == {8}
        grams_after = spark.read.schema("g long, n long").parquet(
            os.path.join(dirs["gram_index"], "src_batch=0")
        )
        n_after = grams_after.agg({"n": "sum"}).collect()[0][0] or 0
        # doc 7 had tokens "a1 <span8> a2" = 10 tokens -> 6 grams; doc 8's
        # 6 tokens -> 2 grams survive
        assert n_before - n_after == removed["gram_index"] == 6
        assert n_after == 2

        # the retracted span is unknown again: a new epoch repeating it
        # sees no prior occurrence (coverage 0)
        epoch(spark.createDataFrame([row(9, f"b1 {span} b2")], schema), 1)
        audit1 = spark.read.parquet(
            os.path.join(dirs["span_audit"], "batch_id=1")
        ).collect()
        assert audit1[0]["dup_tokens"] == 0

    @pytest.mark.slow
    def test_retract_on_compacted_gram_index_subtracts(self, spark, tmp_path):
        """r8: after compact_span_index folds the epoch stack, per-epoch
        provenance is gone, so retraction SUBTRACTS the victims' gram
        counts from the folded src_batch=0 generation (the _COMPACTED
        marker selects the path). The resulting counts equal a from-
        scratch recount of the surviving accepted docs, the removed
        accounting reconciles, and a later epoch no longer sees the
        victim's spans."""
        import shutil

        import numpy as np

        from data_ingestion_experiment_otp_spark.operators.dedup import (
            _WORD_SPANS,
            _span_gram_counts,
        )
        from data_ingestion_experiment_otp_spark.streaming.corpus_index import (
            compact_span_index,
        )
        from data_ingestion_experiment_otp_spark.streaming.corpus_pipeline import (
            corpus_ingest_dirs,
            corpus_ingest_epoch,
            corpus_retract,
        )

        rng = np.random.default_rng(29)
        schema = (
            "doc_id long, source string, n_chars long, text string,"
            " embedding array<float>"
        )

        def row(i, text):
            return (
                i,
                "web",
                len(text),
                text,
                [float(x) for x in rng.standard_normal(64)],
            )

        span = "s1 s2 s3 s4 s5 s6 s7 s8"
        cents = spark.createDataFrame(
            [(0, [float(x) for x in rng.standard_normal(64)])],
            "vec_id long, embedding array<float>",
        ).collect()
        work = str(tmp_path / "work")
        epoch = corpus_ingest_epoch(work, cents, {"*": 0.0}, span_screen=True)
        dirs = corpus_ingest_dirs(work)

        epoch(
            spark.createDataFrame(
                [row(7, f"a1 {span} a2"), row(8, "u1 u2 u3 u4 u5 u6")], schema
            ),
            0,
        )
        epoch(
            spark.createDataFrame(
                [row(9, f"b1 {span} b2"), row(10, "m1 m2 m3 m4 m5")], schema
            ),
            1,
        )

        gen2 = str(tmp_path / "gram_gen2")
        compact_span_index(spark, dirs["gram_index"], gen2)
        shutil.rmtree(dirs["gram_index"])
        os.rename(gen2, dirs["gram_index"])
        n_folded = (
            spark.read.schema("g long, n long")
            .parquet(os.path.join(dirs["gram_index"], "src_batch=0"))
            .agg({"n": "sum"})
            .collect()[0][0]
        )

        removed = corpus_retract(spark, work, [7, 9])
        assert removed["span_audit"] == 2
        assert removed["gram_index"] == 6 + 6  # two 10-token victims

        n_after = (
            spark.read.schema("g long, n long")
            .parquet(os.path.join(dirs["gram_index"], "src_batch=0"))
            .agg({"n": "sum"})
            .collect()[0][0]
        ) or 0
        assert n_folded - n_after == removed["gram_index"]

        # the folded counts now equal a from-scratch recount of the
        # surviving accepted docs
        survivors = spark.read.schema("doc_id long, text string").parquet(
            dirs["accepted"]
        )
        expect = sorted(
            tuple(r)
            for r in _span_gram_counts(survivors, _WORD_SPANS).collect()
        )
        got = sorted(
            tuple(r)
            for r in spark.read.schema("g long, n long")
            .parquet(os.path.join(dirs["gram_index"], "src_batch=0"))
            .collect()
        )
        assert got == [(g, n) for g, n in expect]

        # the retracted span is unknown again even though its epochs were
        # folded: a new epoch repeating it sees no prior occurrence
        epoch(spark.createDataFrame([row(11, f"c1 {span} c2")], schema), 2)
        audit2 = spark.read.parquet(
            os.path.join(dirs["span_audit"], "batch_id=2")
        ).collect()
        assert audit2[0]["dup_tokens"] == 0
