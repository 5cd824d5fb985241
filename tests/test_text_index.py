"""Streaming incremental text index: batch-parity, liveness on re-ingest,
replay absorption, and the partition-pruned query scan."""

from __future__ import annotations

import os
import pytest
import time

from data_ingestion_experiment_otp_spark.operators.retrieval import (
    _QUERIES,
    llm_bm25_topk,
)
from data_ingestion_experiment_otp_spark.streaming import drive
from data_ingestion_experiment_otp_spark.streaming.text_index import (
    bm25_query_index,
    index_stats,
    text_index_sink,
)

DOC_SCHEMA = "doc_id long, text string"


def _ingest_streaming(spark, tmp_path, epochs):
    """Stage one parquet file per epoch and drain a maxFilesPerTrigger=1
    stream through the sink — real foreachBatch epochs, not direct calls."""
    in_dir = str(tmp_path / "docs_in")
    for rows in epochs:
        spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        time.sleep(0.05)
    index_dir = str(tmp_path / "tindex")
    q = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.foreachBatch(text_index_sink(index_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drive.drain(q)
    return index_dir


class TestTextIndexParity:
    def test_index_query_matches_batch_bm25(self, spark, sf_dir, tmp_path):
        """The whole point of the index: ingesting the fixture corpus in
        three streaming epochs and querying the index must give EXACTLY
        the batch `llm_bm25_topk` answer on the same corpus — same
        tokenizer, tf/df/dl/N inputs, scoring expression, and rank
        tie-break, so equality is on full rounded scores, not just ids."""
        docs = [
            (r.doc_id, r.text)
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text")
            .collect()
        ]
        epochs = [[d for d in docs if d[0] % 3 == e] for e in range(3)]
        index_dir = _ingest_streaming(spark, tmp_path, epochs)

        got = sorted(
            map(tuple, bm25_query_index(spark, index_dir, list(_QUERIES)).collect())
        )
        want = sorted(map(tuple, llm_bm25_topk(spark, sf_dir).collect()))
        assert got == want

        stats = index_stats(spark, index_dir)
        assert stats["epochs"] == 3
        assert stats["docs"] == len(docs)

    @pytest.mark.slow
    def test_replay_absorbed(self, spark, sf_dir, tmp_path):
        """Re-running the final epoch's batch must change neither the
        index accounting nor any query result (dynamic partition
        overwrite scoped to the epoch's own partitions)."""
        docs = [
            (r.doc_id, r.text)
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text")
            .collect()
        ]
        epochs = [[d for d in docs if d[0] % 3 == e] for e in range(3)]
        index_dir = _ingest_streaming(spark, tmp_path, epochs)
        before_stats = index_stats(spark, index_dir)
        before = sorted(
            map(tuple, bm25_query_index(spark, index_dir, list(_QUERIES)).collect())
        )
        text_index_sink(index_dir)(spark.createDataFrame(epochs[2], DOC_SCHEMA), 2)
        assert index_stats(spark, index_dir) == before_stats
        after = sorted(
            map(tuple, bm25_query_index(spark, index_dir, list(_QUERIES)).collect())
        )
        assert after == before


class TestTextIndexLiveness:
    QUERY = [(0, "alpha")]

    def test_reingested_doc_drops_stale_terms(self, spark, tmp_path):
        """A doc re-ingested WITHOUT a term it used to contain must stop
        matching that term — stale-epoch postings are dead, not merely
        down-weighted (the existence-based analog of the vector index's
        freshest-payload rule)."""
        sink = text_index_sink(str(tmp_path / "tidx"))
        filler = [(int(i), "beta gamma delta " * 5) for i in range(10, 20)]
        sink(
            spark.createDataFrame(
                [(1, "alpha alpha beta"), (2, "alpha gamma")] + filler, DOC_SCHEMA
            ),
            0,
        )
        hits0 = {
            r.doc_id
            for r in bm25_query_index(spark, str(tmp_path / "tidx"), self.QUERY).collect()
        }
        assert hits0 == {1, 2}
        # epoch 1 re-ingests doc 1 with "alpha" removed
        sink(spark.createDataFrame([(1, "beta beta gamma")], DOC_SCHEMA), 1)
        hits1 = {
            r.doc_id
            for r in bm25_query_index(spark, str(tmp_path / "tidx"), self.QUERY).collect()
        }
        assert hits1 == {2}, "stale posting resurrected a removed term"

    def test_later_epoch_doc_searchable_without_rebuild(self, spark, tmp_path):
        sink = text_index_sink(str(tmp_path / "tidx"))
        sink(
            spark.createDataFrame(
                [(int(i), "beta gamma " * 4) for i in range(5)], DOC_SCHEMA
            ),
            0,
        )
        assert not bm25_query_index(spark, str(tmp_path / "tidx"), self.QUERY).collect()
        sink(spark.createDataFrame([(99, "alpha alpha beta")], DOC_SCHEMA), 1)
        hits = bm25_query_index(spark, str(tmp_path / "tidx"), self.QUERY).collect()
        assert [r.doc_id for r in hits] == [99]


class TestTextIndexPruning:
    def test_posting_scan_statically_pruned_to_query_pkeys(
        self, spark, tmp_path, spark_path
    ):
        """The postings scan must carry a static PartitionFilter on pkey —
        a bounded query vocabulary reads its own term-hash ranges, never
        the whole index — and the pruned-to set must be a strict subset of
        the pkey partitions on disk. Pinned on the Spark path (a slice this
        small is otherwise served on the driver, with no scan at all)."""
        import re

        # enough distinct vocabulary to populate most of the 16 pkey dirs;
        # words must be purely alphabetic — the '[a-z]+' tokenizer drops
        # digits, so "word7"-style vocab would collapse to one term
        import itertools
        import string

        vocab = [
            "".join(t) for t in itertools.islice(
                itertools.product(string.ascii_lowercase, repeat=3), 300
            )
        ]
        rows = [
            (int(i), " ".join(vocab[i : i + 30])) for i in range(0, 200, 3)
        ]
        sink = text_index_sink(str(tmp_path / "tidx"))
        sink(spark.createDataFrame(rows, DOC_SCHEMA), 0)

        with spark_path():
            out = bm25_query_index(spark, str(tmp_path / "tidx"), [(0, vocab[7])])
            plan = out._jdf.queryExecution().executedPlan().toString()
        scan_lines = [
            ln for ln in plan.splitlines() if "PartitionFilters" in ln and "pkey" in ln
        ]
        assert any(
            "pkey" in ln.split("PartitionFilters", 1)[1] for ln in scan_lines
        ), f"posting scan is not partition-pruned:\n{plan}"

        on_disk = set()
        for root, dirs, _files in os.walk(str(tmp_path / "tidx" / "postings")):
            on_disk.update(d for d in dirs if d.startswith("pkey="))
        # a 1-term query prunes to one pkey, which plans as an equality
        # predicate rather than an IN-list
        eq = re.findall(r"pkey#\d+ = (\d+)", plan)
        in_lists = re.findall(r"pkey#\d+ IN \(([^)]*)\)", plan)
        pruned_to = {int(x) for x in eq} | {
            int(x) for lst in in_lists for x in lst.split(",")
        }
        assert pruned_to, f"no pkey filter values in plan:\n{plan}"
        assert len(pruned_to) == 1 < len(on_disk), (pruned_to, len(on_disk))


class TestTextIndexCompaction:
    def test_compacted_generation_answers_identically_with_fewer_files(
        self, spark, sf_dir, tmp_path
    ):
        """Compaction folds every epoch into one generation: query answers
        are byte-identical, dead postings (terms a re-ingested doc
        dropped) leave the index entirely, and the posting file count
        collapses from epochs x pkeys toward one file per pkey."""
        import glob

        from data_ingestion_experiment_otp_spark.operators.retrieval import _QUERIES
        from data_ingestion_experiment_otp_spark.streaming.text_index import (
            compact_text_index,
            index_stats,
        )

        docs = [
            (r.doc_id, r.text)
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text")
            .collect()
        ]
        idx = str(tmp_path / "tidx")
        sink = text_index_sink(idx)
        for e in range(3):
            sink(
                spark.createDataFrame(
                    [d for d in docs if d[0] % 3 == e], DOC_SCHEMA
                ),
                e,
            )
        # epoch 3 re-ingests one doc with entirely new text: its epoch-0
        # postings become dead weight the compaction must drop
        victim = docs[0][0] - docs[0][0] % 3  # a doc ingested in epoch 0
        sink(
            spark.createDataFrame(
                [(victim, "replacement words only")], DOC_SCHEMA
            ),
            3,
        )

        before = sorted(
            map(tuple, bm25_query_index(spark, idx, list(_QUERIES)).collect())
        )
        stats_before = index_stats(spark, idx)

        out = str(tmp_path / "tidx_gen2")
        compact_text_index(spark, idx, out)

        after = sorted(
            map(tuple, bm25_query_index(spark, out, list(_QUERIES)).collect())
        )
        assert after == before
        stats_after = index_stats(spark, out)
        assert stats_after["docs"] == stats_before["docs"]
        assert stats_after["epochs"] == 1
        # the victim's dead epoch-0 postings are gone: the compacted
        # posting count is strictly below the raw accumulated count
        assert stats_after["postings"] < stats_before["postings"]
        files_before = glob.glob(f"{idx}/postings/src_batch=*/pkey=*/*.parquet")
        files_after = glob.glob(f"{out}/postings/src_batch=*/pkey=*/*.parquet")
        assert len(files_after) < len(files_before)


class TestPhraseQueryIndex:
    def test_matches_batch_phrase_search_and_liveness(self, spark, sf_dir, tmp_path):
        """The index-served phrase search must equal the batch operator
        over the same streamed-in corpus, and a re-ingested doc's OLD
        phrasing must stop matching (liveness through positions)."""
        from data_ingestion_experiment_otp_spark.operators.retrieval import (
            _PHRASES,
            llm_phrase_search,
        )
        from data_ingestion_experiment_otp_spark.streaming.text_index import (
            phrase_query_index,
        )

        docs = [
            (r.doc_id, r.text)
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text")
            .collect()
        ]
        idx = str(tmp_path / "tidx")
        sink = text_index_sink(idx)
        for e in range(3):
            sink(
                spark.createDataFrame(
                    [d for d in docs if d[0] % 3 == e], DOC_SCHEMA
                ),
                e,
            )
        got = sorted(
            map(tuple, phrase_query_index(spark, idx, list(_PHRASES)).collect())
        )
        want = sorted(map(tuple, llm_phrase_search(spark, sf_dir).collect()))
        assert got == want and got

        # liveness: re-ingest one matching doc with the phrase broken up
        phrase_q = [(0, "join", 0), (0, "hash", 1)]
        hits = {
            r.doc_id
            for r in phrase_query_index(spark, idx, phrase_q).collect()
        }
        assert hits, "fixture corpus contains the probe phrase"
        victim = min(hits)
        sink(
            spark.createDataFrame(
                [(victim, "join gap hash join gap hash")], DOC_SCHEMA
            ),
            3,
        )
        hits2 = {
            r.doc_id
            for r in phrase_query_index(spark, idx, phrase_q).collect()
        }
        assert victim not in hits2 and hits2 == hits - {victim}

    def test_compaction_preserves_phrase_answers(self, spark, tmp_path):
        from data_ingestion_experiment_otp_spark.streaming.text_index import (
            compact_text_index,
            phrase_query_index,
        )

        sink = text_index_sink(str(tmp_path / "t"))
        sink(
            spark.createDataFrame(
                [(1, "alpha beta gamma"), (2, "beta alpha beta")], DOC_SCHEMA
            ),
            0,
        )
        sink(spark.createDataFrame([(3, "alpha beta alpha beta")], DOC_SCHEMA), 1)
        q = [(0, "alpha", 0), (0, "beta", 1)]
        before = sorted(
            map(tuple, phrase_query_index(spark, str(tmp_path / "t"), q).collect())
        )
        assert dict((d, n) for _, d, n in before) == {1: 1, 2: 1, 3: 2}
        compact_text_index(spark, str(tmp_path / "t"), str(tmp_path / "t2"))
        after = sorted(
            map(tuple, phrase_query_index(spark, str(tmp_path / "t2"), q).collect())
        )
        assert after == before
