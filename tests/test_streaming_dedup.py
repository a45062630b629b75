"""Streaming incremental near-dup screening: batch-vs-stream equivalence
and resume semantics of the foreachBatch LSH probe."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from log_analysis_system_spark.operators import dedup as dd
from log_analysis_system_spark.sources import catalog
from log_analysis_system_spark.streaming import stream_pipeline as sp

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def split_docs(spark, tmp_path_factory):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    corpus.persist(); corpus.count()
    feed = tmp_path_factory.mktemp("doc_feed")
    # several files -> several micro-batches under maxFilesPerTrigger
    new.repartition(4).write.mode("overwrite").parquet(str(feed))
    yield str(feed), corpus, new
    corpus.unpersist()


def test_stream_matches_equal_batch_operator(spark, split_docs, tmp_path):
    feed, corpus, new = split_docs
    out = str(tmp_path / "out")
    q = sp.streaming_incremental_dedup(
        sp.read_document_stream(spark, feed, max_files_per_trigger=2),
        corpus,
        out,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in catalog.read_table(spark, out, "near_dup_matches").collect()
    }
    want = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in dd.minhash_lsh_incremental(new, corpus).collect()
    }
    assert got == want and want, "stream and batch must emit identical matches"


def test_stream_restart_processes_nothing_new(spark, split_docs, tmp_path):
    feed, corpus, _ = split_docs
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sp.streaming_incremental_dedup(
        sp.read_document_stream(spark, feed), corpus, out, ckpt
    ).awaitTermination()
    n1 = catalog.read_table(spark, out, "near_dup_matches").count()
    # restart on the same checkpoint: the backlog is already consumed
    sp.streaming_incremental_dedup(
        sp.read_document_stream(spark, feed), corpus, out, ckpt
    ).awaitTermination()
    n2 = catalog.read_table(spark, out, "near_dup_matches").count()
    assert n1 == n2 > 0


def test_stream_matches_batch_at_sf01(spark, tmp_path):
    """Round-4 scale-up of the batch-equivalence check: drain the sf0.1
    document corpus (10x the fixture — 2500 new docs vs 2500 corpus docs)
    through the streaming LSH probe and assert match-SET equality with the
    one-shot batch operator. Catches anything micro-batch partitioning
    would change at a size where planted near-dups number in the hundreds."""
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    corpus.persist()
    corpus.count()
    try:
        feed = str(tmp_path / "feed")
        new.repartition(8).write.parquet(feed)
        out = str(tmp_path / "out")
        q = sp.streaming_incremental_dedup(
            sp.read_document_stream(spark, feed, max_files_per_trigger=4),
            corpus,
            out,
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination()
        got = {
            (r["new_id"], r["corpus_id"], r["jaccard"])
            for r in catalog.read_table(
                spark, out, "near_dup_matches"
            ).collect()
        }
        want = {
            (r["new_id"], r["corpus_id"], r["jaccard"])
            for r in dd.minhash_lsh_incremental(new, corpus).collect()
        }
        assert got == want and len(want) > 0
    finally:
        corpus.unpersist()


def test_replayed_batch_is_idempotent(spark, split_docs, tmp_path):
    """foreachBatch delivers at-least-once: re-running the SAME
    (batch_df, batch_id) — the crash-between-sink-write-and-offset-commit
    case — must not duplicate matches (batch_id partition is overwritten)."""
    _, corpus, new = split_docs
    out = str(tmp_path / "out")
    handle = sp.dedup_batch_handler(corpus, out)
    handle(new, 0)
    n_once = catalog.read_table(spark, out, "near_dup_matches").count()
    assert n_once > 0
    handle(new, 0)  # replay
    assert catalog.read_table(spark, out, "near_dup_matches").count() == n_once
    handle(new, 1)  # a genuinely new batch still appends
    assert (
        catalog.read_table(spark, out, "near_dup_matches").count() == 2 * n_once
    )


def test_streaming_corpus_score_matches_batch(spark, split_docs, tmp_path):
    """Draining the score stream over a corpus feed yields row-for-row the
    batch score_projection of the same corpus — the shared-projection
    guarantee that makes 'curate at ingestion' safe."""
    from log_analysis_system_spark.corpus_pipeline import score_projection

    feed, _, new = split_docs
    out = tmp_path / "score_out"
    ckpt = tmp_path / "score_ckpt"
    stream = sp.read_document_stream(spark, feed, max_files_per_trigger=2)
    q = sp.streaming_corpus_score(stream, str(out), str(ckpt))
    q.awaitTermination(120)
    got = {
        tuple(r)
        for r in spark.read.parquet(str(out / "doc_scores_stream")).collect()
    }
    want = {tuple(r) for r in score_projection(new, 16).collect()}
    assert got == want and got
    # restart over the same feed: availableNow + checkpoint -> no new rows
    stream2 = sp.read_document_stream(spark, feed, max_files_per_trigger=2)
    q2 = sp.streaming_corpus_score(stream2, str(out), str(ckpt))
    q2.awaitTermination(120)
    again = spark.read.parquet(str(out / "doc_scores_stream")).count()
    assert again == len(got)


def test_stream_probed_matches_batch_and_scans_band_tables(
    spark, split_docs, tmp_path
):
    """The 100 TB streaming mode: materialize the corpus's bucketed
    shingle/band tables ONCE, drain the stream probing them, and assert
    (a) match-set equality with the one-shot batch operator and (b) the
    probed per-batch plan scans the materialized tables and never the
    corpus source — no re-shingling per micro-batch."""
    feed, corpus, new = split_docs
    # per-run suffix: concurrent runs share the metastore's default database
    prefix = f"stream_probe_corpus_{os.getpid()}"
    sh_name, band_name = dd.materialize_corpus_lsh(
        corpus, prefix, path=str(tmp_path / "corpus_lsh")
    )
    try:
        out = str(tmp_path / "out")
        q = sp.streaming_incremental_dedup(
            sp.read_document_stream(spark, feed, max_files_per_trigger=2),
            None,
            out,
            str(tmp_path / "ckpt"),
            corpus_prefix=prefix,
        )
        q.awaitTermination()
        got = {
            (r["new_id"], r["corpus_id"], r["jaccard"])
            for r in catalog.read_table(
                spark, out, "near_dup_matches"
            ).collect()
        }
        want = {
            (r["new_id"], r["corpus_id"], r["jaccard"])
            for r in dd.minhash_lsh_incremental(new, corpus).collect()
        }
        assert got == want and want

        # no-recompute evidence on the exact frame the handler builds
        probed = dd.minhash_lsh_incremental_probed(new, spark, prefix)
        plan = probed._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert sh_name in plan and band_name in plan, plan
        assert "documents.parquet" not in plan, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {sh_name}")
        spark.sql(f"DROP TABLE IF EXISTS {band_name}")


def test_dedup_batch_handler_rejects_ambiguous_corpus_args(spark, split_docs):
    _, corpus, _ = split_docs
    with pytest.raises(ValueError):
        sp.dedup_batch_handler(corpus, "/tmp/x", corpus_prefix="p")
    with pytest.raises(ValueError):
        sp.dedup_batch_handler(None, "/tmp/x")
