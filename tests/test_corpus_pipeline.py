"""Corpus-curation pipeline e2e: one-scan score stage, global dedup,
composed decisions, conservation, resume idempotence, and equivalence with
the standalone operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from log_analysis_system_spark.corpus_pipeline import run_corpus_pipeline
from log_analysis_system_spark.operators import datapipe as dp
from log_analysis_system_spark.operators import textstats as ts
from log_analysis_system_spark.sources import catalog

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    df.persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def run(spark, docs, tmp_path_factory):
    out = tmp_path_factory.mktemp("corpus_run")
    res = run_corpus_pipeline(spark, docs, str(out), "crun", n_buckets=4)
    return str(out), res


def _read(spark, out, name):
    return catalog.read_table(spark, out, name)


def test_conservation_and_stages(spark, docs, run):
    out, res = run
    n = docs.count()
    assert res.stages_ran == ["score", "dedup", "finalize"]
    assert res.sink_counts["doc_scores"] == n
    assert res.sink_counts["corpus_decisions"] == n
    dec = _read(spark, out, "corpus_decisions")
    assert dec.select("doc_id").distinct().count() == n
    kept = dec.where(F.col("kept")).count()
    rejected = dec.where(~F.col("kept")).count()
    assert kept + rejected == n and kept > 0


def test_decisions_match_standalone_corpus_filter(spark, docs, run):
    out, _ = run
    dec = {
        (r["doc_id"], r["kept"], r["reason"])
        for r in _read(spark, out, "corpus_decisions")
        .select("doc_id", "kept", "reason")
        .collect()
    }
    want = {
        (r["doc_id"], r["kept"], r["reason"])
        for r in dp.corpus_filter(docs).collect()
    }
    assert dec == want


def test_score_stage_matches_standalone_operators(spark, docs, run):
    out, _ = run
    scores = _read(spark, out, "doc_scores")
    got_q = {
        (r["doc_id"], r["n_tokens"], r["stopword_ratio"], r["quality_keep"])
        for r in scores.select(
            "doc_id", "n_tokens", "stopword_ratio", "quality_keep"
        ).collect()
    }
    want_q = {
        (r["doc_id"], r["n_tokens"], r["stopword_ratio"], r["keep"])
        for r in ts.quality_scores(docs).collect()
    }
    assert got_q == want_q
    got_l = {
        (r["doc_id"], r["pred_lang"]) for r in scores.select("doc_id", "pred_lang").collect()
    }
    want_l = {
        (r["doc_id"], r["pred_lang"])
        for r in ts.language_id(docs).collect()
    }
    assert got_l == want_l
    got_s = {
        (r["doc_id"], r["split"]) for r in scores.select("doc_id", "split").collect()
    }
    want_s = {
        (r["doc_id"], r["split"]) for r in ts.dataset_split(docs).collect()
    }
    assert got_s == want_s


def test_resume_skips_completed_buckets(spark, docs, tmp_path_factory):
    out = tmp_path_factory.mktemp("corpus_resume")
    first = run_corpus_pipeline(
        spark, docs, str(out), "crun2", n_buckets=4, fail_after_score=True
    )
    assert first.stages_ran == ["score"]
    second = run_corpus_pipeline(spark, docs, str(out), "crun2", n_buckets=4)
    # score buckets all done in run 1 -> skipped; dedup+finalize run now
    assert second.buckets_processed == []
    assert sorted(second.buckets_skipped) == [0, 1, 2, 3]
    assert second.stages_ran == ["dedup", "finalize"]
    n = docs.count()
    dec = catalog.read_table(spark, str(out), "corpus_decisions")
    assert dec.count() == n
    # full rerun of the SAME run id is a no-op for score and dedup
    third = run_corpus_pipeline(spark, docs, str(out), "crun2", n_buckets=4)
    assert third.stages_ran == ["finalize"]
    assert catalog.read_table(spark, str(out), "corpus_decisions").count() == n


def test_resume_reads_state_once(spark, docs, tmp_path_factory, monkeypatch):
    from log_analysis_system_spark import state as st

    out = str(tmp_path_factory.mktemp("corpus_state_reads"))
    run_corpus_pipeline(spark, docs, out, "crun3", n_buckets=4,
                        fail_after_score=True)
    calls = []
    real = st.completed_buckets

    def counted(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(st, "completed_buckets", counted)
    res = run_corpus_pipeline(spark, docs, out, "crun3", n_buckets=4)
    assert res.stages_ran == ["dedup", "finalize"]
    assert len(calls) == 1


def test_score_stage_reads_no_sink_back(spark, docs, tmp_path, monkeypatch):
    """doc_scores is counted by its own write, not read back: the score
    stage reads no table, and writes one part file per bucket dir."""
    reads = []
    real = catalog.read_table

    def recorded(spark_, base_dir, name, *a, **kw):
        reads.append(name)
        return real(spark_, base_dir, name, *a, **kw)

    monkeypatch.setattr(catalog, "read_table", recorded)
    res = run_corpus_pipeline(spark, docs, str(tmp_path), "c-reads", n_buckets=4,
                              fail_after_score=True)
    assert not set(reads) - {"state_metrics"}, reads
    assert res.sink_counts["doc_scores"] == docs.count()
    bucket_dirs = sorted((tmp_path / "doc_scores").glob("bucket=*"))
    assert len(bucket_dirs) == 4
    for d in bucket_dirs:
        assert len(list(d.glob("part-*.parquet"))) == 1, d


def test_corpus_rejects_buckets_below_one(spark, docs, tmp_path):
    with pytest.raises(ValueError, match="n_buckets"):
        run_corpus_pipeline(spark, docs, str(tmp_path), "c0", n_buckets=0)


def test_mixture_covers_only_kept(spark, docs, run):
    out, _ = run
    dec = _read(spark, out, "corpus_decisions")
    mix = _read(spark, out, "corpus_mixture")
    kept_tokens = dec.where(F.col("kept")).agg(F.sum("n_tokens")).collect()[0][0]
    assert mix.agg(F.sum("n_tokens")).collect()[0][0] == kept_tokens
    assert mix.agg(F.sum("n_docs")).collect()[0][0] == dec.where(F.col("kept")).count()


def test_corpus_cli(spark, tmp_path, capsys):
    import json

    from log_analysis_system_spark.__main__ import main

    rc = main([
        "--corpus", "--input", SF, "--output", str(tmp_path / "out"),
        "--buckets", "4", "--run-id", "cli-corpus",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["run_id"] == "cli-corpus"
    assert summary["stages_ran"] == ["score", "dedup", "finalize"]
    assert summary["sink_counts"]["corpus_decisions"] > 0


def test_score_stage_gopher_matches_standalone(spark, docs, run):
    out, _ = run
    scores = _read(spark, out, "doc_scores")
    got = {
        (
            r["doc_id"],
            r["symbol_word_ratio"],
            r["alpha_word_frac"],
            r["gopher_keep"],
        )
        for r in scores.select(
            "doc_id", "symbol_word_ratio", "alpha_word_frac", "gopher_keep"
        ).collect()
    }
    want = {
        (
            r["doc_id"],
            r["symbol_word_ratio"],
            r["alpha_word_frac"],
            r["gopher_keep"],
        )
        for r in ts.gopher_rules(docs).collect()
    }
    assert got == want


def test_keep_policy_longest_matches_canonical_selection(
    spark, tmp_path_factory
):
    """keep_policy='longest' marks the canonical_selection winner (longest
    member, ties -> min id) as the surviving copy, not the min-id label."""
    from log_analysis_system_spark.operators import dedup as dd

    short = " ".join(f"t{i}" for i in range(1, 11))        # 10 tokens
    longer = " ".join(f"t{i}" for i in range(1, 13))       # 12; jac 8/10
    pad = "filler words so the quality gate passes " * 3
    rows = [
        (0, short + " " + pad + "the and of", "en", "src"),
        (1, longer + " " + pad + "the and of", "en", "src"),
        (2, "totally unrelated content that is its own cluster "
            + pad + "the and of", "en", "src"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    out = tmp_path_factory.mktemp("corpus_longest")
    run_corpus_pipeline(
        spark, docs, str(out), "clong", n_buckets=2, keep_policy="longest"
    )
    dec = {
        r["doc_id"]: r
        for r in _read(spark, str(out), "corpus_decisions").collect()
    }
    sel = {
        r.doc_id: r for r in dd.canonical_selection(docs).collect()
    }
    # the pipeline's survivor flag agrees with the standalone operator
    # wherever quality passes (all three docs pass here)
    for i in rows:
        doc_id = i[0]
        assert dec[doc_id]["kept"] == sel[doc_id].is_canonical, doc_id
    # and the cluster's keeper is the LONGER doc, not min-id
    if sel[0].cluster_id == sel[1].cluster_id:
        assert dec[1]["kept"] and not dec[0]["kept"]


def test_keep_policy_unknown_raises(spark, docs, tmp_path_factory):
    out = tmp_path_factory.mktemp("corpus_badpolicy")
    with pytest.raises(ValueError, match="keep_policy"):
        run_corpus_pipeline(
            spark, docs, str(out), "cbad", keep_policy="newest"
        )
