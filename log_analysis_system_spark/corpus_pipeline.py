"""End-to-end corpus-curation pipeline: score -> dedup -> finalize.

The training-data counterpart of ``pipeline.py``'s log pipeline, built on
the SAME bucket / lineage / resume machinery (``state.py``, hash buckets,
dynamic-partition-overwrite sinks) so one architecture serves both
workloads. Three stages with log-pipeline-matching recovery granularity:

- **score** (per-bucket, resumable bucket-by-bucket): every ROW-LOCAL
  signal in ONE scan — token stats, quality rules + keep flag, the
  Gopher rule battery + ``gopher_keep`` verdict, language ID,
  deterministic train/val/test split (the shared expression families
  from ``operators/textstats.py``, so formulas exist once). Sink:
  ``doc_scores``, written by the route's ``pipeline.write_bucketed`` body
  (one file per bucket, per-bucket overwrite, counted from the persisted
  frame: the sink is read only by finalize).
- **dedup** (global, all-or-nothing — near-dup discovery is global by
  definition: per-bucket components would miss cross-bucket duplicates):
  MinHash/LSH + verify + label-propagation components. Sink:
  ``doc_components``.
- **finalize** (global): join scores x components into the composed
  keep/drop decision (quality AND canonical — ``operators/datapipe.
  corpus_filter`` semantics) + per (source, lang, split) mixture stats of
  the kept corpus. Sinks: ``corpus_decisions`` (every doc, with
  kept/reason), ``corpus_mixture``.

Conservation invariant (tested): every input doc appears in
``corpus_decisions`` exactly once; kept + rejected == n_docs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import state as st
from .functions.texthash import tokens
from .operators import dedup as dd
from .operators.textstats import (
    gopher_exprs,
    gopher_keep_expr,
    language_exprs,
    language_pred_expr,
    quality_exprs,
    quality_keep_expr,
    split_exprs,
)
from .pipeline import bucket_of, bucket_tasks, write_bucketed, write_observed
from .sources import catalog

# the Gopher signals that aren't already carried by the quality family
# (n_words == n_tokens and mean_word_len == mean_token_len by shared
# formula, so the verdict reads those columns instead of duplicating them)
_GOPHER_REMAP = {"n_words": "n_tokens", "mean_word_len": "mean_token_len"}
_GOPHER_EXTRA = ("symbol_word_ratio", "alpha_word_frac")


@dataclass
class CorpusResult:
    run_id: str
    buckets_processed: list[int]
    buckets_skipped: list[int]
    stages_ran: list[str] = field(default_factory=list)
    sink_counts: dict[str, int] = field(default_factory=dict)


def score_projection(docs: DataFrame, n_buckets: int) -> DataFrame:
    """All row-local curation signals in ONE scan: the token array is
    materialized once per row and every signal family reads it (quality,
    language, split). No shuffle at all — the bucket column is a pure
    projection; the sink write repartitions by it."""
    base = docs.select(
        "doc_id", "lang", "source", "text", tokens(F.col("text")).alias("t")
    )
    q = quality_exprs(F.col("t"))
    g = gopher_exprs(F.col("t"))
    l_ = language_exprs(F.col("t"))
    langs = list(l_)
    _, split = split_exprs()
    scored = base.select(
        "doc_id",
        "lang",
        "source",
        bucket_of(F.col("doc_id").cast("string"), n_buckets).alias("bucket"),
        *(expr.alias(name) for name, expr in q.items()),
        *(g[name].alias(name) for name in _GOPHER_EXTRA),
        F.length("text").alias("n_chars"),
        *(expr.alias(name) for name, expr in l_.items()),
        split.alias("split"),
    )
    return scored.select(
        "doc_id",
        "lang",
        "source",
        "bucket",
        "n_tokens",
        "stopword_ratio",
        "mean_token_len",
        "alpha_ratio",
        "n_distinct_stopwords",
        *_GOPHER_EXTRA,
        "n_chars",
        quality_keep_expr().alias("quality_keep"),
        gopher_keep_expr(_GOPHER_REMAP).alias("gopher_keep"),
        language_pred_expr().alias("pred_lang"),
        "split",
        *(F.round(F.col(c), 6).alias(c) for c in langs),
    )


def run_corpus_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    run_id: str,
    n_buckets: int = 16,
    resume: bool = True,
    fail_after_score: bool = False,
    keep_policy: str = "min_id",
) -> CorpusResult:
    """``fail_after_score`` simulates a mid-run crash for resume tests.

    ``keep_policy`` chooses the per-cluster canonical document:
    ``"min_id"`` (default; the component label itself) or ``"longest"``
    (the ``dedup.canonical_selection`` rule — longest member wins, ties
    to smallest doc_id; n_tokens comes from the already-written score
    sink, so the policy costs one extra cluster-keyed partial agg and no
    corpus scan).
    """
    if keep_policy not in ("min_id", "longest"):
        raise ValueError(f"unknown keep_policy {keep_policy!r}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be at least 1, got {n_buckets}")
    done = st.completed_buckets(spark, output_dir, run_id) if resume else {}
    scored_buckets = done.get("corpus_score", {})
    pending = sorted(set(range(n_buckets)) - set(scored_buckets))
    result = CorpusResult(run_id, pending, sorted(scored_buckets))

    if pending:
        with st.StageTimer() as t:
            scored = score_projection(docs, n_buckets)
            if scored_buckets:
                scored = scored.where(F.col("bucket").isin(pending))
            # the route's placement and write body: one file per bucket,
            # counted from the persisted frame, with no sink read-back
            scored = bucket_tasks(scored, n_buckets)
            counts, by_bucket = write_bucketed(
                scored, {"doc_scores": scored}, "doc_scores", output_dir,
                ["bucket"],
            )
            result.sink_counts.update(counts)
        st.record_stage(
            spark, output_dir, run_id, "corpus_score", t.wall_ms,
            {b: by_bucket.get(b, 0) for b in pending},
        )
        result.stages_ran.append("score")

    if fail_after_score:
        return result

    if -1 not in done.get("corpus_dedup", {}):
        with st.StageTimer() as t:
            comp = dd.dedup_components(docs)
            comp = comp.withColumn(
                "bucket", bucket_of(F.col("doc_id").cast("string"), n_buckets)
            )
            n_comp = write_observed(
                comp, output_dir, "doc_components",
                partition_cols=["bucket"], mode="overwrite_partitions",
            )
            result.sink_counts["doc_components"] = n_comp
        st.record_stage(
            spark, output_dir, run_id, "corpus_dedup", t.wall_ms, {-1: n_comp}
        )
        result.stages_ran.append("dedup")

    with st.StageTimer() as t:
        scores = catalog.read_table(spark, output_dir, "doc_scores")
        comp = catalog.read_table(spark, output_dir, "doc_components").select(
            "doc_id", "canonical_id"
        )
        labeled = scores.join(comp, "doc_id")
        if keep_policy == "longest":
            best = (
                labeled.groupBy("canonical_id")
                .agg(
                    F.max(
                        F.struct(
                            F.col("n_tokens"),
                            (-F.col("doc_id")).alias("neg_id"),
                        )
                    ).alias("b")
                )
                .select(
                    "canonical_id",
                    (-F.col("b.neg_id")).cast("bigint").alias("keep_id"),
                )
            )
            labeled = labeled.join(best, "canonical_id")
            is_canonical = F.col("doc_id") == F.col("keep_id")
        else:
            is_canonical = F.col("canonical_id") == F.col("doc_id")
        decisions = (
            labeled
            .select(
                "doc_id", "lang", "source", "split", "bucket",
                "n_tokens", "pred_lang", "canonical_id",
                (F.col("quality_keep") & is_canonical).alias("kept"),
                F.when(~F.col("quality_keep"), F.lit("low_quality"))
                .when(~is_canonical, F.lit("duplicate"))
                .alias("reason"),
            )
        )
        result.sink_counts["corpus_decisions"] = write_observed(
            decisions, output_dir, "corpus_decisions",
            partition_cols=["bucket"], mode="overwrite_partitions",
        )
        # mixture aggregates FROM the written sink (text-free, pruned) —
        # cheaper than re-running the scores x components join
        dec = catalog.read_table(spark, output_dir, "corpus_decisions")
        mixture = (
            dec.where(F.col("kept"))
            .groupBy("source", "lang", "split")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
            )
        )
        result.sink_counts["corpus_mixture"] = write_observed(
            mixture, output_dir, "corpus_mixture", mode="overwrite"
        )
    st.record_stage(
        spark, output_dir, run_id, "corpus_finalize", t.wall_ms,
        {-1: result.sink_counts["corpus_decisions"]},
    )
    result.stages_ran.append("finalize")
    return result
