"""Statistical anomaly-detection operators.

Spark-first re-expression of ``/root/reference/src/alerting/detector.py``.

ddof semantics are load-bearing (SURVEY §7.3):
- global z-score uses POPULATION std (scipy.stats.zscore default ddof=0,
  detector.py:54) -> ``F.stddev_pop``;
- rolling bands use SAMPLE std (pandas rolling .std() ddof=1,
  detector.py:83) -> ``F.stddev_samp``, and the NaN fallback mean/std are
  the series' global mean / SAMPLE std (pandas .mean()/.std(),
  detector.py:86-87).

The ``min_data_points`` gate (detector.py:45, config.yaml:44) is applied by
cross-joining the scalar count — one broadcast row, no driver round-trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, RuntimeConfig
from .performance import (
    access_rows,
    det_mean,
    error_rate_by_interval,
    traffic_by_interval,
)


def response_time_zscore_anomalies(
    parsed: DataFrame, cfg: RuntimeConfig = DEFAULT_CONFIG
) -> DataFrame:
    """W1 (detector.py:35-64): |z| > threshold outliers of response_time over
    all access rows, z computed against the GLOBAL population mean/std.
    Emits anomaly records shaped per detector.py:184-191."""
    rows = access_rows(parsed).where(F.col("response_time").isNotNull())
    # mean via exact decimal SUM / count: response_time carries exactly 3
    # decimals, so the sum is exact and the single float division is
    # order-independent — a float-summed avg() lands on 6-dp rounding
    # boundaries nondeterministically (observed: a mean 3e-11 from a
    # boundary flipping with partition order)
    stats = rows.agg(
        det_mean("response_time").alias("mu"),
        F.stddev_pop("response_time").alias("sigma"),
        F.count("*").alias("n"),
    )
    joined = rows.crossJoin(F.broadcast(stats))
    z = F.when(
        F.col("sigma") > 0, (F.col("response_time") - F.col("mu")) / F.col("sigma")
    ).otherwise(F.lit(0.0))
    return (
        joined.where(F.col("n") >= cfg.min_data_points)
        .withColumn("z_score", z)
        .where(F.abs(F.col("z_score")) > cfg.z_score_threshold)
        .select(
            "conv_id",
            "turn_idx",
            F.col("ts_parsed").alias("event_ts"),
            F.lit("response_time").alias("metric_name"),
            F.col("mu").alias("expected_value"),
            F.col("response_time").alias("actual_value"),
            "z_score",
        )
    )


def per_conv_zscore_anomalies(
    parsed: DataFrame, cfg: RuntimeConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Target-payload variant of W1: z-score within each conversation
    (Window.partitionBy(conv_id), unbounded frame). The per-conv gate mirrors
    min_data_points."""
    rows = access_rows(parsed).where(F.col("response_time").isNotNull())
    w = Window.partitionBy("conv_id")
    rows = rows.select(
        "conv_id",
        "turn_idx",
        "response_time",
        (
            F.sum(F.col("response_time").cast("decimal(18,3)")).over(w)
            .cast("double") / F.count("*").over(w)
        ).alias("mu"),  # deterministic mean — see response_time_zscore_anomalies
        F.stddev_pop("response_time").over(w).alias("sigma"),
        F.count("*").over(w).alias("n"),
    )
    z = F.when(
        F.col("sigma") > 0, (F.col("response_time") - F.col("mu")) / F.col("sigma")
    ).otherwise(F.lit(0.0))
    return (
        rows.where(F.col("n") >= cfg.min_data_points)
        .withColumn("z_score", z)
        .where(F.abs(F.col("z_score")) > cfg.z_score_threshold)
        .select(
            "conv_id",
            "turn_idx",
            F.lit("response_time").alias("metric_name"),
            F.col("mu").alias("expected_value"),
            F.col("response_time").alias("actual_value"),
            "z_score",
        )
    )


def traffic_rolling_anomalies(
    parsed: DataFrame,
    interval: str = "1 hour",
    cfg: RuntimeConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """W2 (detector.py:66-101): rolling(5, min_periods=3) mean/std bands over
    the request-count series; NaN positions fall back to the global mean/std;
    anomaly when outside mu +- z*sigma."""
    series = traffic_by_interval(parsed, interval)
    # unpartitioned window = single task, but over the AGGREGATED series:
    # its row count is bounded by time-range/interval (e.g. 10 years of
    # hourly buckets = 87k rows), not by corpus size — safe at any SF
    frame = (
        Window.orderBy("window_start")
        .rowsBetween(-(cfg.rolling_window - 1), Window.currentRow)
    )
    g = series.agg(
        F.avg("n_requests").alias("gmean"),
        F.stddev_samp("n_requests").alias("gstd"),
        F.count("*").alias("n_points"),
    )
    rolled = series.select(
        "window_start",
        "n_requests",
        F.avg("n_requests").over(frame).alias("rmean_raw"),
        F.stddev_samp("n_requests").over(frame).alias("rstd_raw"),
        F.count("n_requests").over(frame).alias("rcount"),
    )
    rolled = rolled.crossJoin(F.broadcast(g))
    # pandas rolling yields NaN below min_periods; fillna(global)
    rmean = F.when(
        F.col("rcount") >= cfg.rolling_min_periods, F.col("rmean_raw")
    ).otherwise(F.col("gmean"))
    rstd = F.coalesce(
        F.when(F.col("rcount") >= cfg.rolling_min_periods, F.col("rstd_raw")),
        F.col("gstd"),
    )
    upper = rmean + F.lit(cfg.z_score_threshold) * rstd
    lower = rmean - F.lit(cfg.z_score_threshold) * rstd
    return (
        rolled.where(F.col("n_points") >= cfg.min_data_points)
        .withColumn("upper_bound", upper)
        .withColumn("lower_bound", lower)
        .where(
            (F.col("n_requests") > F.col("upper_bound"))
            | (F.col("n_requests") < F.col("lower_bound"))
        )
        .select("window_start", "n_requests", "upper_bound", "lower_bound")
    )


def error_rate_iqr_anomalies(
    parsed: DataFrame,
    interval: str = "5 minutes",
    cfg: RuntimeConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """W3 (detector.py:103-134): IQR upper-fence outliers (high side only)
    of the per-interval error-rate series. Emits records with
    expected=series mean, z vs POPULATION std (detector.py:155-156 np.mean/
    np.std over the series)."""
    series = error_rate_by_interval(parsed, interval)
    stats = series.agg(
        F.percentile("error_rate", 0.75).alias("q75"),
        F.percentile("error_rate", 0.25).alias("q25"),
        F.avg("error_rate").alias("mu"),
        F.stddev_pop("error_rate").alias("sigma"),
        F.count("*").alias("n_points"),
    )
    joined = series.crossJoin(F.broadcast(stats))
    fence = F.col("q75") + F.lit(cfg.iqr_multiplier) * (F.col("q75") - F.col("q25"))
    z = F.when(
        F.col("sigma") > 0, (F.col("error_rate") - F.col("mu")) / F.col("sigma")
    ).otherwise(F.lit(0.0))
    return (
        joined.where(F.col("n_points") >= cfg.min_data_points)
        .where(F.col("error_rate") > fence)
        .select(
            F.col("window_start").alias("event_ts"),
            F.lit("error_rate").alias("metric_name"),
            F.col("mu").alias("expected_value"),
            F.col("error_rate").alias("actual_value"),
            z.alias("z_score"),
        )
    )
