"""Console report over a completed run's sinks — the reference's
``dashboard.py:98-222`` presentation layer (sample parsed data, performance
analysis, security analysis, anomaly detection) re-expressed over the
pipeline's sink tables.

Everything here is presentation: each section reads a sink (or derives a
small aggregate from ``parsed_turns`` with the existing operators) and
renders the LIMITED head of it. All limits are applied in Spark before any
``collect()`` — the report never materializes a corpus-sized frame on the
driver, so ``--report`` is safe against a 100 TB run's output directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import STATUS_DESCRIPTIONS
from .operators import performance as perf
from .sources import catalog

SAMPLE_ROWS = 5
TABLE_ROWS = 10

# the severity sinks the pipeline writes (no detector emits low severity)
SECURITY_SINKS = (
    "security_events_high", "security_events_agg_high",
    "security_events_medium", "security_events_agg_medium",
)


def _section(title: str) -> str:
    bar = "=" * 60
    return f"\n{bar}\n{title}\n{bar}"


def _fmt_table(rows: list[dict]) -> str:
    """Minimal fixed-width table (the reference uses tabulate; stdlib only
    here)."""
    if not rows:
        return "None detected"
    cols = list(rows[0].keys())
    widths = {
        c: max(len(str(c)), *(len(str(r.get(c, ""))) for r in rows))
        for c in cols
    }
    head = " | ".join(str(c).ljust(widths[c]) for c in cols)
    sep = "-+-".join("-" * widths[c] for c in cols)
    body = "\n".join(
        " | ".join(str(r.get(c, "")).ljust(widths[c]) for c in cols)
        for r in rows
    )
    return f"{head}\n{sep}\n{body}"


def _rows(df: DataFrame, n: int) -> list[dict]:
    return [r.asDict() for r in df.limit(n).collect()]


def _num(v, nd: int = 4):
    return "N/A" if v is None else f"{v:.{nd}f}"


def render_report(spark: SparkSession, output_dir: str) -> str:
    """Render the full console report from the sinks under ``output_dir``.
    Returns the report text (the CLI prints it)."""
    out: list[str] = []

    def read(name: str) -> DataFrame | None:
        if catalog.table_exists(spark, output_dir, name):
            return catalog.read_table(spark, output_dir, name)
        return None

    parsed = read("parsed_turns")

    out.append(_section("SAMPLE OF PARSED LOG DATA"))
    if parsed is None:
        out.append("No parsed_turns sink found.")
    else:
        sample = parsed.select(
            F.col("ts_parsed").alias("timestamp"), "ip_address", "method",
            "endpoint", "status", "response_time",
        ).orderBy("conv_id", "turn_idx")
        out.append(_fmt_table(_rows(sample, SAMPLE_ROWS)))

    out.append(_section("PERFORMANCE ANALYSIS"))
    if parsed is not None:
        stats = perf.overall_response_stats(parsed).collect()
        out.append("\nOverall Stats:")
        out.append(_fmt_table(
            [{k: _num(v) for k, v in r.asDict().items()} for r in stats]
        ))

        out.append("\nSlow Endpoints:")
        slow = perf.slow_endpoints(parsed).orderBy(F.desc("mean_time"))
        out.append(_fmt_table([
            {
                "Endpoint": r["endpoint"],
                "Avg Time (s)": _num(r["mean_time"]),
                "Max Time (s)": _num(r["max_time"]),
                "Count": r["n_requests"],
            }
            for r in slow.limit(TABLE_ROWS).collect()
        ]))

        out.append("\nStatus Code Distribution:")
        sc = perf.status_counts(parsed).orderBy(F.desc("n"))
        out.append(_fmt_table([
            {
                "Status Code": r["status"],
                "Count": r["n"],
                "Description": STATUS_DESCRIPTIONS.get(r["status"], "Unknown"),
            }
            for r in sc.limit(TABLE_ROWS).collect()
        ]))

        err = perf.overall_error_rate(parsed).collect()
        # avg() over zero access rows is NULL — skip the line, don't crash
        if err and err[0]["error_rate"] is not None:
            out.append(f"\nOverall Error Rate: {err[0]['error_rate']:.2%}")

    out.append(_section("SECURITY ANALYSIS"))
    sev_frames = [df for df in map(read, SECURITY_SINKS) if df is not None]
    if sev_frames:
        events = sev_frames[0]
        for df in sev_frames[1:]:
            events = events.unionByName(df, allowMissingColumns=True)
        n_threats = events.count()
        out.append(f"Potential Threats Detected: {n_threats}")
        out.append("\nSecurity Events:")
        ev = events.select(
            F.col("severity").alias("Severity"),
            F.col("event_type").alias("Type"),
            F.col("description").alias("Description"),
            F.coalesce("ip_address", F.lit("N/A")).alias("IP"),
        ).orderBy("Severity", "Type", "IP")
        out.append(_fmt_table(_rows(ev, TABLE_ROWS)))
    else:
        out.append("\nNo security events detected")

    scores = read("ip_threat_scores")
    if scores is not None:
        out.append("\nIP Threat Scores:")
        n_events = sum(
            (F.col(c) for c in (
                "n_attack", "n_scan", "n_suspicious",
                "n_brute_force", "n_unusual_method",
            )),
            F.lit(0),
        )
        sc = scores.select(
            F.col("ip_address").alias("IP Address"),
            F.col("score").alias("Score"),
            F.col("threat_level").alias("Threat Level"),
            n_events.alias("Event Count"),
        ).orderBy(F.desc("Score"), "IP Address")
        out.append(_fmt_table(_rows(sc, TABLE_ROWS)))
    else:
        out.append("\nNo IP threat scores calculated")

    out.append(_section("ANOMALY DETECTION"))
    anomalies = read("anomalies")
    if anomalies is None:
        out.append("No anomalies sink found.")
    else:
        out.append(f"Anomalies Detected: {anomalies.count()}")
        an = anomalies.select(
            F.col("metric_name").alias("Metric"),
            F.round("expected_value", 4).alias("Expected"),
            F.round("actual_value", 4).alias("Actual"),
            F.round("z_score", 2).alias("Z-Score"),
            F.col("event_ts").alias("Timestamp"),
        ).orderBy(F.desc(F.abs(F.col("Z-Score"))), "Timestamp")
        out.append("\nAnomaly Records:")
        out.append(_fmt_table(_rows(an, TABLE_ROWS)))

    return "\n".join(out)
