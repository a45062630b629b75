"""End-to-end pipeline tests: fan-out sinks, lineage/state, resume
idempotence (SURVEY §5 rebuild test plan layer 3)."""

from __future__ import annotations

import dataclasses
import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from log_analysis_system_spark import state as st
from log_analysis_system_spark.config import DEFAULT_CONFIG
from log_analysis_system_spark.datagen.transcripts import synth_transcripts
from log_analysis_system_spark.functions.parse import parse_transcripts
from log_analysis_system_spark.operators import security as sec
from log_analysis_system_spark.pipeline import run_pipeline
from log_analysis_system_spark.sources import catalog


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synth_transcripts(spark, n_turns=4000, n_convs=40)
    df.persist()
    df.count()
    yield df
    df.unpersist()


def _read(spark, out, name):
    return catalog.read_table(spark, str(out), name)


def test_pipeline_fanout_counts(spark, transcripts, tmp_path_factory):
    out = tmp_path_factory.mktemp("pipe")
    res = run_pipeline(spark, transcripts, str(out), "run1", n_buckets=8)
    assert res.aggregate_ran
    assert sorted(res.buckets_processed) == list(range(8))

    parsed = parse_transcripts(transcripts)
    n_access = parsed.where(F.col("log_type") == "access").count()
    n_error = parsed.where(F.col("log_type") == "error").count()
    n_reject = parsed.where(F.col("log_format").isNull()).count()
    assert n_access + n_error + n_reject == 4000

    assert _read(spark, out, "parsed_turns").count() == n_access
    assert _read(spark, out, "error_turns").count() == n_error
    assert _read(spark, out, "rejects").count() == n_reject
    # every route sink is counted inside its own write
    for name in ("parsed_turns", "error_turns", "rejects",
                 "security_events_high", "security_events_medium"):
        assert res.sink_counts[name] == _read(spark, out, name).count(), name

    # per-severity fan-out equals the detectors run directly
    events = sec.all_security_events(parsed)
    by_sev = {
        r.severity: r.n
        for r in events.groupBy("severity").agg(F.count("*").alias("n")).collect()
    }
    got_high = (
        _read(spark, out, "security_events_high").count()
        + _read(spark, out, "security_events_agg_high").count()
    )
    got_med = (
        _read(spark, out, "security_events_medium").count()
        + _read(spark, out, "security_events_agg_medium").count()
    )
    assert got_high == by_sev.get("high", 0)
    assert got_med == by_sev.get("medium", 0)

    # state table has one 'done' row per bucket plus the aggregate stage
    state = _read(spark, out, "state_metrics")
    route_rows = state.where(F.col("stage") == "route").collect()
    assert {r.bucket for r in route_rows} == set(range(8))
    assert all(r.status == "done" for r in route_rows)
    # lineage row counts match the parsed sink per bucket
    sink_by_bucket = {
        r.bucket: r.n
        for r in _read(spark, out, "parsed_turns")
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    state_by_bucket = {r.bucket: r.row_count for r in route_rows}
    assert state_by_bucket == {
        b: sink_by_bucket.get(b, 0) for b in range(8)
    }

    # 8 buckets on local[4]: each route task holds two whole buckets, so
    # every bucket dir of every route sink still gets exactly one file
    for sink in ("parsed_turns", "error_turns", "rejects",
                 "security_events_high", "security_events_medium"):
        files = {
            d: [f for f in os.listdir(out / sink / d)
                if not f.startswith(("_", "."))]
            for d in os.listdir(out / sink) if d.startswith("bucket=")
        }
        assert files, sink
        assert all(len(fs) == 1 for fs in files.values()), (sink, files)
    assert not (out / "security_events_low").exists()
    assert "security_events_low" not in res.sink_counts
    # no aggregate detector emits low severity either
    assert not (out / "security_events_agg_low").exists()


def test_aggregate_skip_ignores_failed_sink_probe(
    spark, transcripts, tmp_path_factory, monkeypatch
):
    """``table_exists`` answers False on any filesystem or parquet error. A
    probe of parsed_turns that fails on a run with data must not record a
    done aggregate with zero counts — neither when the route ran in the
    same call nor when resume skipped it."""
    real = catalog.table_exists
    monkeypatch.setattr(
        catalog, "table_exists",
        lambda spark, base, name: name != "parsed_turns" and real(spark, base, name),
    )
    fresh = str(tmp_path_factory.mktemp("probe_fresh"))
    run_pipeline(spark, transcripts, fresh, "probe-1", n_buckets=8, resume=False)
    resumed = str(tmp_path_factory.mktemp("probe_resume"))
    run_pipeline(spark, transcripts, resumed, "probe-2", n_buckets=8,
                 fail_after_route=True)
    res = run_pipeline(spark, transcripts, resumed, "probe-2", n_buckets=8)
    assert res.buckets_processed == [] and res.aggregate_ran
    assert res.sink_counts["performance_metrics"] > 0
    for out in (fresh, resumed):
        agg = (
            _read(spark, out, "state_metrics")
            .where(F.col("stage") == "aggregate")
            .collect()
        )
        assert len(agg) == 1 and agg[0].status == "done"
        assert agg[0].row_count > 0


def test_threat_scores_ignore_failed_row_sink_probe(
    spark, transcripts, tmp_path_factory, monkeypatch
):
    """A failed ``table_exists`` probe of the routed row-event sinks must
    not drop their attack/scan events from ``ip_threat_scores``: the
    aggregate reruns the row detectors over parsed_turns and never reads
    those sinks back."""
    row_sinks = ("security_events_high", "security_events_medium")
    plain = str(tmp_path_factory.mktemp("threat_plain"))
    res = run_pipeline(spark, transcripts, plain, "threat-1", n_buckets=8,
                       resume=False)
    assert all(res.sink_counts[s] > 0 for s in row_sinks)

    real = catalog.table_exists
    monkeypatch.setattr(
        catalog, "table_exists",
        lambda spark, base, name: name not in row_sinks and real(spark, base, name),
    )
    probed = str(tmp_path_factory.mktemp("threat_probe"))
    run_pipeline(spark, transcripts, probed, "threat-2", n_buckets=8,
                 resume=False)

    def scores(out):
        return sorted(_read(spark, out, "ip_threat_scores").collect())

    want = scores(plain)
    assert sum(r.n_attack + r.n_scan for r in want) > 0
    assert scores(probed) == want


def _sorted_rows(got, want):
    return sorted(got.select(want.columns).collect()), sorted(want.collect())


def test_resumed_aggregate_reads_only_parsed_turns(
    spark, transcripts, tmp_path_factory, monkeypatch
):
    """A resumed run reads back parsed_turns and none of the route's other
    sinks: threat scores come from all five detectors run over the parsed
    rows, as the reference scores them."""
    out = str(tmp_path_factory.mktemp("agg_reads"))
    run_pipeline(spark, transcripts, out, "reads-1", n_buckets=8,
                 fail_after_route=True)
    names = []
    for fn in ("read_table", "table_exists"):
        def recorded(spark, base, name, *a, _real=getattr(catalog, fn), **kw):
            names.append(name)
            return _real(spark, base, name, *a, **kw)

        monkeypatch.setattr(catalog, fn, recorded)
    res = run_pipeline(spark, transcripts, out, "reads-1", n_buckets=8)
    monkeypatch.undo()
    assert res.buckets_processed == [] and res.aggregate_ran
    assert "parsed_turns" in names
    assert set(names) <= {"parsed_turns", "state_metrics", "alert_state"}

    want = sec.ip_threat_scores(
        sec.all_security_events(parse_transcripts(transcripts))
    )
    got = _read(spark, out, "ip_threat_scores")
    assert want.agg(F.sum(F.col("n_attack") + F.col("n_scan"))).first()[0] > 0
    got_rows, want_rows = _sorted_rows(got, want)
    assert got_rows == want_rows


def test_analyze_only_scores_row_detectors_under_its_cfg(
    spark, transcripts, tmp_path_factory
):
    """``analyze_only`` reruns every detector over parsed_turns under its
    own cfg (the reference's ``--analyze-only``): an attack pattern added
    after the route shows up in ``n_attack``."""
    out = str(tmp_path_factory.mktemp("analyze_cfg"))
    run_pipeline(spark, transcripts, out, "cfg-1", n_buckets=8, resume=False)

    def n_attack():
        return _read(spark, out, "ip_threat_scores").agg(
            F.sum("n_attack")
        ).first()[0]

    before = n_attack()
    cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        attack_patterns=DEFAULT_CONFIG.attack_patterns + ("/checkout",),
    )
    run_pipeline(spark, transcripts, out, "cfg-2", n_buckets=8,
                 analyze_only=True, cfg=cfg)
    assert n_attack() > before

    want = sec.ip_threat_scores(
        sec.all_security_events(parse_transcripts(transcripts), cfg=cfg), cfg
    )
    got_rows, want_rows = _sorted_rows(_read(spark, out, "ip_threat_scores"), want)
    assert got_rows == want_rows


def test_pipeline_resume_idempotent(spark, transcripts, tmp_path_factory):
    out = tmp_path_factory.mktemp("pipe_resume")
    # crash after the route stage
    res1 = run_pipeline(
        spark, transcripts, str(out), "run1", n_buckets=8, fail_after_route=True
    )
    assert not res1.aggregate_ran

    # resume: route buckets are all done -> skipped; aggregate runs
    res2 = run_pipeline(spark, transcripts, str(out), "run1", n_buckets=8)
    assert res2.buckets_processed == []
    assert res2.buckets_skipped == list(range(8))
    assert res2.aggregate_ran

    # a third full rerun must not duplicate anything (dynamic overwrite)
    n_parsed = _read(spark, out, "parsed_turns").count()
    res3 = run_pipeline(spark, transcripts, str(out), "run1", n_buckets=8)
    assert _read(spark, out, "parsed_turns").count() == n_parsed

    # and a no-resume rerun rewrites in place, still no dupes
    run_pipeline(spark, transcripts, str(out), "run1", n_buckets=8, resume=False)
    assert _read(spark, out, "parsed_turns").count() == n_parsed


def test_resume_reads_state_once_and_records_same_lineage(
    spark, transcripts, tmp_path_factory, monkeypatch
):
    """A run reads the state table at most once, and only to resume; the
    aggregate's state row counts its own sink rows, so a fresh run and a
    crashed-then-resumed run of the same input record the same count."""
    calls = []
    real = st.completed_buckets

    def counted(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(st, "completed_buckets", counted)
    fresh = str(tmp_path_factory.mktemp("lineage_fresh"))
    run_pipeline(spark, transcripts, fresh, "lin-1", n_buckets=8, resume=False)
    assert calls == []

    resumed = str(tmp_path_factory.mktemp("lineage_resume"))
    run_pipeline(spark, transcripts, resumed, "lin-2", n_buckets=8,
                 fail_after_route=True)
    calls.clear()
    res = run_pipeline(spark, transcripts, resumed, "lin-2", n_buckets=8)
    assert len(calls) == 1
    assert res.buckets_processed == [] and res.aggregate_ran

    def aggregate_rows(out):
        return [
            r.row_count
            for r in _read(spark, out, "state_metrics")
            .where(F.col("stage") == "aggregate")
            .collect()
        ]

    assert aggregate_rows(fresh) == aggregate_rows(resumed)
    assert aggregate_rows(fresh)[0] > 0


def test_completed_buckets_reads_state_with_declared_schema(spark, tmp_path):
    """The state table is read under ``STATE_SCHEMA``: one resume read is
    the ``table_exists`` probe plus the collect, with no schema-inference
    job between them."""
    base = str(tmp_path)
    st.record_stage(spark, base, "r1", "route", 5, {0: 3, 1: 4})
    st.record_stage(spark, base, "r1", "aggregate", 6, {-1: 7})
    sc = spark.sparkContext
    sc.setJobGroup("completed-buckets-jobs", "count state-read jobs")
    try:
        done = st.completed_buckets(spark, base, "r1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert done == {"route": {0: 3, 1: 4}, "aggregate": {-1: 7}}
    assert len(sc.statusTracker().getJobIdsForGroup("completed-buckets-jobs")) == 2


def test_pipeline_rejects_buckets_below_one(spark, transcripts, tmp_path):
    with pytest.raises(ValueError, match="n_buckets"):
        run_pipeline(spark, transcripts, str(tmp_path), "nb-0", n_buckets=0)


def test_table_exists_is_loud_on_unreadable_tables(spark, tmp_path):
    """``table_exists`` answers False only for an absent table; a corrupt
    part file raises instead of reading as absent."""
    base = str(tmp_path)
    assert not catalog.table_exists(spark, base, "missing")
    # an empty bucket-partitioned write leaves only empty bucket= dirs
    os.makedirs(tmp_path / "hollow" / "bucket=0")
    os.makedirs(tmp_path / "hollow" / "bucket=1")
    assert not catalog.table_exists(spark, base, "hollow")
    os.makedirs(tmp_path / "corrupt")
    (tmp_path / "corrupt" / "part-0.parquet").write_text("not parquet")
    with pytest.raises(Py4JJavaError):
        catalog.table_exists(spark, base, "corrupt")


def test_throttle_alerts_raises_on_corrupt_alert_state(spark, tmp_path):
    """A corrupt alert-state table must not read as 'no alert sent yet',
    which would let every alert type through again."""
    os.makedirs(tmp_path / "alert_state")
    (tmp_path / "alert_state" / "part-0.parquet").write_text("not parquet")
    alerts = spark.createDataFrame(
        [("attack", 1_000_000)], "event_type string, event_ts long"
    ).withColumn("event_ts", F.col("event_ts").cast("timestamp"))
    with pytest.raises(Py4JJavaError):
        st.throttle_alerts(spark, str(tmp_path), alerts, "r1", now_epoch=1_000_000)


def test_alert_throttling(spark, transcripts, tmp_path_factory):
    out = tmp_path_factory.mktemp("alerts")
    parsed = parse_transcripts(transcripts)
    events = sec.all_security_events(parsed)
    high = events.where(F.col("severity") == "high")

    # first batch: every alert_type passes and is recorded
    passed1 = st.throttle_alerts(spark, str(out), high, "r1", now_epoch=1_000_000)
    types1 = {r.alert_type for r in passed1.collect()}
    assert types1

    # same types within the throttle period -> suppressed (notifier.py:50-77)
    passed2 = st.throttle_alerts(
        spark, str(out), high, "r2", now_epoch=1_000_000 + 100
    )
    assert passed2.count() == 0

    # after the period expires -> pass again
    passed3 = st.throttle_alerts(
        spark, str(out), high, "r3", now_epoch=1_000_000 + 4000
    )
    assert {r.alert_type for r in passed3.collect()} == types1


def test_bucketed_tables_join_without_exchange(spark, tmp_path_factory):
    """write_bucketed_table pays the shuffle at ingest: a fact-fact join on
    the bucket key over two co-bucketed tables must plan NO shuffle
    Exchange (the 100 TB repeated-join layout)."""
    base = tmp_path_factory.mktemp("bucketed")
    docs = spark.range(0, 1000).selectExpr(
        "id AS doc_id", "concat('text-', id) AS text"
    )
    meta = spark.range(0, 1000).selectExpr(
        "id AS doc_id", "id % 7 AS quality_bin"
    )
    catalog.write_bucketed_table(docs, "bkt_docs", "doc_id", 8, str(base / "d"))
    catalog.write_bucketed_table(meta, "bkt_meta", "doc_id", 8, str(base / "m"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the join to consider a shuffle (broadcast would hide it)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bkt_docs").join(spark.table("bkt_meta"), "doc_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == 1000
        # and the bucket layout serves bucket-key aggregation shuffle-free
        agg = spark.table("bkt_docs").groupBy("doc_id").count()
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in aplan, aplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_docs")
        spark.sql("DROP TABLE IF EXISTS bkt_meta")


def test_pipeline_survives_all_rejects_input(spark, tmp_path_factory):
    """A feed where every payload is unparseable produces an empty
    parsed_turns sink — which, bucket-partitioned, contains no
    schema-bearing files. The aggregate stage must record itself done
    with zero counts instead of crashing on the unreadable table."""
    out = str(tmp_path_factory.mktemp("allrej"))
    garbage = spark.range(20).select(
        F.concat(F.lit("conv"), (F.col("id") % 4).cast("string")).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("completely unparseable payload ###").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2024-01-01 00:00:00").cast("timestamp_ntz").alias("ts"),
    )
    res = run_pipeline(spark, garbage, out, run_id="allrej-1", resume=False)
    assert res.aggregate_ran
    assert res.sink_counts["rejects"] == 20
    assert res.sink_counts["parsed_turns"] == 0
    rej = catalog.read_table(spark, out, "rejects")
    assert rej.count() == 20
