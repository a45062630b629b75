"""Email delivery layer (reference src/alerting/notifier.py:19-309).

The distributed throttle (state.throttle_alerts) has its own tests in
test_pipeline.py; these cover the delivery plane: rendering parity,
reference throttle/return contracts, both transports, and the
deliver_throttled_alerts bridge from throttler output to emails.
"""

from __future__ import annotations

import email
import os

import pandas as pd
import pytest

from log_analysis_system_spark.notifier import (
    EmailNotifier,
    SmtpTransport,
    deliver_throttled_alerts,
    render_alert_body,
)


def spool_notifier(tmp_path, **over):
    cfg = {
        "enabled": True,
        "from_address": "alerts@example.com",
        "to_addresses": ["ops@example.com", "sre@example.com"],
        "spool_dir": str(tmp_path / "spool"),
        "throttle_period": 3600,
    }
    cfg.update(over)
    clock = {"t": 1_000_000.0}
    n = EmailNotifier(cfg, now_fn=lambda: clock["t"])
    return n, clock


def read_spool(tmp_path):
    d = tmp_path / "spool"
    if not d.is_dir():
        return []
    return [
        email.message_from_string((d / f).read_text())
        for f in sorted(os.listdir(d))
        if f.endswith(".eml")
    ]


# -- rendering parity (notifier.py:105-183) ---------------------------------

def test_render_dict_payload_text_and_html():
    text, html = render_alert_body(
        "subj", "body text", {"Error Rate": "5.00%"}, "2023-10-10 13:55:36"
    )
    assert "body text" in text
    assert "Alert Time: 2023-10-10 13:55:36" in text
    assert "Alert Details:" in text and "Error Rate: 5.00%" in text
    assert "<tr><td>Error Rate</td><td>5.00%</td></tr>" in html
    assert "<h2>subj</h2>" in html


def test_render_dataframe_payload():
    df = pd.DataFrame({"ip": ["10.0.0.1"], "n": [7]})
    text, html = render_alert_body("s", "c", df, "t")
    assert "10.0.0.1" in text
    assert "<table" in html and "10.0.0.1" in html


def test_render_no_payload_has_no_details_block():
    text, html = render_alert_body("s", "c", None, "t")
    assert "Alert Details" not in text
    assert "Alert Details" not in html


# -- send contracts (notifier.py:79-103) ------------------------------------

def test_disabled_notifier_sends_nothing(tmp_path):
    n, _ = spool_notifier(tmp_path, enabled=False)
    assert n.send_alert("s", "c") is False
    assert read_spool(tmp_path) == []


def test_incomplete_config_returns_false(tmp_path):
    n, _ = spool_notifier(tmp_path, to_addresses=[])
    assert n.send_alert("s", "c") is False


def test_spooled_message_is_multipart_alternative(tmp_path):
    n, _ = spool_notifier(tmp_path)
    assert n.send_alert("Disk full", "details", {"k": "v"}) is True
    (msg,) = read_spool(tmp_path)
    assert msg["Subject"] == "[Log Analysis Alert] Disk full"
    assert msg["From"] == "alerts@example.com"
    assert msg["To"] == "ops@example.com, sre@example.com"
    parts = [p.get_content_type() for p in msg.walk()]
    assert parts == ["multipart/alternative", "text/plain", "text/html"]


def test_throttle_window_semantics(tmp_path):
    n, clock = spool_notifier(tmp_path, throttle_period=3600)
    assert n.send_alert("a", "c", alert_type="security") is True
    clock["t"] += 100  # inside the window -> throttled
    assert n.send_alert("a", "c", alert_type="security") is False
    assert n.send_alert("a", "c", alert_type="performance") is True  # other type
    clock["t"] += 3601  # past the window -> passes again
    assert n.send_alert("a", "c", alert_type="security") is True
    assert len(read_spool(tmp_path)) == 3


def test_transport_error_returns_false(tmp_path):
    class Boom:
        def send(self, *a):
            raise OSError("relay down")

    n, _ = spool_notifier(tmp_path)
    n.transport = Boom()
    assert n.send_alert("s", "c") is False  # notifier.py:204 contract


# -- SMTP transport protocol (notifier.py:186-199) ---------------------------

class FakeSmtp:
    instances: list["FakeSmtp"] = []

    def __init__(self, server, port):
        self.server, self.port = server, port
        self.calls = []
        FakeSmtp.instances.append(self)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def starttls(self, context=None):
        self.calls.append(("starttls", context is not None))

    def login(self, user, pw):
        self.calls.append(("login", user, pw))

    def sendmail(self, frm, to, body):
        self.calls.append(("sendmail", frm, tuple(to)))
        self.body = body


def test_smtp_transport_protocol():
    FakeSmtp.instances = []
    t = SmtpTransport("smtp.example.com", 587, True, "u", "p",
                      smtp_factory=FakeSmtp)
    from email.mime.multipart import MIMEMultipart

    msg = MIMEMultipart("alternative")
    msg["Subject"] = "x"
    t.send("from@x", ["to@x"], msg)
    (s,) = FakeSmtp.instances
    assert (s.server, s.port) == ("smtp.example.com", 587)
    assert s.calls == [
        ("starttls", True),
        ("login", "u", "p"),
        ("sendmail", "from@x", ("to@x",)),
    ]


def test_smtp_config_selects_smtp_transport(tmp_path):
    n, _ = spool_notifier(tmp_path, smtp_server="smtp.example.com")
    assert isinstance(n.transport, SmtpTransport)


# -- typed wrappers (notifier.py:208-309) ------------------------------------

def test_typed_wrappers_subjects_and_empty_guard(tmp_path):
    n, _ = spool_notifier(tmp_path)
    assert n.send_security_alert([]) is False
    assert n.send_performance_alert(None) is False
    assert n.send_security_alert([{"ip": "1.2.3.4"}]) is True
    assert n.send_anomaly_alert([{"z": 9.1}]) is True
    subjects = [m["Subject"] for m in read_spool(tmp_path)]
    assert subjects == [
        "[Log Analysis Alert] Security Threats Detected: 1 event(s)",
        "[Log Analysis Alert] Anomalies Detected: 1 anomaly(ies)",
    ]


def test_daily_summary_formats_stats(tmp_path):
    import datetime

    n, _ = spool_notifier(tmp_path)
    ok = n.send_daily_summary(
        {"total_logs": 123, "error_rate": 0.05},
        [],
        (datetime.datetime(2023, 10, 10, 0, 0), datetime.datetime(2023, 10, 11, 0, 0)),
    )
    assert ok is True
    (msg,) = read_spool(tmp_path)
    assert msg["Subject"] == "[Log Analysis Alert] Daily Log Analysis Summary: 2023-10-10"
    text = next(
        p for p in msg.walk() if p.get_content_type() == "text/plain"
    ).get_payload()
    assert "Total Logs Processed: 123" in text
    assert "Error Rate: 5.00%" in text


# -- bridge from the distributed throttle ------------------------------------

@pytest.mark.usefixtures("spark")
def test_deliver_throttled_alerts_end_to_end(spark, tmp_path):
    from pyspark.sql import functions as F

    passed = spark.createDataFrame(
        [("suspicious_ip", 3, 1696946136), ("attack_pattern", 1, 1696946000)],
        "alert_type string, n_events long, max_event_epoch long",
    )
    alert_rows = spark.createDataFrame(
        [
            ("suspicious_ip", "2023-10-10 13:55:36", "high", "10.0.0.9"),
            ("suspicious_ip", "2023-10-10 13:54:00", "high", "10.0.0.8"),
            ("attack_pattern", "2023-10-10 13:53:20", "high", "10.0.0.7"),
            ("scan_attempt", "2023-10-10 13:53:20", "medium", "10.0.0.6"),
        ],
        "event_type string, ts string, severity string, ip string",
    ).withColumn("event_ts", F.to_timestamp("ts")).drop("ts")

    n, _ = spool_notifier(tmp_path)
    sent = deliver_throttled_alerts(passed, n, alert_rows=alert_rows, max_rows=10)
    assert sent == 2
    msgs = read_spool(tmp_path)
    assert len(msgs) == 2
    subjects = sorted(m["Subject"] for m in msgs)
    assert subjects == [
        "[Log Analysis Alert] attack_pattern: 1 event(s)",
        "[Log Analysis Alert] suspicious_ip: 3 event(s)",
    ]
    bodies = " ".join(
        p.get_payload()
        for m in msgs
        for p in m.walk()
        if p.get_content_type() == "text/plain"
    )
    # payload rows embedded; the untriggered type's rows are not
    assert "10.0.0.9" in bodies and "10.0.0.7" in bodies
    assert "10.0.0.6" not in bodies
    # deterministic alert time derived from max_event_epoch, not wall clock
    assert "2023-10-10 13:55:36" in bodies


@pytest.mark.usefixtures("spark")
def test_pipeline_delivers_alert_emails(spark, tmp_path_factory):
    """run_pipeline with email enabled + spool transport writes one .eml per
    high-severity alert type that passes the distributed throttle, and
    records the count in sink_counts (pipeline.py aggregate stage)."""
    from dataclasses import replace

    from log_analysis_system_spark.config import DEFAULT_CONFIG
    from log_analysis_system_spark.datagen.transcripts import synth_transcripts
    from log_analysis_system_spark.pipeline import run_pipeline

    out = tmp_path_factory.mktemp("email_pipe")
    spool = str(out / "outbox")
    cfg = replace(
        DEFAULT_CONFIG,
        email={
            "enabled": True,
            "from_address": "alerts@example.com",
            "to_addresses": ["ops@example.com"],
            "spool_dir": spool,
        },
    )
    transcripts = synth_transcripts(spark, n_turns=4000, n_convs=40)
    res = run_pipeline(spark, transcripts, str(out / "data"), "run1",
                       n_buckets=8, cfg=cfg)
    msgs = [
        email.message_from_string((f := os.path.join(spool, name), open(f).read())[1])
        for name in sorted(os.listdir(spool))
        if name.endswith(".eml")
    ]
    assert len(msgs) == res.sink_counts["alert_emails"] > 0
    # one email per distinct high-severity alert type, reference subject shape
    assert all(m["Subject"].startswith("[Log Analysis Alert] ") for m in msgs)
    types = {m["Subject"].split("] ")[1].split(":")[0] for m in msgs}
    assert len(types) == len(msgs)
