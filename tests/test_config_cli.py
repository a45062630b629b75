"""Loadable-config + CLI coverage.

Reference behaviors under test: runtime config files change engine behavior
without source edits (``helpers.py:16-35, 73-93``, ``security.py:50-82``)
and the argparse front door (``main.py:48-78``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from log_analysis_system_spark.config import (
    DEFAULT_CONFIG,
    RE_COMBINED_TIME,
    load_config,
    strip_named_groups,
)
from log_analysis_system_spark.functions.parse import parse_transcripts
from log_analysis_system_spark.operators import performance as perf
from log_analysis_system_spark.operators import security as sec

from .conftest import REPO, access_line, make_transcripts


def _write(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


def _sample(spark):
    def line(endpoint, rt):
        return access_line(
            endpoint=endpoint, referer="-", user_agent="curl", response_time=rt
        )

    rows = [
        ("c1", 0, "user", line("/slow", "0.300"), None, "2024-01-01 00:00:00"),
        ("c1", 1, "user", line("/slow", "0.300"), None, "2024-01-01 00:01:00"),
        ("c1", 2, "user", line("/fast", "0.010"), None, "2024-01-01 00:02:00"),
    ]
    return parse_transcripts(make_transcripts(spark, rows))


def test_config_yaml_changes_slow_threshold(spark, tmp_path):
    """A threshold edit in config.yaml must change slow_endpoints output."""
    parsed = _sample(spark)
    # default threshold 0.5: nothing qualifies
    assert perf.slow_endpoints(parsed).count() == 0
    cfg = load_config(_write(tmp_path, "config.yaml", """
performance_thresholds:
  slow_endpoint_avg: 0.1
"""))
    assert cfg.slow_endpoint_avg == 0.1
    got = perf.slow_endpoints(parsed, cfg).select("endpoint").collect()
    assert [r.endpoint for r in got] == ["/slow"]


def test_config_defaults_when_files_missing_keys(tmp_path):
    cfg = load_config(_write(tmp_path, "config.yaml", "security: {}\n"))
    assert cfg == DEFAULT_CONFIG


def test_suspicious_ips_file(spark, tmp_path):
    """suspicious_ips.txt format: comments + blanks skipped (security.py:50-82)."""
    ips = _write(tmp_path, "ips.txt", "# scanners\n\n192.168.1.1\n")
    cfg = load_config(suspicious_ips_path=ips)
    assert cfg.suspicious_ips == ("192.168.1.1",)
    parsed = _sample(spark)
    events = sec.suspicious_ip_events(parsed, cfg=cfg)
    got = events.select("ip_address", "description").collect()
    assert len(got) == 1 and "(3 requests)" in got[0].description
    # the default config does not flag this IP
    assert sec.suspicious_ip_events(parsed).count() == 0


def test_config_yaml_resolves_ip_file_relative(tmp_path):
    _write(tmp_path, "ips.txt", "10.0.0.9\n")
    cfg = load_config(_write(tmp_path, "config.yaml", """
security:
  suspicious_ips_file: ips.txt
"""))
    assert cfg.suspicious_ips == ("10.0.0.9",)


def test_patterns_yaml_round_trip(spark, tmp_path):
    """patterns.yaml in the reference's named-group style is converted to
    positional groups and drives both parse engines."""
    named = {
        "common_log": r'^(?P<ip_address>\S+) \S+ \S+ \[(?P<timestamp>[^\]]+)\] "(?P<method>[A-Z]+) (?P<endpoint>[^ "]+) (?P<protocol>[^"]+)" (?P<status>\d+) (?P<bytes_sent>\d+|-)',
    }
    named["combined_log"] = named["common_log"] + r' "(?P<referer>[^"]*)" "(?P<user_agent>[^"]*)"'
    named["combined_with_time"] = named["combined_log"] + r" (?P<response_time>\d+\.\d+)"
    named["error_log"] = r"^\[(?P<timestamp>[^\]]+)\] \[(?P<level>[^\]]+)\] \[(?P<module>[^\]]+)\] \[(?P<pid>[^\]]+)\] (?P<message>.*)"
    yaml_text = "apache:\n" + "".join(
        f"  {k}: {json.dumps(v)}\n" for k, v in named.items()
    )
    cfg = load_config(patterns_path=_write(tmp_path, "patterns.yaml", yaml_text))
    # these ARE the built-in regexes, just arriving via the file format
    assert cfg.re_combined_time == RE_COMBINED_TIME
    rows = [("c1", 0, "user",
             access_line(referer="-", user_agent="curl", response_time="0.250"),
             None, "2024-01-01 00:00:00")]
    for engine in ("sql", "pandas"):
        out = parse_transcripts(make_transcripts(spark, rows), engine=engine, cfg=cfg)
        r = out.select("log_format", "response_time").collect()[0]
        assert (r.log_format, r.response_time) == ("combined_time", 0.25)


def test_patterns_yaml_rejects_wrong_group_order(tmp_path):
    bad = "apache:\n  common_log: '(?P<timestamp>x) (?P<ip_address>y)'\n"
    with pytest.raises(ValueError, match="named groups"):
        load_config(patterns_path=_write(tmp_path, "patterns.yaml", bad))


def test_patterns_yaml_rejects_broken_cascade(tmp_path):
    """Access formats must stay prefix-nested (the parse engines extract the
    shared groups with the common regex on every access row)."""
    named_common = r'^(?P<ip_address>\S+) \S+ \S+ \[(?P<timestamp>[^\]]+)\] "(?P<method>[A-Z]+) (?P<endpoint>[^ "]+) (?P<protocol>[^"]+)" (?P<status>\d+) (?P<bytes_sent>\d+|-)'
    yaml_text = "apache:\n" + "".join([
        f"  common_log: {json.dumps(named_common)}\n",
        # combined does NOT extend common verbatim
        f"  combined_log: {json.dumps('^DIFFERENT (?P<ip_address>1)(?P<timestamp>2)(?P<method>3)(?P<endpoint>4)(?P<protocol>5)(?P<status>6)(?P<bytes_sent>7)(?P<referer>8)(?P<user_agent>9)')}\n",
    ])
    with pytest.raises(ValueError, match="prefix-nested"):
        load_config(patterns_path=_write(tmp_path, "patterns.yaml", yaml_text))


def test_strip_named_groups():
    pat, names = strip_named_groups(r"(?P<a>\d+)-(?P<b>\w+)")
    assert pat == r"(\d+)-(\w+)" and names == ["a", "b"]


def test_error_timeframe_logs(spark):
    """S10 generalized to the error table (database.py:298-320)."""
    rows = [
        ("c1", 0, "user", access_line(ts="02/Jan/2024:10:00:00 +0000"), None, "2024-01-02 10:00:00"),
        ("c1", 1, "user", "[Tue Jan 02 11:00:00 2024] [error] [core] [pid 1234] boom", None, "2024-01-02 11:00:00"),
        ("c1", 2, "user", "[Sat Jan 06 11:00:00 2024] [warn] [core] [pid 1234] late", None, "2024-01-06 11:00:00"),
    ]
    parsed = parse_transcripts(make_transcripts(spark, rows))
    got = perf.logs_by_timeframe(
        parsed, "2024-01-02 00:00:00", "2024-01-05 00:00:00", log_type="error"
    ).collect()
    assert len(got) == 1
    assert got[0].level == "error" and got[0].message == "boom"


def test_cli_end_to_end(tmp_path):
    """python -m log_analysis_system_spark on real testdata; then
    --analyze-only over the produced sinks (fresh JVM each — true smoke)."""
    out_dir = str(tmp_path / "out")
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    base = [
        sys.executable, "-m", "log_analysis_system_spark",
        "--input", "/root/testdata/sf0.001", "--output", out_dir,
        "--run-id", "cli-smoke", "--buckets", "4", "--master", "local[4]",
    ]
    r = subprocess.run(base, capture_output=True, text=True, cwd=REPO,
                       env=env, timeout=600)
    assert r.returncode == 0, r.stderr[-4000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["aggregate_ran"] and summary["sink_counts"]["parsed_turns"] > 0

    r2 = subprocess.run(base + ["--analyze-only"], capture_output=True,
                        text=True, cwd=REPO, env=env, timeout=600)
    assert r2.returncode == 0, r2.stderr[-4000:]
    summary2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert summary2["aggregate_ran"] and summary2["buckets_processed"] == 0


def test_cli_corpus_requires_input():
    from log_analysis_system_spark.__main__ import main

    with pytest.raises(SystemExit) as exc:
        main(["--corpus", "--analyze-only", "--output", "/tmp/x"])
    assert exc.value.code == 2  # argparse error, not a TypeError crash


@pytest.mark.parametrize("buckets", ["0", "-3"])
def test_cli_rejects_buckets_below_one(buckets, capsys):
    from log_analysis_system_spark.__main__ import main

    with pytest.raises(SystemExit) as exc:
        main(["--input", "/unused", "--output", "/tmp/x", "--buckets", buckets])
    assert exc.value.code == 2
    assert "--buckets" in capsys.readouterr().err


def test_load_input_sniffs_parquet_magic(spark, tmp_path):
    """A parquet transcripts file without the .parquet suffix must be read
    as parquet (PAR1 magic), not mis-ingested as raw log text."""
    from log_analysis_system_spark.__main__ import load_input

    rows = [("c0", 0, "user", "hello", None, "2024-01-01 00:00:00")]
    make_transcripts(spark, rows).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "t")
    )
    part = next((tmp_path / "t").glob("part-*.parquet"))
    renamed = tmp_path / "transcripts.pq"
    part.rename(renamed)
    df = load_input(spark, str(renamed))
    got = df.select("conv_id", "turn_idx", "text").collect()
    assert [(r["conv_id"], r["turn_idx"], r["text"]) for r in got] == [
        ("c0", 0, "hello")
    ]
