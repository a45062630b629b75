"""Engine configuration: built-in defaults + runtime-loadable overrides.

The module-level constants mirror the *configuration data* shipped with the
reference system (thresholds, grok regexes, pattern lists, lookup sets) so
the rebuilt engine reproduces its semantics exactly out of the box.
:class:`RuntimeConfig` bundles every tunable, and :func:`load_config` reads
the reference's own file formats (``config/config.yaml`` +
``config/patterns.yaml`` + ``suspicious_ips.txt`` — ``helpers.py:16-35,
73-93``, ``security.py:50-82``) so a user can change thresholds / pattern
lists / IP lists / grok regexes without editing source. Citations point into
``/root/reference``:

- grok regexes:            config/patterns.yaml:6-15
- performance thresholds:  config/config.yaml:17-20
- attack/scan patterns:    config/config.yaml:25-38
- anomaly settings:        config/config.yaml:41-44
- alert throttling:        config/config.yaml:47-49
- suspicious IPs:          config/suspicious_ips.txt:5-13
- severity weights/levels: src/analyzers/security.py:346-350,373-380
- brute-force threshold:   src/analyzers/security.py:279
- login keywords:          src/analyzers/security.py:266
- dangerous HTTP methods:  src/analyzers/security.py:311-312
- status descriptions:     dashboard.py:205-221
"""

from __future__ import annotations

# --- grok regexes (config/patterns.yaml:6-15). Anchored at the start only:
# the reference uses re.match, so 'combined' lines also match 'common' and the
# cascade combined_time -> combined -> common picks the most specific.
RE_COMMON = (
    r'^(\S+) \S+ \S+ \[([^\]]+)\] "([A-Z]+) ([^ "]+) ([^"]+)" (\d+) (\d+|-)'
)
RE_COMBINED = RE_COMMON + r' "([^"]*)" "([^"]*)"'
RE_COMBINED_TIME = RE_COMBINED + r" (\d+\.\d+)"
RE_ERROR = r"^\[([^\]]+)\] \[([^\]]+)\] \[([^\]]+)\] \[([^\]]+)\] (.*)"

# Capture-group order of the access regexes above.
ACCESS_GROUPS = [
    "ip_address",
    "timestamp",
    "method",
    "endpoint",
    "protocol",
    "status",
    "bytes_sent",
    "referer",
    "user_agent",
    "response_time",
]
ERROR_GROUPS = ["timestamp", "level", "module", "pid", "message"]

# --- performance thresholds (config/config.yaml:17-20)
SLOW_ENDPOINT_AVG = 0.5  # seconds
SLOW_ENDPOINT_P95 = 2.0  # seconds
HIGH_ERROR_RATE = 0.05

# min requests per endpoint before emitting metrics (performance.py:82)
MIN_ENDPOINT_SUPPORT = 5
# assumed metric window seconds (performance.py:91)
METRIC_TIME_WINDOW = 3600

# --- security (config/config.yaml:25-38); matched case-insensitively
# (security.py:45 re.IGNORECASE)
ATTACK_PATTERNS = [
    "SELECT.*FROM",
    "DELETE.*FROM",
    "UNION.*SELECT",
    # Kept unescaped and unanchored for parity with the reference's
    # ``re.search``: '.' is any character, so this matches any two characters
    # on each side of a slash, e.g. /api/orders (via 'pi/or'). On perfbench
    # batch_fixed seed 21, 5,479 of 9,000 parsed rows land in
    # security_events_high, 5,088 of them through this pattern.
    # tests/test_analyzers.py::test_attack_detection pins it.
    "../..",
    "/etc/passwd",
    "<script>",
]
SCAN_PATTERNS = [".git", "wp-admin", "wp-login", "phpMyAdmin", ".env", ".config"]

SUSPICIOUS_IPS = [
    # scanners (config/suspicious_ips.txt:5-8)
    "45.33.10.20",
    "185.191.171.8",
    "82.221.129.19",
    "89.248.167.131",
    # attackers (config/suspicious_ips.txt:11-13)
    "23.129.64.102",
    "103.234.220.197",
    "185.222.209.133",
]

LOGIN_KEYWORDS = ["login", "signin", "auth", "wp-login", "admin"]  # security.py:266
BRUTE_FORCE_STATUSES = [401, 403, 404]  # security.py:269
BRUTE_FORCE_THRESHOLD = 5  # security.py:279
DANGEROUS_METHODS = ["PUT", "DELETE", "TRACE", "CONNECT", "OPTIONS"]  # security.py:312

SEVERITY_WEIGHTS = {"low": 1, "medium": 5, "high": 10}  # security.py:346-350
THREAT_LEVEL_HIGH = 20  # security.py:375
THREAT_LEVEL_MEDIUM = 10  # security.py:377

# --- anomaly detection (config/config.yaml:41-44)
Z_SCORE_THRESHOLD = 3.0
MIN_DATA_POINTS = 10
ANOMALY_WINDOW_SIZE = 3600
ROLLING_WINDOW = 5  # detector.py:82
ROLLING_MIN_PERIODS = 3  # detector.py:82
IQR_MULTIPLIER = 1.5  # detector.py:124

# --- alerting (config/config.yaml:47-49)
MIN_ANOMALIES_FOR_ALERT = 5
THROTTLE_PERIOD = 3600

# --- status-code descriptions (dashboard.py:205-221)
STATUS_DESCRIPTIONS = {
    200: "OK",
    201: "Created",
    204: "No Content",
    301: "Moved Permanently",
    302: "Found",
    304: "Not Modified",
    400: "Bad Request",
    401: "Unauthorized",
    403: "Forbidden",
    404: "Not Found",
    405: "Method Not Allowed",
    500: "Internal Server Error",
    502: "Bad Gateway",
    503: "Service Unavailable",
    504: "Gateway Timeout",
}


# =========================================================================
# Runtime-loadable configuration
# =========================================================================
import os as _os
import re as _re
from dataclasses import dataclass as _dataclass, field as _field, replace

_NAMED_GROUP = _re.compile(r"\(\?P<([A-Za-z_][A-Za-z0-9_]*)>")


def strip_named_groups(pattern: str) -> tuple[str, list[str]]:
    """Convert a Python named-group regex (the reference's patterns.yaml
    style) to positional groups understood by Spark's JVM regex engine
    (Java group names may not contain '_', so names are stripped rather
    than translated). Returns (positional_pattern, names_in_order)."""
    names = _NAMED_GROUP.findall(pattern)
    return _NAMED_GROUP.sub("(", pattern), names


@_dataclass(frozen=True)
class RuntimeConfig:
    """Every tunable the engine consumes, defaulting to the built-in
    constants above. Operators take ``cfg: RuntimeConfig = DEFAULT_CONFIG``;
    pass a :func:`load_config` result to override at runtime."""

    # grok regexes (positional-group form; the SQL engine requires the
    # access formats to be prefix-nested: common ⊑ combined ⊑ combined_time)
    re_common: str = RE_COMMON
    re_combined: str = RE_COMBINED
    re_combined_time: str = RE_COMBINED_TIME
    re_error: str = RE_ERROR
    # performance thresholds
    slow_endpoint_avg: float = SLOW_ENDPOINT_AVG
    slow_endpoint_p95: float = SLOW_ENDPOINT_P95
    high_error_rate: float = HIGH_ERROR_RATE
    min_endpoint_support: int = MIN_ENDPOINT_SUPPORT
    metric_time_window: int = METRIC_TIME_WINDOW
    # security
    attack_patterns: tuple = tuple(ATTACK_PATTERNS)
    scan_patterns: tuple = tuple(SCAN_PATTERNS)
    suspicious_ips: tuple = tuple(SUSPICIOUS_IPS)
    login_keywords: tuple = tuple(LOGIN_KEYWORDS)
    brute_force_statuses: tuple = tuple(BRUTE_FORCE_STATUSES)
    brute_force_threshold: int = BRUTE_FORCE_THRESHOLD
    dangerous_methods: tuple = tuple(DANGEROUS_METHODS)
    severity_weights: dict = _field(
        default_factory=lambda: dict(SEVERITY_WEIGHTS)
    )
    threat_level_high: int = THREAT_LEVEL_HIGH
    threat_level_medium: int = THREAT_LEVEL_MEDIUM
    # anomaly detection
    z_score_threshold: float = Z_SCORE_THRESHOLD
    min_data_points: int = MIN_DATA_POINTS
    anomaly_window_size: int = ANOMALY_WINDOW_SIZE
    rolling_window: int = ROLLING_WINDOW
    rolling_min_periods: int = ROLLING_MIN_PERIODS
    iqr_multiplier: float = IQR_MULTIPLIER
    # alerting
    min_anomalies_for_alert: int = MIN_ANOMALIES_FOR_ALERT
    throttle_period: int = THROTTLE_PERIOD
    # email delivery (config.yaml:52-62 schema; notifier.py consumes it).
    # Disabled by default, exactly like the reference; 'spool_dir' (an
    # extension) selects the offline .eml transport instead of SMTP.
    email: dict = _field(default_factory=dict)


DEFAULT_CONFIG = RuntimeConfig()


def _load_suspicious_ips(path: str) -> tuple:
    """suspicious_ips.txt format (security.py:50-82): one IP per line,
    '#' comments and blanks skipped. Missing file -> empty set, like the
    reference (it warns and continues)."""
    if not _os.path.exists(path):
        return ()
    ips = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line and not line.startswith("#"):
                ips.append(line)
    return tuple(ips)


def _check_access_cascade(common: str, combined: str, combined_time: str) -> None:
    """The parse engines extract the shared groups 1..7 with the *common*
    regex on every access row — valid only when the richer formats extend
    the common one verbatim (true of the reference's apache patterns and of
    its own cascade semantics). Fail loudly on configs that break this."""
    if not combined.startswith(common):
        raise ValueError(
            "patterns.yaml: combined_log must extend common_log verbatim "
            "(prefix-nested access formats)"
        )
    if not combined_time.startswith(combined):
        raise ValueError(
            "patterns.yaml: combined_with_time must extend combined_log "
            "verbatim (prefix-nested access formats)"
        )


def load_config(
    config_path: str | None = None,
    patterns_path: str | None = None,
    suspicious_ips_path: str | None = None,
    base: RuntimeConfig = DEFAULT_CONFIG,
) -> RuntimeConfig:
    """Build a RuntimeConfig from the reference's file formats; every
    missing file / section / key keeps the built-in default.

    - ``config_path``: config.yaml schema (performance_thresholds /
      security / anomaly_detection / alerting sections — config.yaml:17-49)
    - ``patterns_path``: patterns.yaml 'apache' section (common_log,
      combined_log, combined_with_time, error_log — named-group regexes,
      converted to positional; group-name order is validated against the
      engine's field order)
    - ``suspicious_ips_path``: overrides the ``security.suspicious_ips_file``
      value from config.yaml (which is resolved relative to the config
      file's directory)
    """
    import yaml

    overrides: dict = {}
    if config_path is not None:
        with open(config_path, encoding="utf-8") as f:
            raw = yaml.safe_load(f) or {}
        perf = raw.get("performance_thresholds") or {}
        for key in ("slow_endpoint_avg", "slow_endpoint_p95", "high_error_rate"):
            if key in perf:
                overrides[key] = type(getattr(base, key))(perf[key])
        sec = raw.get("security") or {}
        if "attack_patterns" in sec:
            overrides["attack_patterns"] = tuple(sec["attack_patterns"])
        if "scan_patterns" in sec:
            overrides["scan_patterns"] = tuple(sec["scan_patterns"])
        if suspicious_ips_path is None and sec.get("suspicious_ips_file"):
            ip_file = sec["suspicious_ips_file"]
            if not _os.path.isabs(ip_file):
                # the reference resolves relative to its PROJECT_ROOT
                # (helpers.py:14, 28): try the config file's directory, then
                # its parent (project root when config lives in config/)
                cfg_dir = _os.path.dirname(_os.path.abspath(config_path))
                for cand_dir in (cfg_dir, _os.path.dirname(cfg_dir)):
                    cand = _os.path.join(cand_dir, ip_file)
                    if _os.path.exists(cand):
                        ip_file = cand
                        break
            overrides["suspicious_ips"] = _load_suspicious_ips(ip_file)
        anom = raw.get("anomaly_detection") or {}
        if "z_score_threshold" in anom:
            overrides["z_score_threshold"] = float(anom["z_score_threshold"])
        if "min_data_points" in anom:
            overrides["min_data_points"] = int(anom["min_data_points"])
        if "window_size" in anom:
            overrides["anomaly_window_size"] = int(anom["window_size"])
        alert = raw.get("alerting") or {}
        if "min_anomalies_for_alert" in alert:
            overrides["min_anomalies_for_alert"] = int(alert["min_anomalies_for_alert"])
        if "throttle_period" in alert:
            overrides["throttle_period"] = int(alert["throttle_period"])
        if raw.get("email"):
            overrides["email"] = dict(raw["email"])

    if suspicious_ips_path is not None:
        overrides["suspicious_ips"] = _load_suspicious_ips(suspicious_ips_path)

    if patterns_path is not None:
        with open(patterns_path, encoding="utf-8") as f:
            pats = (yaml.safe_load(f) or {}).get("apache") or {}
        stripped: dict[str, tuple[str, list[str]]] = {
            k: strip_named_groups(v) for k, v in pats.items()
        }
        expected = {
            "common_log": ("re_common", ACCESS_GROUPS[:7]),
            "combined_log": ("re_combined", ACCESS_GROUPS[:9]),
            "combined_with_time": ("re_combined_time", ACCESS_GROUPS[:9] + ["response_time"]),
            "error_log": ("re_error", ERROR_GROUPS),
        }
        for yaml_key, (cfg_field, want_names) in expected.items():
            if yaml_key not in stripped:
                continue
            pattern, names = stripped[yaml_key]
            if names != list(want_names):
                raise ValueError(
                    f"patterns.yaml apache.{yaml_key}: named groups {names} "
                    f"do not match the engine field order {list(want_names)}"
                )
            overrides[cfg_field] = pattern
        _check_access_cascade(
            overrides.get("re_common", base.re_common),
            overrides.get("re_combined", base.re_combined),
            overrides.get("re_combined_time", base.re_combined_time),
        )

    return replace(base, **overrides)
