"""The grok parse stage: transcript ``text`` -> typed struct.

Reimplements the reference parser semantics
(``/root/reference/src/parsers/apache_parser.py:55-134``) Spark-first:

- format cascade combined_time -> combined -> common -> error, first match
  wins (``apache_parser.py:57-62``; error format folded into the same per-row
  cascade since transcripts interleave line types);
- timestamp parse with the timezone token discarded
  (``apache_parser.py:68-76``), null on failure;
- zero-default (NOT null) numeric coercions: status -> int else 0,
  bytes_sent '-' -> 0 else int else 0, response_time -> float, absent ->
  0.0 for access rows (``apache_parser.py:78-99``);
- unparseable rows keep all parse fields null (log_format null) and are
  counted/routed by the caller (``apache_parser.py:107-109``).

Two interchangeable engines, verified identical by tests:

- ``parse_transcripts(df, engine="pandas")``: one vectorized Arrow pandas UDF
  returning the full struct (``pandas .str.extract`` inside — no per-row
  Python), per BASELINE.json ``input_hint``.
- ``parse_transcripts(df, engine="sql")``: pure JVM ``rlike`` +
  ``regexp_extract`` expressions inside whole-stage codegen.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..config import DEFAULT_CONFIG, RuntimeConfig

PARSED_SCHEMA = StructType(
    [
        StructField("log_format", StringType()),
        StructField("log_type", StringType()),
        StructField("ip_address", StringType()),
        StructField("ts_parsed", TimestampType()),
        StructField("method", StringType()),
        StructField("endpoint", StringType()),
        StructField("protocol", StringType()),
        StructField("status", IntegerType()),
        StructField("bytes_sent", LongType()),
        StructField("referer", StringType()),
        StructField("user_agent", StringType()),
        StructField("response_time", DoubleType()),
        StructField("level", StringType()),
        StructField("module", StringType()),
        StructField("pid", StringType()),
        StructField("message", StringType()),
    ]
)

PARSED_FIELDS = [f.name for f in PARSED_SCHEMA.fields]

_TS_ACCESS_FMT = "dd/MMM/yyyy:HH:mm:ss"
# weekday token stripped before parsing: Python strptime's %a does not
# validate consistency, and Spark bans 'EEE' in parse mode, so dropping the
# first 4 chars ('Wed ') is semantics-preserving (apache_parser.py:118-123).
_TS_ERROR_FMT = "MMM dd HH:mm:ss yyyy"


# ---------------------------------------------------------------- SQL engine
def _sql_parsed_struct(
    text: Column, cfg: RuntimeConfig = DEFAULT_CONFIG
) -> Column:
    """Parse struct via JVM regex built-ins (whole-stage codegen path).
    Regexes come from ``cfg`` (runtime-loadable via ``config.load_config``);
    the prefix-nesting of the access formats is validated at load time."""
    RE_COMMON, RE_COMBINED, RE_COMBINED_TIME, RE_ERROR = (
        cfg.re_common, cfg.re_combined, cfg.re_combined_time, cfg.re_error
    )
    is_ct = text.rlike(RE_COMBINED_TIME)
    is_cb = text.rlike(RE_COMBINED)
    is_cm = text.rlike(RE_COMMON)
    is_err = text.rlike(RE_ERROR)

    log_format = (
        F.when(is_ct, F.lit("combined_time"))
        .when(is_cb, F.lit("combined"))
        .when(is_cm, F.lit("common"))
        .when(is_err, F.lit("error"))
    )
    is_access = is_cm  # common pattern is a prefix of both richer formats
    log_type = F.when(is_access, F.lit("access")).when(is_err, F.lit("error"))

    # groups 1-7 come from the common regex: it is a literal prefix of the
    # combined/combined_time regexes, so it extracts identically on all
    # access rows in a single compiled-regex pass.
    def cm(g: int) -> Column:
        return F.regexp_extract(text, RE_COMMON, g)

    raw_ts = cm(2)
    ts_parsed_access = F.try_to_timestamp(
        F.substring_index(raw_ts, " ", 1), F.lit(_TS_ACCESS_FMT)
    )
    err_ts_raw = F.regexp_extract(text, RE_ERROR, 1)
    ts_parsed_error = F.try_to_timestamp(
        F.substring(err_ts_raw, 5, 1024), F.lit(_TS_ERROR_FMT)
    )

    status = F.coalesce(cm(6).try_cast("int"), F.lit(0))
    bytes_raw = cm(7)
    bytes_sent = F.when(bytes_raw == "-", F.lit(0).cast("long")).otherwise(
        F.coalesce(bytes_raw.try_cast("long"), F.lit(0).cast("long"))
    )
    has_rich = is_ct | is_cb
    referer = F.when(has_rich, F.regexp_extract(text, RE_COMBINED, 8))
    user_agent = F.when(has_rich, F.regexp_extract(text, RE_COMBINED, 9))
    response_time = F.when(
        is_ct,
        F.coalesce(
            F.regexp_extract(text, RE_COMBINED_TIME, 10).try_cast("double"),
            F.lit(0.0),
        ),
    ).when(is_access, F.lit(0.0))

    def err(g: int) -> Column:
        return F.when(is_err & ~is_access, F.regexp_extract(text, RE_ERROR, g))

    def acc(c: Column) -> Column:
        return F.when(is_access, c)

    return F.struct(
        log_format.alias("log_format"),
        log_type.alias("log_type"),
        acc(cm(1)).alias("ip_address"),
        F.when(is_access, ts_parsed_access)
        .when(is_err, ts_parsed_error)
        .alias("ts_parsed"),
        acc(cm(3)).alias("method"),
        acc(cm(4)).alias("endpoint"),
        acc(cm(5)).alias("protocol"),
        acc(status).alias("status"),
        acc(bytes_sent).alias("bytes_sent"),
        referer.alias("referer"),
        user_agent.alias("user_agent"),
        response_time.alias("response_time"),
        err(2).alias("level"),
        err(3).alias("module"),
        err(4).alias("pid"),
        err(5).alias("message"),
    )


# ------------------------------------------------------------- pandas engine
def _parse_batch(s: pd.Series, cfg: RuntimeConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """Vectorized grok cascade over one Arrow batch (no per-row Python).

    First-match-wins done literally: each regex runs only on the rows no
    earlier format matched (the corpus is mostly combined_time, so this
    cuts regex work ~2x vs extracting every format over every row), and
    the common groups 0-6 come from whichever format matched (the access
    regexes are start-anchored prefixes of each other)."""
    RE_COMMON, RE_COMBINED, RE_COMBINED_TIME, RE_ERROR = (
        cfg.re_common, cfg.re_combined, cfg.re_combined_time, cfg.re_error
    )
    s = s.fillna("")
    idx = s.index
    out = pd.DataFrame(index=idx)

    ct = s.str.extract(RE_COMBINED_TIME)
    is_ct = ct[0].notna()
    rest = s[~is_ct]
    cb = rest.str.extract(RE_COMBINED).reindex(idx)
    is_cb = cb[0].notna()
    rest = rest[~is_cb.loc[rest.index]]
    cm = rest.str.extract(RE_COMMON).reindex(idx)
    is_cm = cm[0].notna()
    rest = rest[~is_cm.loc[rest.index]]
    er = rest.str.extract(RE_ERROR).reindex(idx)
    is_err = er[0].notna()
    is_access = is_ct | is_cb | is_cm

    fmt = pd.Series(pd.NA, index=idx, dtype="object")
    fmt[is_ct] = "combined_time"
    fmt[is_cb] = "combined"
    fmt[is_cm] = "common"
    fmt[is_err] = "error"
    out["log_format"] = fmt
    log_type = pd.Series(pd.NA, index=idx, dtype="object")
    log_type[is_access] = "access"
    log_type[is_err] = "error"
    out["log_type"] = log_type

    # groups 0-6 from whichever access regex matched (disjoint row sets)
    g = ct.iloc[:, 0:7].combine_first(cb.iloc[:, 0:7]).combine_first(cm)
    out["ip_address"] = g[0].where(is_access)

    raw_ts = g[1].where(is_access, None).str.split(" ").str[0]
    ts_access = pd.to_datetime(raw_ts, format="%d/%b/%Y:%H:%M:%S", errors="coerce")
    # error-log ts: weekday token validated by neither strptime nor us
    ts_error = pd.to_datetime(
        er[0].where(is_err, None).str.slice(4),
        format="%b %d %H:%M:%S %Y",
        errors="coerce",
    )
    out["ts_parsed"] = ts_access.fillna(ts_error)

    out["method"] = g[2].where(is_access)
    out["endpoint"] = g[3].where(is_access)
    out["protocol"] = g[4].where(is_access)

    status = pd.to_numeric(g[5], errors="coerce")
    out["status"] = status.fillna(0).where(is_access).astype("Int32")

    bytes_raw = g[6].mask(g[6] == "-", "0")
    bytes_sent = pd.to_numeric(bytes_raw, errors="coerce").fillna(0)
    out["bytes_sent"] = bytes_sent.where(is_access).astype("Int64")

    has_rich = is_ct | is_cb
    # referer/user_agent from whichever rich regex matched the row
    out["referer"] = ct[7].combine_first(cb[7]).where(has_rich)
    out["user_agent"] = ct[8].combine_first(cb[8]).where(has_rich)

    rt = pd.to_numeric(ct[9], errors="coerce")
    out["response_time"] = rt.fillna(0.0).where(is_access)

    out["level"] = er[1].where(is_err)
    out["module"] = er[2].where(is_err)
    out["pid"] = er[3].where(is_err)
    out["message"] = er[4].where(is_err)
    return out


def make_parse_udf(cfg: RuntimeConfig = DEFAULT_CONFIG):
    """Compile the Arrow pandas-UDF parse engine against a config (the
    frozen dataclass pickles into the UDF closure)."""

    @pandas_udf(PARSED_SCHEMA)
    def parse_text_udf(s: pd.Series) -> pd.DataFrame:
        return _parse_batch(s, cfg)

    return parse_text_udf


parse_text_udf = make_parse_udf()


# ------------------------------------------------------------------- facade
def parse_transcripts(
    df: DataFrame,
    engine: str = "sql",
    cfg: RuntimeConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Append parsed fields to a transcripts DataFrame.

    Keeps all input columns and adds the 16 parse fields (flattened).
    ``engine='sql'`` uses JVM regex built-ins; ``engine='pandas'`` uses the
    Arrow-vectorized pandas UDF. Results are identical (tested). ``cfg``
    supplies the grok regexes (runtime-loadable, defaults = reference's).
    """
    if engine == "pandas":
        udf = parse_text_udf if cfg is DEFAULT_CONFIG else make_parse_udf(cfg)
        parsed = udf(F.col("text"))
    elif engine == "sql":
        parsed = _sql_parsed_struct(F.col("text"), cfg)
    else:
        raise ValueError(f"unknown parse engine: {engine}")
    df = df.withColumn("_parsed", parsed)
    return df.select("*", "_parsed.*").drop("_parsed")
