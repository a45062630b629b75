"""Adversarial-corpus cross-engine gate.

The driver's correctness gate (and ``tools/check_correctness.py``) runs the
Spark queries and their DuckDB oracles over the *synthetic* testdata — which
is clean: no empty documents, no NULL ``lang``/``source``, no zero-norm
embeddings. Round-3 ADVICE.md showed the failure mode that leaves open:
operators and oracles that AGREE on clean data but would diverge on hostile
rows (null-key equi-joins, division by zero under different engine
semantics, ``concat_ws`` vs ``||`` null handling).

This module closes that class structurally with THREE hostile fixtures,
each paired with an auto-selected query slice and the same row-multiset
compare the driver gate runs:

- ``documents.parquet`` / ``embeddings.parquet`` — empty/whitespace/
  single-token text, NULL lang/source/text, symbol-heavy, unicode,
  exact-dup groups, zero-norm and duplicate embeddings, NULL labels;
  covers every registered query whose oracle reads only those tables.
- ``events.parquet`` — NULL user_id/ts/event_type, malformed props,
  as-of tie groups, rank-cutoff ties, retention gap-weeks and
  ISO-year-boundary cohorts, EWMA single-bucket/spike/boundary series;
  covers the events-only queries (including, since round 5, the
  rank-domain ``percentiles_approx_check``).
- the seven TPC-H tables — zero-lineitem orders, orderless customers,
  leap-aware ship-lag boundaries, exactly-at-threshold quantities,
  min-cost/revenue/rank ties, year-boundary dates; covers all 22
  registered TPC-H queries, with a
  non-vacuity test pinning exact per-edge row sets so a silently-dead
  edge fails the suite.

A query that only passes the driver gate because the synthetic corpus never
exercises its edge case fails HERE instead of in next round's ADVICE.
"""

from __future__ import annotations

import re
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from tools.check_correctness import connect, mismatch

# tables whose presence in an oracle disqualifies the query (the fixture
# dir only carries documents + embeddings)
_OTHER_TABLES = re.compile(
    r"\b(region|nation|customer|supplier|part|orders|lineitem|events)\b",
    re.IGNORECASE,
)

# the events-only analog: queries whose oracle reads ONLY the events table
# (the rendered-transcript family is excluded by the orders reference in
# its shared dim CTE — and is cross-engine-identical BY CONSTRUCTION anyway,
# both sides rendering text from one template over the same event formulas)
_NOT_EVENTS_ONLY = re.compile(
    r"\b(region|nation|customer|supplier|part|orders|lineitem|documents"
    r"|embeddings)\b",
    re.IGNORECASE,
)

# Calibrated-invariant wrappers whose constant-verdict oracles presuppose
# the registered corpus regime, not engine semantics: ``full_k`` requires
# every query's probed lists to hold >= k candidates (true at sf>=0.001,
# false by construction on a 25-vector fixture where IVF spreads 25
# vectors over 16 lists), and the recall floors are statistical claims
# about the planted-pair corpus. Cross-engine value semantics of the
# underlying operators are covered by their direct entries above.
_SCALE_CONTRACT = {
    "ann_ivf_check",
    "ann_lsh_check",
    # percentiles_approx_check USED to sit here: its old 1%-value-relative
    # bound was a corpus-regime claim that broke on small groups. Since
    # the round-5 rewrite it verifies the sketch's actual RANK-domain
    # guarantee — scale-free — so it now runs on the hostile events
    # fixture like any other events query (all-NULL-value groups yield a
    # vacuous TRUE; a NULL event_type is its own group).
}

EMB_DIM = 64


def _vec(i: int) -> list[float]:
    """Deterministic dense vector: pure function of (vec_id, dim)."""
    return [(((i * 31 + d * 7) % 13) - 6) / 6.0 for d in range(EMB_DIM)]


def _docs_rows() -> list[tuple[int, str, str | None, str | None]]:
    dup = "hello world hello world hello world"
    near_base = " ".join(f"w{j}" for j in range(40))
    stop_run = "the and is the and is the and is"
    words50 = " ".join(f"tok{j}" for j in range(50))
    words49 = " ".join(f"tok{j}" for j in range(49))
    longdoc = " ".join(f"word{j % 7}" for j in range(120))
    return [
        (0, "", "en", "web"),                       # empty text
        (1, " ", "en", "web"),                      # whitespace-only
        (2, "hello", "en", "web"),                  # single token (no bigrams)
        (3, dup, "en", "books"),                    # dup-group canonical
        (4, dup, None, "web"),                      # NULL lang
        (5, dup, "en", None),                       # NULL source
        (6, "solo text here", None, None),          # NULL lang AND source
        (7, "#### ## # ###", "en", "web"),          # symbol-heavy (gopher)
        (8, "... wait ... what ... really ...", "en", "web"),
        (9, "a b c d e f g h", "en", "web"),        # 1-char words
        (10, "héllo wörld café naïve résumé", "fr", "web"),  # unicode
        (11, "123 456 789 101112", "en", "web"),    # digits only (alpha rule)
        (12, near_base, "en", "web"),
        (13, near_base + " extra tail", "en", "cc"),  # near-dup of 12
        (14, stop_run, "en", "web"),                # stopwords only
        (15, "the the the the the", "en", "web"),   # ONE distinct stopword
        (16, words50, "en", "books"),               # gopher min-words edge
        (17, words49, "en", "books"),               # just below the edge
        (18, longdoc, "de", "cc"),                  # repeated-span doc
        (19, "email john@example.com phone 555-123-4567 ok", "en", "web"),
        (20, "hello  world", "en", "web"),          # double space -> "" token
        (21, "hello world ", "en", "web"),          # trailing space
        (22, "hello\tworld together", "en", "web"),  # tab is NOT a split char
        (23, dup, None, "web"),                     # second NULL-lang dup
        # NULL text (not comparable content): excluded from dedup
        # candidacy and token budgeting by contract; snapshot_diff must
        # classify presence from the join keys, not the NULL hash
        (24, None, "en", "web"),
        (25, None, None, None),                     # NULL everything
    ]


@pytest.fixture(scope="module")
def hostile_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("hostile_sf")
    rows = _docs_rows()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "n_chars": pa.array(
                    [None if r[1] is None else len(r[1]) for r in rows],
                    pa.int64(),
                ),
            }
        ),
        str(d / "documents.parquet"),
    )
    vecs = [_vec(i) for i in range(22)]
    vecs.append([0.0] * EMB_DIM)   # vec_id 22: zero-norm, NULL label
    vecs.append(_vec(5))           # vec_id 23: exact dup of vec 5
    vecs.append([0.0] * EMB_DIM)   # vec_id 24: zero-norm WITH a label
    labels: list[int | None] = [i % 4 for i in range(22)] + [None, 1, 2]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(list(range(25)), pa.int64()),
                "embedding": pa.array(
                    vecs, pa.list_(pa.float32())
                ),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    return str(d)


def _ts(s: str | None):
    return None if s is None else datetime.fromisoformat(s)


def _events_rows():
    """(event_id, ts, user_id, event_type, value, props) — every row is a
    trap for some engine-semantics difference:

    - NULL user_id (window PARTITION BY null group; equi-joins drop it;
      row_number tie-break ordering of a NULL key),
    - NULL ts (time-ordered operators: Spark sorts NULLS FIRST asc, DuckDB
      NULLS LAST — the repo convention excludes untimestamped rows from
      time-ordered operators, mirrored in the oracles),
    - NULL / empty / malformed / non-object / non-integer-k props,
    - NULL values incl. an event_type whose values are ALL NULL,
    - exact (user_id, ts) duplicate events (as-of tie groups),
    - total_value ties straddling the top-k rank cutoff with a NULL
      user_id in the tie,
    - a funnel click at the same timestamp as the first view (strict >),
    - single-event users / types, microsecond-adjacent timestamps.
    """
    return [
        (0, _ts("2024-03-01 00:00:00"), 1, "view", 10.0, '{"k": 1}'),
        (1, _ts("2024-03-01 00:30:00"), 1, "click", 5.5, '{"k": 2}'),
        (2, _ts("2024-03-01 01:00:00"), 1, "purchase", 99.99, '{"k": 3}'),
        # 8 h gap -> new session for user 1
        (3, _ts("2024-03-01 09:00:00"), 1, "view", 1.0, "{}"),
        (4, _ts("2024-03-01 09:00:00"), 1, "click", 2.0, None),
        # user 2: click BEFORE first view; click at the same ts as the view
        (5, _ts("2024-03-01 00:10:00"), 2, "click", 7.0, "{bad json"),
        (6, _ts("2024-03-01 00:20:00"), 2, "view", 3.0, '{"k": null}'),
        (7, _ts("2024-03-01 00:20:00"), 2, "click", 4.0, '{"j": 9}'),
        (8, _ts("2024-03-01 00:25:00"), 2, "click", None, '{"k": -5}'),
        # user 3: all 'error' values NULL; click strictly after two errors
        (9, _ts("2024-03-02 00:00:00"), 3, "error", None, None),
        (10, _ts("2024-03-02 00:01:00"), 3, "error", None, '{"k": 0}'),
        (11, _ts("2024-03-02 00:02:00"), 3, "click", 8.0, '{"k": 87}'),
        (12, _ts("2024-03-02 00:03:00"), 3, "error", None, '{"k": 1}'),
        # NULL user_id rows (one of them in the click top-k tie below)
        (13, _ts("2024-03-01 05:00:00"), None, "view", 2.5, '{"k": 4}'),
        (14, _ts("2024-03-01 05:30:00"), None, "click", 2.5, '{"k": 4}'),
        # NULL ts (excluded from time-ordered operators by convention)
        (15, None, 4, "view", 6.0, '{"k": 7}'),
        (16, _ts("2024-03-01 06:00:00"), 4, "view", 6.0, '{"k": 7}'),
        # exact (user_id, ts) duplicate clicks: as-of tie group
        (17, _ts("2024-03-01 06:00:00"), 4, "click", 1.25, '{"k": 2.7}'),
        (18, _ts("2024-03-01 06:00:00"), 4, "click", 1.75, '{"k": "x"}'),
        # user 5: empty-string and non-object props; NULL event_type rows
        (19, _ts("2024-03-02 10:00:00"), 5, "signup", 0.0, ""),
        (20, _ts("2024-03-02 10:00:00"), 5, "signup", 0.0, "[]"),
        (21, _ts("2024-03-02 10:05:00"), 5, None, -3.5, '{"k": 1}'),
        (22, _ts("2024-03-02 10:06:00"), 5, None, -3.5, '{"k": 1}'),
        # user 6: purchase with no view/click; microsecond-adjacent view
        (23, _ts("2024-03-03 00:00:00"), 6, "purchase", 42.0, '{"k": 100}'),
        (24, _ts("2024-03-03 00:00:00.000001"), 6, "view", 42.0, '{"k": 100}'),
        # user 7 ties user 5's signup total (0.0) -> rank tie-break
        (25, _ts("2024-03-02 11:00:00"), 7, "signup", 0.0, None),
        (26, _ts("2024-03-02 11:00:00"), 7, "signup", None, None),
        # one non-NULL 'error' value so that type mixes NULL/non-NULL totals
        (27, _ts("2024-03-02 12:00:00"), 8, "error", 5.0, '{"k": 3}'),
        # user 9 ties the NULL-user click total (2.5) EXACTLY at the k=5
        # rank cutoff for 'click' (6 click groups) -> NULL-key ordering
        (28, _ts("2024-03-01 07:00:00"), 9, "click", 2.5, '{"k": 11}'),
        # 'refund': single-row type whose only value is NULL
        (29, _ts("2024-03-03 01:00:00"), 10, "refund", None, None),
        # NULL-ts error AND click for a user who has real matches: the
        # as-of convention excludes both (a null-ts click would become a
        # running "last seen" in Spark's union-tag window but never match
        # DuckDB's ASOF l.ts >= r.ts)
        (30, None, 3, "error", None, None),
        (31, None, 3, "click", 1.0, None),
        # ---- round-5 retention/EWMA edges (VERDICT r4 item #5) ----
        # gap-week returner: cohort of Mon Mar 4, active again Mar 18 but
        # NOT Mar 11 -> the (cohort, offset=1) cell must be ABSENT while
        # offset=2 exists (sparse-offset shape)
        (32, _ts("2024-03-04 10:00:00"), 11, "view", 1.0, None),
        (33, _ts("2024-03-18 10:00:00"), 11, "view", 1.0, None),
        # same-cohort member who never returns (retention denominator
        # counts them; no row of theirs past offset 0)
        (34, _ts("2024-03-05 09:00:00"), 12, "view", 1.0, None),
        # ISO-year-boundary cohort: week of Mon 2024-12-30 spans the new
        # year; the next week starts 2025-01-06 -> datediff/7 must still
        # be exactly 1 across the year flip on both engines
        (35, _ts("2024-12-30 00:00:00"), 13, "view", 1.0, None),
        (36, _ts("2025-01-06 23:59:59"), 13, "view", 1.0, None),
        # EWMA single-bucket series: one bucket -> ewma == count, never a
        # spike (no forecast exists)
        (37, _ts("2024-03-04 00:10:00"), 21, "ping", 1.0, None),
        # EWMA genuine spike: hour A count 1, hour B count 3 -> 3 > 2*1
        # (the clean corpus never produced an is_spike=true row). Users
        # 21-24 are fresh ids so these rows don't perturb the retention
        # cohorts above (they form their own Mar-4 cohort).
        (38, _ts("2024-03-04 01:00:00"), 21, "burst", 1.0, None),
        (39, _ts("2024-03-04 02:00:00"), 22, "burst", 1.0, None),
        (40, _ts("2024-03-04 02:20:00"), 22, "burst", 1.0, None),
        (41, _ts("2024-03-04 02:40:00"), 23, "burst", 1.0, None),
        # EWMA strict-> boundary: hour A count 2, hour B count 4 -> 4 is
        # exactly spike_factor*ewma and must NOT flag (strict comparison,
        # exact in IEEE: all quantities are small integers)
        (42, _ts("2024-03-04 03:00:00"), 21, "edge", 1.0, None),
        (43, _ts("2024-03-04 03:30:00"), 22, "edge", 1.0, None),
        (44, _ts("2024-03-04 04:00:00"), 21, "edge", 1.0, None),
        (45, _ts("2024-03-04 04:15:00"), 22, "edge", 1.0, None),
        (46, _ts("2024-03-04 04:30:00"), 23, "edge", 1.0, None),
        (47, _ts("2024-03-04 04:45:00"), 24, "edge", 1.0, None),
    ]


@pytest.fixture(scope="module")
def hostile_events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("hostile_events_sf")
    rows = _events_rows()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows], pa.string()),
            }
        ),
        str(d / "events.parquet"),
    )
    return str(d)


def _doc_emb_queries():
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    picked = []
    for name, sql in oracles.items():
        if (
            name in queries
            and name not in _SCALE_CONTRACT
            and not _OTHER_TABLES.search(sql)
        ):
            picked.append(name)
    return picked


def test_fixture_selects_a_real_slice():
    names = _doc_emb_queries()
    # the documents/embeddings families are most of the data-ops registry;
    # a too-small selection means the table-name filter regressed
    assert len(names) >= 35, names


def _cross_engine_failures(spark, fixture_dir, tables, names):
    """Run each named query on Spark and its oracle on DuckDB over the
    fixture dir; return mismatch descriptions."""
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = connect(fixture_dir, tables)
    failures = []
    for name in names:
        try:
            sdf = queries[name](spark, fixture_dir)
            bad = mismatch(sdf.columns, sdf.collect(), con, oracles[name])
        except Exception as e:  # noqa: BLE001
            bad = f"spark error: {e}"
        if bad:
            failures.append(f"{name}: {bad}")
    return failures


def test_hostile_corpus_cross_engine(spark, hostile_dir):
    failures = _cross_engine_failures(
        spark, hostile_dir, ("documents", "embeddings"), _doc_emb_queries()
    )
    assert not failures, "\n".join(failures)


def _events_only_queries():
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    return [
        name
        for name, sql in oracles.items()
        if name in queries
        and name not in _SCALE_CONTRACT
        and re.search(r"\bevents\b", sql, re.IGNORECASE)
        and not _NOT_EVENTS_ONLY.search(sql)
    ]


def test_events_fixture_selects_a_real_slice():
    names = _events_only_queries()
    assert len(names) >= 10, names


def test_hostile_events_cross_engine(spark, hostile_events_dir):
    failures = _cross_engine_failures(
        spark, hostile_events_dir, ("events",), _events_only_queries()
    )
    assert not failures, "\n".join(failures)


def test_retention_and_ewma_edges_actually_fire(spark, hostile_events_dir):
    """The round-5 edge rows must EXERCISE their target shapes (else the
    cross-engine agreement above is vacuous for them): a sparse offset in
    retention (offset 1 absent while 2 exists), a year-boundary offset of
    exactly 1, an is_spike=true bucket, and the strict-> boundary bucket
    staying unflagged."""
    from datetime import date

    queries = entrymod.queries()
    ret = {
        (r.cohort_week, r.week_offset): (r.n_active, r.cohort_size)
        for r in queries["retention_cohorts"](spark, hostile_events_dir).collect()
    }
    mar4 = date(2024, 3, 4)
    # users 11, 12 + the four fresh EWMA users 21-24 share the Mar-4 cohort
    assert (mar4, 0) in ret and ret[(mar4, 0)][1] == 6
    assert (mar4, 1) not in ret, "gap week must produce NO cell"
    assert (mar4, 2) in ret and ret[(mar4, 2)][0] == 1  # user 11 returns
    dec30 = date(2024, 12, 30)
    assert ret[(dec30, 1)] == (1, 1), "year-boundary week diff must be 1"

    ew = {
        (r.event_type, r.hour.hour): (r.n_events, r.ewma, r.is_spike)
        for r in queries["ewma_traffic"](spark, hostile_events_dir).collect()
        if r.event_type in ("ping", "burst", "edge")
    }
    assert ew[("ping", 0)] == (1, 1.0, False)  # single bucket: never spike
    assert ew[("burst", 1)][2] is False and ew[("burst", 2)] == (3, 1.5, True)
    assert ew[("edge", 3)][2] is False
    assert ew[("edge", 4)] == (4, 2.5, False), "4 == 2*2 must NOT flag"


# --------------------------------------------------------------------------
# Hostile TPC-H fixture (round 5): the relational family's analog of the
# documents/embeddings/events gates above. The driver's testdata generator
# emits clean, well-distributed TPC-H-ish tables; this fixture keeps the
# schema contract (keys NOT NULL, FKs valid) but plants the edges clean
# data rarely hits, then runs EVERY registered query whose oracle reads
# only these seven tables on both engines. Every planted edge below is
# re-derived against the constants in queries_tpch.py and asserted
# NON-VACUOUS in test_hostile_tpch_edges_are_not_vacuous — engine
# agreement on an empty result proves nothing, so an edge that stops
# firing fails the suite rather than silently hollowing the gate.
#
# The gate itself never predicts outputs — it asserts ENGINE AGREEMENT,
# the same property the driver checks on clean data.

_TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem"
)


def _tpch_hostile_rows():
    from datetime import datetime as _dt

    def d(s):
        return _dt.fromisoformat(s)

    region = [(i, n) for i, n in enumerate(
        ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])]
    nation = [(i, f"NATION_{i}", i % 5) for i in range(25)]

    # (custkey, name, nationkey, acctbal, mktsegment)
    customer = [
        (1, "cust_building_a", 2, 100.0, "BUILDING"),
        (2, "cust_building_tie", 2, 200.0, "BUILDING"),
        (3, "cust_no_orders", 3, 500.0, "MACHINERY"),      # Q13 c_count=0
        (4, "cust_neg_bal", 3, -50.0, "MACHINERY"),        # Q22 avg excl
        (5, "cust_zero_bal", 3, 0.0, "AUTOMOBILE"),        # > 0.0 boundary
        (6, "cust_no_supp_nation", 20, 300.0, "HOUSEHOLD"),
        (7, "cust_urgent_only", 1, 400.0, "FURNITURE"),    # Q13 exclusion
        (8, "cust_america", 1, 250.0, "HOUSEHOLD"),        # Q7/Q8/Q10 paths
        (9, "cust_asia", 7, 125.0, "BUILDING"),            # Q5 ASIA path
        (10, "cust_rich_no_recent", 8, 9000.0, "MACHINERY"),  # Q22 counted
    ]
    # (suppkey, name, nationkey, acctbal)
    supplier = [
        (1, "supp_eu_tie_a", 3, 10.0),   # EUROPE; Q2 cost tie + Q20 dominant
        (2, "supp_eu_tie_b", 8, 20.0),   # EUROPE; Q2 tie + Q20 minority
        (3, "supp_asia_late_sole", 2, 30.0),   # ASIA + NATION_2 (Q7, Q21)
        (4, "supp_asia_late_pair", 7, 40.0),   # ASIA; nation 7 (Q5 match)
        (5, "supp_asia_peer", 12, 50.0),       # ASIA; Q21 peer
        (6, "supp_america", 1, 60.0),
        (7, "supp_q8_exporter", 3, 70.0),      # NATION_3: Q8 numerator side
        (8, "supp_gear", 4, 80.0),             # Q9 'gear' profit
        (9, "supp_q15_tie_a", 6, 90.0),
        (10, "supp_q15_tie_b", 11, 95.0),
        (11, "supp_blacklisted", 5, -25.0),    # Q16 NOT-IN blacklist AND
        #                                      # NATION_5 (Q11's nation)
    ]
    # (partkey, name, brand, type, size, retailprice)
    # Q19_BRANCHES: (Brand#1, size 1-10, qty 1-15), (Brand#2, size 11-25,
    # qty 10-25), (Brand#3, size 26-40, qty 20-35)
    part = [
        (1, "large bolt", "Brand#1", "LARGE", 15, 100.0),   # Q2 size<=15 edge
        (2, "red bolt", "Brand#2", "STANDARD", 9, 50.0),    # Q20 prefix,
        #                                     # Q16 size 9, Q11 inventory
        (3, "small gear", "Brand#3", "MEDIUM", 17, 75.0),   # Q9 fragment
        (4, "large gear", "Brand#4", "LARGE", 16, 80.0),    # Q2 size>15 excl
        (5, "promo widget", "Brand#5", "PROMO", 1, 25.0),   # Q16 both excls
        (6, "q19 b1 part", "Brand#1", "SMALL", 10, 10.0),   # Q19 b1 size-hi
        (7, "q19 b2 part", "Brand#2", "MEDIUM", 11, 20.0),  # Q19 b2 size-lo
        (8, "q17 avg part", "Brand#3", "ECONOMY", 33, 30.0),  # Q17 boundary
        (9, "plain rod", "Brand#6", "STANDARD", 41, 40.0),
        (10, "standard eu", "Brand#7", "STANDARD", 49, 60.0),  # Q8 type
    ]
    # (orderkey, custkey, status, totalprice, orderdate, priority)
    orders = [
        (1, 1, "O", 1000.0, d("1999-03-14"), "3-MEDIUM"),   # Q3 < edge-1
        (2, 2, "O", 1000.0, d("1999-03-14"), "3-MEDIUM"),   # Q3 revenue tie
        (3, 1, "O", 500.0, d("1999-03-15"), "5-LOW"),       # Q3 == boundary
        (4, 7, "O", 100.0, d("1996-02-01"), "1-URGENT"),    # Q13-excluded
        #                             # priority AND zero lineitems
        (5, 8, "F", 800.0, d("1996-05-01"), "2-HIGH"),      # Q10 returns,
        #                             # Q7 cross-nation, Q17 lines
        (6, 9, "F", 900.0, d("1996-06-01"), "4-NOT SPECIFIED"),  # Q5/Q6
        (7, 1, "F", 0.0, d("1996-01-01"), "5-LOW"),         # ZERO lineitems
        (8, 2, "F", 700.0, d("1996-12-31"), "3-MEDIUM"),    # Q9 year edge
        (9, 2, "F", 700.0, d("1997-01-01"), "3-MEDIUM"),    # Q9 year edge,
        #                             # carries the Q20 1997-window lines
        (10, 8, "F", 600.0, d("1996-02-15"), "2-HIGH"),     # Q4 lag edges
        #                             # (leap Feb: +75 = Apr 30)
        (11, 9, "F", 650.0, d("1996-03-01"), "1-URGENT"),   # Q21 sole-late
        (12, 9, "F", 660.0, d("1996-03-02"), "2-HIGH"),     # Q21 pair-late
        (13, 1, "O", 5000.0, d("1996-09-15"), "3-MEDIUM"),  # Q18: EXACTLY
        #                             # 250 total qty (strict > excludes)
        (14, 10, "O", 120.0, d("1996-11-01"), "5-LOW"),     # old order (Q22
        #                             # still counts cust 10)
        (15, 5, "O", 80.0, d("1996-04-01"), "4-NOT SPECIFIED"),  # Q4 == TO
        (16, 1, "O", 900.0, d("1996-09-10"), "3-MEDIUM"),   # Q14/Q19/Q16
        #                             # September window lines
        (17, 2, "O", 3000.0, d("1996-08-01"), "2-HIGH"),    # Q18 above-
        #                             # threshold order (300)
        (18, 8, "F", 400.0, d("1996-12-31"), "3-MEDIUM"),   # Q8 1996 side
        (19, 8, "F", 410.0, d("1997-01-01"), "3-MEDIUM"),   # Q8 1997 side
        (20, 1, "F", 1100.0, d("1996-02-01"), "5-LOW"),     # Q15 tie lines
    ]
    # (orderkey, partkey, suppkey, linenumber, qty, extprice, disc, tax,
    #  returnflag, linestatus, shipdate)
    lineitem = [
        # Q3 revenue tie pair (same revenue on orders 1 and 2), ship > edge
        (1, 9, 6, 1, 4.0, 400.0, 0.0, 0.0, "N", "O", d("1999-03-16")),
        (2, 9, 6, 1, 4.0, 400.0, 0.0, 0.0, "N", "O", d("1999-03-16")),
        # Q3 boundary: shipdate exactly Q3_SHIP_AFTER (strict > excludes)
        (3, 9, 6, 1, 2.0, 200.0, 0.0, 0.0, "N", "O", d("1998-03-15")),
        # Q1 cutoff: one line exactly AT 2001-09-01 (<= includes), one after
        (1, 9, 6, 2, 1.0, 100.0, 0.25, 0.0, "A", "F", d("2001-09-01")),
        (2, 9, 6, 2, 1.0, 100.0, 0.25, 0.0, "R", "F", d("2001-09-02")),
        # Q6 [0.02, 0.04] x qty<25 x 1996: lo-disc at qty bound 25
        # (excluded by strict <), lo-disc at 24 (in), hi-disc 0.04 at
        # qty 10 (in — probes the INCLUSIVE hi endpoint), 0.05 (out)
        (6, 9, 3, 1, 24.0, 240.0, 0.02, 0.0, "N", "O", d("1996-05-01")),
        (6, 9, 3, 2, 25.0, 250.0, 0.02, 0.0, "N", "O", d("1996-05-02")),
        (6, 9, 3, 3, 10.0, 100.0, 0.04, 0.0, "N", "O", d("1996-05-03")),
        (6, 9, 3, 4, 10.0, 100.0, 0.05, 0.0, "N", "O", d("1996-05-04")),
        # Q5 match: supplier nation == customer nation (supp 4, nation 7)
        (6, 9, 4, 5, 2.0, 80.0, 0.0, 0.0, "N", "O", d("1996-06-05")),
        # Q4: order 10 (1996-02-15, leap Feb): ship +75d = Apr 30 exactly
        # (strict > excludes) and +76d = May 1 (the slow line)
        (10, 9, 6, 1, 1.0, 50.0, 0.0, 0.0, "N", "F", d("1996-04-30")),
        (10, 9, 6, 2, 1.0, 50.0, 0.0, 0.0, "N", "F", d("1996-05-01")),
        # Q4 window boundary: order 15 sits exactly AT Q4_DATE_TO
        # (excluded from the window) with a slow line
        (15, 9, 6, 1, 1.0, 50.0, 0.0, 0.0, "N", "F", d("1996-06-16")),
        # Q21 (late = lag > 60): order 11 (Mar 1): supp 3 at +61 (late),
        # supp 5 at EXACTLY +60 (Apr 30 — not late; probes the strict >
        # inside the kept case) -> supp 3 kept, numwait 1.
        (11, 9, 3, 1, 1.0, 60.0, 0.0, 0.0, "N", "F", d("1996-05-01")),
        (11, 9, 5, 2, 1.0, 60.0, 0.0, 0.0, "N", "F", d("1996-04-30")),
        # order 12 (Mar 2): supp 4 AND supp 5 both late -> both killed
        (12, 9, 4, 1, 1.0, 60.0, 0.0, 0.0, "N", "F", d("1996-05-02")),
        (12, 9, 5, 2, 1.0, 60.0, 0.0, 0.0, "N", "F", d("1996-05-03")),
        # Q18: order 13 = EXACTLY 250 total qty (strict > excludes);
        # order 17 = 300 (included)
        (13, 5, 6, 1, 125.0, 1250.0, 0.0, 0.0, "N", "O", d("1996-09-20")),
        (13, 5, 6, 2, 125.0, 1250.0, 0.0, 0.0, "N", "O", d("1996-09-21")),
        (17, 9, 6, 1, 150.0, 1500.0, 0.0, 0.0, "N", "O", d("1996-08-02")),
        (17, 9, 6, 2, 150.0, 1500.0, 0.0, 0.0, "N", "O", d("1996-08-03")),
        # Q14 window (Sep 1996): PROMO part 5 and non-promo part 9
        (16, 5, 6, 1, 1.0, 25.0, 0.0, 0.0, "N", "O", d("1996-09-05")),
        (16, 9, 6, 2, 1.0, 40.0, 0.0, 0.0, "N", "O", d("1996-09-06")),
        # Q19 branch edges (branch 1: Brand#1 size<=10 qty<=15; branch 2:
        # Brand#2 size>=11 qty>=10): part 6 qty 15 N = b1 MATCH at both hi
        # bounds; same shape flag R = excluded; qty 16 = qty-excluded;
        # part 7 qty 10 N = b2 MATCH at both lo bounds; qty 9 = excluded
        (16, 6, 6, 3, 15.0, 100.0, 0.25, 0.0, "N", "O", d("1996-09-07")),
        (16, 6, 6, 4, 15.0, 100.0, 0.25, 0.0, "R", "O", d("1996-09-08")),
        (16, 6, 6, 5, 16.0, 100.0, 0.25, 0.0, "N", "O", d("1996-09-09")),
        (16, 7, 6, 6, 10.0, 220.0, 0.0, 0.0, "N", "O", d("1996-09-10")),
        (16, 7, 6, 7, 9.0, 180.0, 0.0, 0.0, "N", "O", d("1996-09-11")),
        # Q16: blacklisted supp 11 supplies qualifying part 2 (its pair
        # must be ANTI-JOINED away: (Brand#2, STANDARD, 9) counts 2, not
        # 3). Also part 2's only NATION_5-supplied inventory for Q11.
        (16, 2, 11, 8, 1.0, 50.0, 0.0, 0.0, "N", "O", d("1996-09-12")),
        # Q10: returned line for customer 8 inside the window
        (5, 9, 6, 1, 2.0, 300.0, 0.25, 0.0, "R", "F", d("1996-05-10")),
        # Q7: AMERICA cust 8 x NATION_2 supplier 3 (cross-nation trade)
        (5, 9, 3, 9, 1.0, 70.0, 0.0, 0.0, "N", "F", d("1996-05-15")),
        # Q2/Q20: EU suppliers 1 and 2 both supply part 1 (LARGE, size 15)
        (8, 1, 1, 1, 3.0, 120.0, 0.0, 0.0, "N", "F", d("1996-12-31")),
        (9, 1, 2, 1, 3.0, 120.0, 0.0, 0.0, "N", "F", d("1997-01-01")),
        # Q20 dominance in the 1997 window over 'red'-prefixed part 2:
        # supp 1 ships 6 of 9 (share 2/3 > 0.5, dominant), supp 2 ships
        # 3 of 9 (minority)
        (9, 2, 1, 3, 6.0, 300.0, 0.0, 0.0, "N", "F", d("1997-03-01")),
        (9, 2, 2, 4, 3.0, 150.0, 0.0, 0.0, "N", "F", d("1997-03-02")),
        # Q9: gear parts via supp 8, lines spanning the year boundary
        (8, 3, 8, 2, 2.0, 150.0, 0.0, 0.0, "N", "F", d("1996-12-31")),
        (9, 4, 8, 2, 2.0, 160.0, 0.0, 0.0, "N", "F", d("1997-01-01")),
        # Q8: NATION_3 supp 7 ships STANDARD part 10 to AMERICA cust 8 in
        # both years; NATION_1 supp 6 adds 1996 denominator volume
        (18, 10, 7, 1, 2.0, 200.0, 0.0, 0.0, "N", "F", d("1996-12-30")),
        (18, 9, 6, 2, 2.0, 200.0, 0.0, 0.0, "N", "F", d("1996-12-30")),
        (19, 10, 7, 1, 2.0, 200.0, 0.0, 0.0, "N", "F", d("1997-01-02")),
        # Q17 (Brand#3 part 8): qty {0.5, 1, 2, 16.5} -> avg 5.0,
        # threshold 0.2*5 = 1.0: the 0.5 line is INCLUDED (strict <),
        # the 1.0 line sits EXACTLY at the threshold (excluded)
        (5, 8, 6, 3, 0.5, 15.0, 0.0, 0.0, "N", "F", d("1996-05-11")),
        (5, 8, 6, 4, 1.0, 30.0, 0.0, 0.0, "N", "F", d("1996-05-12")),
        (6, 8, 6, 6, 2.0, 60.0, 0.0, 0.0, "N", "O", d("1996-05-13")),
        (6, 8, 6, 7, 16.5, 495.0, 0.0, 0.0, "N", "O", d("1996-05-14")),
        # Q15 tie: supp 9 and 10 identical revenue in the 1996-Q1 window
        # (order 20 — order 7 stays genuinely lineitem-free)
        (20, 9, 9, 1, 2.0, 500.0, 0.0, 0.0, "N", "F", d("1996-02-01")),
        (20, 9, 10, 2, 2.0, 500.0, 0.0, 0.0, "N", "F", d("1996-02-02")),
        # degenerate lines: zero quantity; discount 1.0 (revenue zero)
        (14, 9, 6, 1, 0.0, 0.0, 0.0, 0.0, "N", "O", d("1996-11-02")),
        (14, 9, 6, 2, 5.0, 500.0, 1.0, 0.25, "N", "O", d("1996-11-03")),
    ]
    return region, nation, customer, supplier, part, orders, lineitem


@pytest.fixture(scope="module")
def hostile_tpch_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("hostile_tpch_sf")
    region, nation, customer, supplier, part, orders, lineitem = (
        _tpch_hostile_rows()
    )

    def w(name, cols):
        pq.write_table(pa.table(cols), str(d / f"{name}.parquet"))

    w("region", {
        "r_regionkey": pa.array([r[0] for r in region], pa.int32()),
        "r_name": pa.array([r[1] for r in region], pa.string()),
    })
    w("nation", {
        "n_nationkey": pa.array([r[0] for r in nation], pa.int32()),
        "n_name": pa.array([r[1] for r in nation], pa.string()),
        "n_regionkey": pa.array([r[2] for r in nation], pa.int32()),
    })
    w("customer", {
        "c_custkey": pa.array([r[0] for r in customer], pa.int64()),
        "c_name": pa.array([r[1] for r in customer], pa.string()),
        "c_nationkey": pa.array([r[2] for r in customer], pa.int32()),
        "c_acctbal": pa.array([r[3] for r in customer], pa.float64()),
        "c_mktsegment": pa.array([r[4] for r in customer], pa.string()),
    })
    w("supplier", {
        "s_suppkey": pa.array([r[0] for r in supplier], pa.int64()),
        "s_name": pa.array([r[1] for r in supplier], pa.string()),
        "s_nationkey": pa.array([r[2] for r in supplier], pa.int32()),
        "s_acctbal": pa.array([r[3] for r in supplier], pa.float64()),
    })
    w("part", {
        "p_partkey": pa.array([r[0] for r in part], pa.int64()),
        "p_name": pa.array([r[1] for r in part], pa.string()),
        "p_brand": pa.array([r[2] for r in part], pa.string()),
        "p_type": pa.array([r[3] for r in part], pa.string()),
        "p_size": pa.array([r[4] for r in part], pa.int32()),
        "p_retailprice": pa.array([r[5] for r in part], pa.float64()),
    })
    w("orders", {
        "o_orderkey": pa.array([r[0] for r in orders], pa.int64()),
        "o_custkey": pa.array([r[1] for r in orders], pa.int64()),
        "o_orderstatus": pa.array([r[2] for r in orders], pa.string()),
        "o_totalprice": pa.array([r[3] for r in orders], pa.float64()),
        "o_orderdate": pa.array([r[4] for r in orders], pa.timestamp("us")),
        "o_orderpriority": pa.array([r[5] for r in orders], pa.string()),
    })
    w("lineitem", {
        "l_orderkey": pa.array([r[0] for r in lineitem], pa.int64()),
        "l_partkey": pa.array([r[1] for r in lineitem], pa.int64()),
        "l_suppkey": pa.array([r[2] for r in lineitem], pa.int64()),
        "l_linenumber": pa.array([r[3] for r in lineitem], pa.int32()),
        "l_quantity": pa.array([r[4] for r in lineitem], pa.float64()),
        "l_extendedprice": pa.array([r[5] for r in lineitem], pa.float64()),
        "l_discount": pa.array([r[6] for r in lineitem], pa.float64()),
        "l_tax": pa.array([r[7] for r in lineitem], pa.float64()),
        "l_returnflag": pa.array([r[8] for r in lineitem], pa.string()),
        "l_linestatus": pa.array([r[9] for r in lineitem], pa.string()),
        "l_shipdate": pa.array(
            [r[10] for r in lineitem], pa.timestamp("us")
        ),
    })
    return str(d)


def _tpch_only_queries():
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    other = re.compile(r"\b(documents|embeddings|events)\b", re.IGNORECASE)
    tpch = re.compile(
        r"\b(region|nation|customer|supplier|part|orders|lineitem)\b",
        re.IGNORECASE,
    )
    return [
        name
        for name, sql in oracles.items()
        if name in queries
        and name not in _SCALE_CONTRACT
        and tpch.search(sql)
        and not other.search(sql)
    ]


def test_tpch_fixture_selects_a_real_slice():
    names = _tpch_only_queries()
    assert len(names) >= 22, names  # the 22 registered TPC-H shapes


def test_hostile_tpch_cross_engine(spark, hostile_tpch_dir):
    failures = _cross_engine_failures(
        spark, hostile_tpch_dir, _TPCH_TABLES, _tpch_only_queries()
    )
    assert not failures, "\n".join(failures)


def test_hostile_tpch_edges_are_not_vacuous(spark, hostile_tpch_dir):
    """Every planted edge must actually FIRE — an edge that matches zero
    rows turns the cross-engine agreement above into agreement-on-empty,
    which proves nothing about the predicate/join path it targets."""
    queries = entrymod.queries()

    def rows(name):
        return queries[name](spark, hostile_tpch_dir).collect()

    assert len(rows("tpch_pricing_summary")) >= 2      # A/R/N groups
    assert len(rows("tpch_shipping_priority")) >= 2    # the revenue tie
    assert len(rows("tpch_customer_distribution")) >= 2  # incl. 0-count bin

    # Q5: exactly the supp-4/cust-9 same-nation line
    q5 = rows("tpch_local_supplier_volume")
    assert [r.n_name for r in q5] == ["NATION_7"]

    # Q6: the 24@0.02 and 10@0.04 lines only (inclusive hi endpoint
    # probed by the 0.04 row; 25-qty and 0.05-disc rows excluded)
    q6 = rows("tpch_forecast_revenue")
    assert q6[0].n_items == 2 and q6[0].revenue > 0

    # Q7: the cross-nation (NATION_1 cust x NATION_2 supp) trade line
    assert len(rows("tpch_volume_shipping")) >= 1

    # Q8: two year groups with a real NATION_3 numerator; 1996 also has
    # competing volume so the share is strictly inside (0, 1)
    q8 = {r.o_year: r.mkt_share for r in rows("tpch_market_share")}
    assert set(q8) == {1996, 1997}
    assert 0 < q8[1996] < 1 and q8[1997] > 0

    # Q9: gear profit rows on both sides of the year boundary
    assert len(rows("tpch_product_profit")) >= 2

    # Q11: NATION_5's only inventory is the blacklist supplier's part 2
    q11 = rows("tpch_important_parts")
    assert [r.l_partkey for r in q11] == [2]

    # Q16: the blacklisted supplier's pair is anti-joined away — part 2
    # counts suppliers {1, 2}, NOT {1, 2, 11}
    q16 = {
        (r.p_brand, r.p_type, r.p_size): r.supplier_cnt
        for r in rows("tpch_parts_suppliers")
    }
    assert q16[("Brand#2", "STANDARD", 9)] == 2

    # Q17: exactly the 0.5-qty line (the 1.0-qty line sits AT the
    # 0.2*avg threshold and the strict < must exclude it)
    q17 = rows("tpch_small_qty_revenue")
    assert q17[0].n_lines == 1

    # Q18: the exactly-250 order is excluded (strict >), the 300 order
    # is the single surviving row
    q18 = rows("tpch_large_volume_customers")
    assert len(q18) == 1 and q18[0].o_orderkey == 17

    # Q15: the max-revenue TIE yields both suppliers
    assert sorted(r.s_suppkey for r in rows("tpch_top_supplier")) == [9, 10]

    # Q19: both branch-edge matches (hi bounds of b1, lo bounds of b2);
    # the R-flag, qty-16, and qty-9 variants are excluded
    q19 = rows("tpch_discounted_revenue")
    assert q19[0].n_lines == 2 and q19[0].revenue > 0

    # Q20: supplier 1 dominates the red part's 1997 volume (6 of 9);
    # supplier 2's 3 of 9 is a minority
    assert [r.s_suppkey for r in rows("tpch_dominant_suppliers")] == [1]

    # Q21: sole-late supplier kept, pair-late pair killed, the
    # exactly-60-day lag not late
    q21 = rows("tpch_waiting_suppliers")
    assert [(r.s_suppkey, r.numwait) for r in q21] == [(3, 1)]

    # Q2: the min-cost TIE for part 1 keeps both EU suppliers
    assert len(rows("tpch_min_cost_supplier")) >= 2

    # Q22: the rich-no-recent-orders customer is counted
    assert len(rows("tpch_no_recent_orders")) >= 1
