"""Driver-contract registry invariants (no Spark session needed).

Guards the rotation policy the correctness gate depends on:
- the window is exactly the first 50 registry entries, no dups;
- every oracle-paired query's most recent driver row (counting the
  upcoming round as covering the current window) is at most
  MAX_STALE_ROUNDS old — the coverage-ledger assertion, run in CI so a
  window edit that strands a query fails the suite, not the next judge;
- the two deliberately oracle-less in-window sketch queries each have a
  registered, oracle-paired ``*_check`` invariant wrapper.
"""

import __spark_entry__ as entry
from tools.coverage_ledger import MAX_STALE_ROUNDS, build_ledger


def test_window_is_first_50_unique_registered():
    q = list(entry.queries().keys())
    w = entry._DRIVER_WINDOW
    assert len(w) == 50
    assert len(set(w)) == 50
    assert q[:50] == w


def test_ledger_no_freshness_violations():
    ledger = build_ledger()
    stale = [
        (v["query"], v["last_round"]) for v in ledger["violations"]
    ]
    assert not stale, (
        f"oracle-paired queries staler than {MAX_STALE_ROUNDS} rounds: "
        f"{stale} — rotate them into _DRIVER_WINDOW"
    )


def test_every_query_covered_after_upcoming_round():
    """No registered query is BOTH never-driver-checked and outside the
    upcoming window (i.e., after the upcoming round runs, every query has
    had a driver row in some round)."""
    ledger = build_ledger()
    assert ledger["n_never"] == 0


def test_oracle_less_window_entries_have_check_wrappers():
    oracles = set(entry.oracle_sql().keys())
    q = set(entry.queries().keys())
    pairs = {
        "approx_distinct_daily": "approx_distinct_check",
        "value_percentiles_approx": "percentiles_approx_check",
    }
    for name in entry._DRIVER_WINDOW:
        if name not in oracles:
            assert name in pairs, (
                f"in-window query {name} has no oracle and no documented "
                "check wrapper"
            )
            wrapper = pairs[name]
            assert wrapper in q and wrapper in oracles
