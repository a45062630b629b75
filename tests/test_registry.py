"""Driver-contract registry invariants (no Spark session needed).

- the window is exactly the first 50 registry entries, no dups;
- an oracle-less in-window query must be one of the two sketch queries
  with a registered, oracle-paired ``*_check`` invariant wrapper.
"""

import __spark_entry__ as entry


def test_window_is_first_50_unique_registered():
    q = list(entry.queries().keys())
    w = entry._DRIVER_WINDOW
    assert len(w) == 50
    assert len(set(w)) == 50
    assert q[:50] == w


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
