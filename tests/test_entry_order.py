"""Pin the driver-window rotation in __spark_entry__.

The round driver verifies only the first ~50 entries of ``queries()``,
so ordering IS the correctness-coverage policy: red rows retry first,
never-attempted entries fill the window, past greens rotate to the
back.  (No Spark session needed — pure ordering.)
"""

from __future__ import annotations

import __spark_entry__ as entry_mod

WINDOW = 50


def test_order_is_permutation_of_catalog():
    from datafusion_randgen_spark.queries import ORACLES, QUERIES

    ordered = list(entry_mod.queries())
    assert sorted(ordered) == sorted(QUERIES)
    assert set(entry_mod.oracle_sql()) == set(ORACLES)


def test_red_rows_retry_first_and_greens_rotate_back():
    verified, attempted, _ = entry_mod._past_results()
    if not attempted:  # fresh checkout without CORRECTNESS files
        return
    ordered = list(entry_mod.queries())
    reds = attempted - verified
    for name in reds:
        assert ordered.index(name) < len(reds), f"red row {name} not at front"
    window = set(ordered[:WINDOW])
    unattempted = [n for n in ordered if n not in attempted]
    # greens only appear in the window once every unattempted entry fits
    greens_in_window = window & verified
    assert not greens_in_window or len(unattempted) + len(reds) < WINDOW

