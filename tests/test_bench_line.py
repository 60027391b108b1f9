"""bench.py's final stdout line — the only one its caller parses —
carries the time-ranked per-query map within its character budget and
accounts for every query it leaves out. Spark-free."""

from __future__ import annotations

import json
import random


def test_final_line_fits_122_long_names_and_accounts_for_the_rest():
    import bench

    rng = random.Random(3)
    timings = {
        f"a_rather_long_operator_family_name_{i:03d}": round(
            rng.uniform(0.05, 9.0), 3
        )
        for i in range(122)
    }
    total = round(sum(timings.values()), 3)
    summary = {"metric": "headline_total", "value": total, "unit": "sec",
               "sf": 0.1, "n_queries": 122, "stream_overhead": 1.234}
    line = bench.final_line(summary, timings)
    assert "\n" not in line
    assert len(line) <= bench.FINAL_LINE_BUDGET
    rec = json.loads(line)
    assert {k: rec[k] for k in summary} == summary
    shown = rec["queries"]
    assert 0 < len(shown) < 122
    assert rec["n_omitted"] == 122 - len(shown)
    # the slowest queries are the ones shown
    slowest = sorted(timings, key=lambda n: -timings[n])[: len(shown)]
    assert set(shown) == set(slowest)
    # shown + omitted add up to the total, to rounding
    assert abs(sum(shown.values()) + rec["omitted_sum"] - total) <= (
        0.005 * (len(shown) + 1)
    )
    # filled greedily: one more ~45-char entry would not have fit
    assert len(line) > bench.FINAL_LINE_BUDGET - 50


def test_final_line_keeps_every_query_when_they_fit():
    import bench

    timings = {"q1": 1.234, "q2": 0.5}
    rec = json.loads(bench.final_line({"metric": "headline_total"}, timings))
    assert rec["queries"] == {"q1": 1.23, "q2": 0.5}
    assert rec["n_omitted"] == 0 and rec["omitted_sum"] == 0
