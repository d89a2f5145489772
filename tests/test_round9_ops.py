"""Round-9 unit tests: the bench last-line budget (graph-kernel tests live in
tests/test_graph.py)."""

from __future__ import annotations

import json


# ---------------------------------------------------------------------------
# bench.py: the driver's stdout tail window is 2000 chars (measured across
# all eight committed BENCH_r{N}.json artifacts) and it parses the LAST line
# only — the summary line must always fit and must carry the oracle-checked
# query set first.
# ---------------------------------------------------------------------------
def test_summary_line_fits_driver_tail_window():
    import bench

    # worst case: 232 long-named entries with 4-digit-second values
    timings = {f"streaming_very_long_entry_name_{i:03d}": 1234.567 for i in range(232)}
    line = bench._summary_line(timings, 99999.9, 0.1, 3, "BENCH_LOCAL.json")
    assert len(line) <= bench._LAST_LINE_BUDGET
    d = json.loads(line)
    assert d["queries"]  # never empty
    assert d["queries_omitted_for_line_budget"] == len(timings) - len(d["queries"])
    assert d["n_queries"] == 232


def test_summary_line_prioritizes_declared_then_worst():
    import bench

    declared = bench._declared_query_names()
    assert len(declared) >= 50  # the committed CORRECTNESS artifacts exist
    timings = {n: 0.5 for n in declared}
    timings["zz_huge_entry"] = 99.0
    timings.update({f"filler_{i:03d}": 0.01 for i in range(300)})
    line = bench._summary_line(timings, 1.0, 0.1, 0, "x.json")
    d = json.loads(line)
    # every declared query present, and the worst undeclared entry too
    assert all(n in d["queries"] for n in declared if n in timings)
    assert "zz_huge_entry" in d["queries"]
    assert len(line) <= bench._LAST_LINE_BUDGET
