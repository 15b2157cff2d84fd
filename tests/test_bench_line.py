"""The bench's printed result line: ``fit_tail`` trims it to the
stdout tail budget in two stages without dropping the evidence
needed to judge a regression."""

from __future__ import annotations

import json

from bench import fit_tail


def _out(n_queries: int, n_steal: int) -> dict:
    return {
        "metric": "total_headline_sec",
        "unit": "sec",
        "steal_per_query": {f"s{i:02d}": 0.123 * (i + 1) for i in range(n_steal)},
        "queries": {f"query_{i:02d}": 1.234 for i in range(n_queries)},
        "value": 99.0,
    }


def test_line_within_budget_is_untouched():
    out = _out(3, 3)
    line, warnings = fit_tail(out, budget=1900)
    assert json.loads(line) == out and warnings == []


def test_stage_one_keeps_top_steal_entries_rounded():
    out = _out(20, 40)
    budget = len(json.dumps(_out(20, 5), separators=(",", ":"))) + 40
    line, warnings = fit_tail(out, budget=budget)
    got = json.loads(line)
    assert len(line) <= budget and len(warnings) == 1
    # the five most-polluted queries survive, rounded to 0.1 CPU-s
    assert got["steal_per_query"] == {
        "s39": 4.9, "s38": 4.8, "s37": 4.7, "s36": 4.6, "s35": 4.4,
    }
    assert got["steal_per_query_dropped"] == 35
    assert got["queries"] == out["queries"]


def test_stage_two_keeps_the_stage_one_marker():
    out = _out(200, 40)
    line, warnings = fit_tail(out, budget=600)
    got = json.loads(line)
    assert len(line) <= 600 and len(warnings) == 2
    assert "queries" not in got and got["queries_truncated_to_fit_tail"] == 200
    assert got["steal_per_query_dropped"] == 35
    assert len(got["steal_per_query"]) == 5
    assert got["value"] == 99.0
