"""The bench's printed result line: ``fit_tail`` trims it to the
stdout tail budget in two stages without dropping the evidence
needed to judge a regression, and a query that raises is recorded in
the line instead of losing every other timing."""

from __future__ import annotations

import json
from types import SimpleNamespace

import pytest

import bench
from bench import fit_tail


def _out(n_queries: int, n_steal: int) -> dict:
    return {
        "metric": "total_headline_sec",
        "unit": "sec",
        "steal_per_query": {f"s{i:02d}": 0.123 * (i + 1) for i in range(n_steal)},
        "queries": {f"query_{i:02d}": 1.234 for i in range(n_queries)},
        "failed_queries": {"i01_replay_decode": "AnalysisException"},
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
    assert got["failed_queries"] == out["failed_queries"]
    assert got["value"] == 99.0


class _NoopFrame:
    """Stands in for a query's DataFrame: ``write.mode().format().save()``."""

    write = property(lambda self: self)

    def mode(self, _):
        return self

    def format(self, _):
        return self

    def save(self):
        pass


def _raise_path_not_found(spark, sf_dir):
    raise FileNotFoundError(f"{sf_dir}/sample_kafka_event.json")


_FAKE_SPARK = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))


def test_a_failing_query_keeps_the_other_timings():
    bad, good = bench.HEADLINE[0], bench.HEADLINE[1]
    specs = {
        bad: SimpleNamespace(fn=_raise_path_not_found),
        good: SimpleNamespace(fn=lambda spark, sf_dir: _NoopFrame()),
    }
    timings, weather = bench._time_set(_FAKE_SPARK, specs, "/sf", 3)
    assert list(timings) == [good]
    assert weather["failed_queries"] == {bad: "FileNotFoundError"}


def test_main_prints_null_totals_then_exits_1(monkeypatch, tmp_path, capsys):
    from lambda_kafka_to_s3_parquet_spark import session

    failed = {"i01_replay_decode": "FileNotFoundError"}

    def fake_time_set(spark, specs, sf_dir, runs, single_runs=1, sibling=None):
        weather = {"steal_cpu_s": 0.0, "load1": [0.1, 0.1],
                   "steal_per_query": {}, "polluted_reruns": [],
                   "failed_queries": failed}
        return {"q01_pricing_summary": 1.5}, weather

    stopped = []
    spark = SimpleNamespace(sparkContext=None, stop=lambda: stopped.append(1))
    monkeypatch.setattr(bench, "get_spark", lambda app_name: spark)
    monkeypatch.setattr(bench, "all_specs", lambda: {})
    monkeypatch.setattr(bench, "_time_set", fake_time_set)
    monkeypatch.setattr(bench, "artifact_path", lambda: str(tmp_path / "a.json"))
    monkeypatch.setattr(session, "load_table",
                        lambda *a: SimpleNamespace(count=lambda: 0))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/sf0.1")
    monkeypatch.setenv("SPARK_GRAFT_SF_SMALL", "/sf0.1")

    with pytest.raises(SystemExit) as exit_:
        bench.main()
    assert exit_.value.code == 1 and stopped == [1]
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["failed_queries"] == failed
    assert got["queries"] == {"q01_pricing_summary": 1.5}
    assert got["value"] is None
    assert got["value_batch"] is None and got["value_fixed_cost"] is None
    artifact = json.loads((tmp_path / "a.json").read_text())
    assert artifact["failed_queries"] == failed
