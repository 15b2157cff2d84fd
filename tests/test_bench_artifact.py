"""The bench's full-result artifact: one file per worker-thread count, so
runs at different core counts never overwrite each other's steal map."""

from __future__ import annotations

import os

import bench


def test_artifact_is_named_by_the_run_cpu_count(monkeypatch):
    here = os.path.dirname(os.path.abspath(bench.__file__))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert bench.artifact_path() == os.path.join(here, "BENCH_local_c8.json")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert bench.artifact_path() == os.path.join(here, "BENCH_local_c32.json")


def test_artifact_falls_back_to_the_host_cpu_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    want = f"BENCH_local_c{os.cpu_count()}.json"
    assert os.path.basename(bench.artifact_path()) == want
