"""Steadiness check: run every workload over seeds 1-10, twice, and record
each end-to-end metric's spread and drift next to its bound.

    python3 perfbench/steadiness.py

Run from the repository root. Runs are sequential (one JVM at a time).
The spread of a metric is the distance between the first and third
quartiles of its per-run values (``statistics.quantiles(n=4)``) as a share
of their median. A set is within bounds when every spread is at most the
metric's bound, and steady when every spread is below a third of it. The
drift is how much worse the second set's median is than the first's, as
a share of the first; it must stay within the bound too. Each run's host
steal (CPU-s) is kept beside its values so an outlier can be attributed.
After both sets, each workload gets one traced run, whose op latencies
minus the untraced medians are the tracing overhead, and one untraced
run with the JVM's default C2 JIT, whose latencies size the gap to the
C1-only default. Writes ``perfbench/STEADINESS.json`` after each
workload.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = range(1, 11)
SETS = 2
OUT = os.path.join(HERE, "STEADINESS.json")


def one_run(workload: str, seed: int, seconds: int, trace: int = 0, jit: str = "c1") -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--jit", jit],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    diag, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {
        "seed": seed,
        "wall_s": time.perf_counter() - t0,
        "steal_s": diag["steal_s"],
        "correct": result["correct"],
        "failed": result["failed"],
        "attempted": result["attempted"],
        "values": {k: v["value"] for k, v in result["metrics"].items()},
        "op_p50_ms": {k: statistics.median(v) for k, v in diag["samples"].items()},
    }


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def summarise(runs: list[dict], end_to_end: list[dict]) -> dict:
    metrics = {}
    for m in end_to_end:
        vals = [r["values"][m["name"]] for r in runs]
        s = spread(vals)
        metrics[m["name"]] = {
            "median": statistics.median(vals),
            "spread": s,
            "bound": m["bound"],
            "within_bound": s <= m["bound"],
            "steady": s < m["bound"] / 3,
        }
    return {
        "metrics": metrics,
        "runs": runs,
        "wall_s_max": max(r["wall_s"] for r in runs),
        "all_correct": all(r["correct"] for r in runs),
    }


def drift(first: dict, second: dict, end_to_end: list[dict]) -> dict:
    """Per metric: how much worse the second median is than the first."""
    out = {}
    for m in end_to_end:
        a = first["metrics"][m["name"]]["median"]
        b = second["metrics"][m["name"]]["median"]
        worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
        out[m["name"]] = {"worse_by": worse, "within_bound": worse <= m["bound"]}
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds, e2e = bench["run_seconds"], bench["end_to_end"]
    names = [w["name"] for w in bench["workloads"]]
    record = {"run_seconds": seconds, "nproc": os.cpu_count(), "sets": [], "workloads": {}}

    def save() -> None:
        with open(OUT, "w") as fh:
            json.dump(record, fh, indent=1)

    for k in range(SETS):
        record["sets"].append({})
        for name in names:
            runs = []
            for seed in SEEDS:
                runs.append(one_run(name, seed, seconds))
                print(json.dumps({"set": k + 1, "workload": name, **runs[-1]}), flush=True)
            record["sets"][k][name] = summarise(runs, e2e)
            print(json.dumps({"set": k + 1, "workload": name,
                              "metrics": record["sets"][k][name]["metrics"]}), flush=True)
            save()
    for name in names:
        sets = [s[name] for s in record["sets"]]
        untraced = [r for s in sets for r in s["runs"]]

        def op_median(kind: str) -> float:
            return statistics.median(r["op_p50_ms"][kind] for r in untraced)

        traced = one_run(name, SEEDS[0], seconds, trace=1)
        c2 = one_run(name, SEEDS[0], seconds, jit="c2")
        record["workloads"][name] = {
            "drift": drift(sets[0], sets[1], e2e),
            "traced": traced,
            "trace_overhead_ms": {
                "ledger_per_op": traced["values"]["trace.overhead_ms_per_op"],
                **{k: v - op_median(k) for k, v in traced["op_p50_ms"].items()
                   if all(k in r["op_p50_ms"] for r in untraced)},
            },
            "c2": c2,
            "c2_minus_c1_ms": {k: v - op_median(k) for k, v in c2["op_p50_ms"].items()},
        }
        print(json.dumps({"workload": name, **record["workloads"][name]}), flush=True)
        save()
    return 0


if __name__ == "__main__":
    sys.exit(main())
