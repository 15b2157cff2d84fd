"""Kafka→Parquet benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload lambda_trickle --seed 1 --seconds 20 --trace 0

Run from the repository root. The run pins its environment (CPU count,
driver memory, private scratch dirs under ``.perfbench_work/``, the
repository root on ``PYTHONPATH`` for the Python workers), builds its
inputs from the seed, runs warm-up ops off the clock, then runs the
workload for ``--seconds`` and checks every output. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics untraced, the per-layer metrics with
``--trace 1``). Diagnostics (steal, nproc, op samples, spans) go to
``.perfbench_work/artifacts/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Worker threads: below nproc, so the driver and the Python workers keep
#: a core. Driver heap: sized for a 15 GB host shared with other jobs.
CPUS = max(1, min(2, (os.cpu_count() or 2) - 1))
DRIVER_MEM = "2g"


def pin_env(work: str) -> dict:
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "TMPDIR": tmp,
    }
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_KMS_KEY_ARN"):
        os.environ.pop(k, None)
    os.environ.update(env)
    sys.path[:0] = [ROOT, HERE]
    return env


def median(xs: list[float]) -> float | None:
    """None (JSON null) when no op of the kind succeeded."""
    return statistics.median(xs) if xs else None


def step(wl) -> list:
    """One workload step; an exception is one failed op, and the loop goes
    on."""
    from workloads import Op

    try:
        return wl.step()
    except Exception:
        traceback.print_exc()
        return [Op("error", 0.0, False)]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--jit", choices=("c1", "c2"), default="c1",
        help="c2: the JVM's default tiered JIT, to size the gap to the C1-only default",
    )
    args = ap.parse_args()

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(
        base, f"{args.workload}-s{args.seed}-t{args.trace}-{args.jit}-{os.getpid()}"
    )
    env = pin_env(work)
    try:
        from lambda_kafka_to_s3_parquet_spark.session import get_spark
        from measure import steal_s
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {os.getcwd()}: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    steal0 = steal_s()
    t0 = time.perf_counter()
    # C1 only: with C2 the JIT was still compiling through the measured
    # window and each run settled at its own speed; fixed compiler threads
    # let the CPU clock subtract them (see README.md, "Pinned environment").
    jvm_opts = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    if args.jit == "c1":
        jvm_opts += " -XX:TieredStopAtLevel=1 -XX:-UseDynamicNumberOfCompilerThreads"
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_start_s = time.perf_counter() - t0
    jvm = spark.sparkContext._gateway.proc
    try:
        result = run(args, spark, jvm.pid, work, session_start_s)
    finally:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)
    result["diag"]["steal_s"] = steal_s() - steal0
    os.makedirs(os.path.join(base, "artifacts"), exist_ok=True)
    art = os.path.join(base, "artifacts", os.path.basename(work) + ".json")
    with open(art, "w") as fh:
        json.dump(result, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    brief = {k: result["diag"][k] for k in ("nproc", "steal_s", "samples")}
    print(json.dumps({"artifact": os.path.relpath(art), **brief}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


def run(args, spark, jvm_pid, work, session_start_s) -> dict:
    from measure import Clock, Ledger, jit_cpu_s, peak_rss_mb
    from workloads import WORKLOADS, SpanTracer, Tracer

    ledger = Ledger(spark) if args.trace else None
    tracer = SpanTracer(ledger) if ledger else Tracer()
    wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed, tracer, jvm_pid)
    t_setup = time.perf_counter()
    wl.setup()
    t_warm = time.perf_counter()
    warm = [op for _ in range(wl.warmup_steps) for op in step(wl)]
    if ledger:
        ledger.reset()
        wl.progress.clear()
    setup_s = time.perf_counter() - T_START
    clock = Clock(jvm_pid)
    cpu0, jit0 = clock.cpu_s(), jit_cpu_s(jvm_pid)
    deadline = time.perf_counter() + args.seconds
    ops = []
    while time.perf_counter() < deadline:
        ops.extend(step(wl))
    cpu_s, jit_s = clock.cpu_s() - cpu0, jit_cpu_s(jvm_pid) - jit0
    lat = {}
    for op in ops:
        if op.ok:
            lat.setdefault(op.kind, []).append(op.ms)
    checked = warm + ops
    diag = {
        "nproc": os.cpu_count(),
        "cpus": CPUS,
        "jit": args.jit,
        "session_start_s": session_start_s,
        "prepare_s": t_warm - t_setup,
        "warmup_s": setup_s - (t_warm - T_START),
        "samples": {k: [round(x, 1) for x in v] for k, v in lat.items()},
        "warmup_ms": [round(o.ms, 1) for o in warm],
        "peak_rss_mb": peak_rss_mb(jvm_pid),  # before the traced run's probes
        "cpu_s": cpu_s,
        "cpu_ms_per_krec": cpu_s * 1e6 / max(1, sum(op.records for op in ops)),
        "jit_cpu_s": jit_s,
    }
    if ledger:
        layer, probe_ops = layer_metrics(wl, ledger, session_start_s, diag)
        checked += probe_ops
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layer.items()}
        diag["ledger"] = ledger.ops
        diag["spans"] = ledger.spans
        diag["progress"] = wl.progress
    else:
        values = {
            "setup_s": setup_s,
            "write_p50_ms": median(lat.get(wl.write_kind, [])),
            "read_p50_ms": median(lat.get(wl.read_kind, [])),
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    failed = sum(not op.ok for op in checked)
    return {
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": metrics,
        "diag": diag,
    }


E2E_UNITS = {
    "setup_s": "s",
    "write_p50_ms": "ms",
    "read_p50_ms": "ms",
}

OP_KINDS = ("land", "append", "lookup", "scan", "readback", "verify")

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "mem.peak_rss_mb": "MB",
    "cpu.ms_per_krec": "ms",
    "pipeline.start_stop_ms": "ms",
    "pipeline.offset_ms": "ms",
    "pipeline.log_commit_ms": "ms",
    "pipeline.planning_ms": "ms",
    "pipeline.trigger_ms": "ms",
    "pipeline.add_batch_ms": "ms",
    "pipeline.batches_per_land": "count",
    "replay.krec_per_s": "krec/s",
    "decode.krec_per_s": "krec/s",
    "decode.exec_cpu_ms_per_krec": "ms",
    "decode.corrupt_records": "count",
    "sink.write_ms_per_krec": "ms",
    "sink.files_per_land": "count",
    "sink.verify_jobs": "count",
    "snapshots.append_jobs": "count",
    "snapshots.append_tasks": "count",
    "snapshots.append_exec_cpu_ms": "ms",
    "snapshots.commit_jobs": "count",
    "snapshots.lookup_files_read": "count",
    "snapshots.lookup_wasted_ratio": "ratio",
    "snapshots.scan_files_read": "count",
    "snapshots.readback_files": "count",
    **{
        f"{k}.{m}": u
        for k in OP_KINDS
        for m, u in (("p50_ms", "ms"), ("jobs", "count"), ("tasks", "count"),
                     ("exec_cpu_ms", "ms"), ("gc_ms", "ms"))
    },
    "trace.overhead_ms_per_op": "ms",
}


def layer_metrics(wl, ledger, session_start_s, diag) -> tuple[dict, list]:
    """Per-layer figures of a traced run. An op kind the workload's loop
    ran is taken from the loop; otherwise from the probes."""
    loop_ops, loop_lands = list(ledger.ops), len(wl.progress)
    out, probe_ops = wl.probes()
    lands = wl.progress[:loop_lands] or wl.progress[loop_lands:]

    def of(kind):
        return [o for o in loop_ops if o["kind"] == kind] or [
            o for o in ledger.ops[len(loop_ops):] if o["kind"] == kind
        ]

    def med(rows, key):
        return median([r.get(key, 0) for r in rows])

    def phase(*names):
        return median([sum(p.get(n, 0) for n in names) for p in lands])

    out |= {
        "session.start_s": session_start_s,
        "mem.peak_rss_mb": diag["peak_rss_mb"],
        "cpu.ms_per_krec": diag["cpu_ms_per_krec"],
        "pipeline.start_stop_ms": median([p["wall_ms"] - p.get("triggerExecution", 0) for p in lands]),
        "pipeline.offset_ms": phase("latestOffset", "getBatch"),
        "pipeline.log_commit_ms": phase("walCommit", "commitOffsets"),
        "pipeline.planning_ms": phase("queryPlanning"),
        "pipeline.trigger_ms": phase("triggerExecution"),
        "pipeline.add_batch_ms": phase("addBatch"),
        "pipeline.batches_per_land": phase("batches"),
        "sink.verify_jobs": med(of("verify"), "jobs"),
        "snapshots.append_jobs": med(of("append"), "jobs"),
        "snapshots.append_tasks": med(of("append"), "tasks"),
        "snapshots.append_exec_cpu_ms": med(of("append"), "exec_cpu_ms"),
        "snapshots.lookup_files_read": med(of("lookup"), "files"),
        "snapshots.lookup_wasted_ratio": sum(o["wasted"] for o in of("lookup"))
        / max(1, sum(o["files"] for o in of("lookup"))),
        "snapshots.scan_files_read": med(of("scan"), "files"),
        "snapshots.readback_files": med(of("readback"), "files"),
    }
    out["snapshots.commit_jobs"] = med(of("land"), "jobs")  # every land is a snapshot commit
    for kind in OP_KINDS:
        rows = of(kind)
        out[f"{kind}.p50_ms"] = med(rows, "ms")
        for m in ("jobs", "tasks", "exec_cpu_ms", "gc_ms"):
            out[f"{kind}.{m}"] = med(rows, m)
    out["trace.overhead_ms_per_op"] = ledger.overhead_s * 1e3 / len(ledger.ops)
    return {k: out[k] for k in PER_LAYER_UNITS}, probe_ops


if __name__ == "__main__":
    sys.exit(main())
