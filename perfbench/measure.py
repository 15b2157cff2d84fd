"""Measurement helpers: process CPU and memory, host steal, and the traced
run's job ledger and spans.

Everything here observes the engine from outside: ``/proc`` for the
driver, the JVM and its Python workers, and the JVM's status store for
Spark jobs and stages. Nothing in the engine is patched.
"""

from __future__ import annotations

import os
import resource
import time

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(pid: int) -> list[int]:
    """``pid`` and all its descendants."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(pid: int) -> float:
    """User+system CPU of ``pid``'s process tree, reaped children included
    (a Python worker that exited between two readings still counts)."""
    total = 0
    for p in tree(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2 :].split()
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this (driver) process plus the JVM."""
    driver_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (driver_kb + jvm_kb) / 1024


def steal_s() -> float:
    """Host-wide CPU seconds stolen by the hypervisor since boot."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / _TICK


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU of the JVM's JIT compiler threads: warm-up work whose timing
    varies from run to run, not work the engine asked for."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if "CompilerThre" in stat[stat.index("(") : stat.rindex(")")]:
            f = stat[stat.rindex(")") + 2 :].split()
            total += int(f[11]) + int(f[12])
    return total / _TICK


class Clock:
    """CPU of the driver, the JVM and its Python workers, read together,
    less the JIT compiler threads."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def cpu_s(self) -> float:
        return self_cpu_s() + tree_cpu_s(self.jvm_pid) - jit_cpu_s(self.jvm_pid)


class ProgressListener(StreamingQueryListener):
    """Each micro-batch's ``durationMs`` phases, keyed by query run id."""

    def __init__(self):
        self.by_run: dict[str, list[dict]] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.by_run.setdefault(str(p.runId), []).append(dict(p.durationMs))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Ledger:
    """Traced-run recorder: one span per public engine call, plus the
    Spark jobs, tasks, executor CPU and GC each op caused, read from the
    JVM status store (populated with the UI off) after the listener bus
    drains; the same drain delivers every streaming progress event to
    :attr:`progress`. Spans and entries stay in memory until the run
    writes its artifact."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.tracker = self.sc.statusTracker()
        self.progress = ProgressListener()
        spark.streams.addListener(self.progress)
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.overhead_s = 0.0
        self.next_job = 0
        self.skip_jobs()

    def skip_jobs(self) -> None:
        """Attribute the jobs run since the last op to no op (off-clock
        checks); the bus drain counts as ledger overhead."""
        t0 = time.perf_counter()
        self.bus.waitUntilEmpty()
        while self.tracker.getJobInfo(self.next_job) is not None:
            self.next_job += 1
        self.overhead_s += time.perf_counter() - t0

    def reset(self) -> None:
        """Forget the warm-up: entries, spans and their overhead."""
        self.ops.clear()
        self.spans.clear()
        self.overhead_s = 0.0

    def span(self, name: str, start: float, end: float, op: int | None) -> None:
        self.spans.append({"name": name, "start": start, "end": end, "op": op})

    def op(self, kind: str, start: float, end: float, **extra) -> dict:
        """Close op ``kind``: attribute every job since the previous op."""
        t0 = time.perf_counter()
        self.bus.waitUntilEmpty()
        jobs = tasks = 0
        cpu_ns = gc_ms = 0
        seen: set[int] = set()
        while True:
            info = self.tracker.getJobInfo(self.next_job)
            if info is None:
                break
            self.next_job += 1
            jobs += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                tasks += st.numCompleteTasks()
                cpu_ns += st.executorCpuTime()
                gc_ms += st.jvmGcTime()
        rec = {
            "kind": kind,
            "ms": (end - start) * 1e3,
            "jobs": jobs,
            "tasks": tasks,
            "exec_cpu_ms": cpu_ns / 1e6,
            "gc_ms": gc_ms,
            **extra,
        }
        self.ops.append(rec)
        self.span(kind, start, end, len(self.ops) - 1)
        self.overhead_s += time.perf_counter() - t0
        return rec
