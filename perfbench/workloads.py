"""The closed-loop, single-client workloads, and the traced run's
layer probes.

Each workload builds its inputs from the seed in ``setup``, runs warm-up
steps off the clock, then runs ``step`` until the run's time is up. A
step is one op (or one fixed cycle of ops) and returns an :class:`Op`
per op; an op whose output disagrees with the generator's ground truth
is a failed op. Only public engine functions are called.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from lambda_kafka_to_s3_parquet_spark.operators.sink import (
    PARTITION_COLS,
    verify_landed,
    with_partition_columns,
    write_partitioned,
)
from lambda_kafka_to_s3_parquet_spark.operators.snapshots import (
    snapshot_append,
    snapshot_read,
)
from lambda_kafka_to_s3_parquet_spark.sources.avro_codec import (
    RATECARD_FIELDS,
    SchemaProvider,
    decode_stage,
)
from lambda_kafka_to_s3_parquet_spark.sources.kafka_replay import read_lambda_events
from lambda_kafka_to_s3_parquet_spark.streaming.pipeline import run_ingest_stream

from gen import TOPIC, Envelopes, absent_key, decoded_batch
from measure import tree_cpu_s

STATS_COLS = ["RATE_CARD_ID"]
BLOOM_COLS = ["SRC_KEY_VAL"]
KEY = "SRC_KEY_VAL"


@dataclass
class Op:
    kind: str  # land | append | lookup | lookups | scan | readback | verify
    ms: float
    ok: bool
    records: int = 0  # records landed or appended


class Tracer:
    """Untraced runs: every hook is a no-op."""

    enabled = False

    def start(self) -> float:
        return time.perf_counter()

    @contextmanager
    def call(self, name: str):
        yield

    def op(self, kind: str, start: float, end: float, **extra) -> dict | None:
        return None


class SpanTracer(Tracer):
    """Traced runs: a span per public call and a ledger entry per op. The
    bookkeeping runs before ``start`` returns and after the op's clock
    stops, so op latencies carry only the span appends."""

    enabled = True

    def __init__(self, ledger):
        self.ledger = ledger

    def start(self) -> float:
        self.ledger.skip_jobs()  # jobs of off-clock checks belong to no op
        return time.perf_counter()

    @contextmanager
    def call(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.ledger.span(name, t0, time.perf_counter(), len(self.ledger.ops))

    def op(self, kind: str, start: float, end: float, **extra) -> dict | None:
        return self.ledger.op(kind, start, end, **extra)


def ms(t0: float, t1: float) -> float:
    return (t1 - t0) * 1e3


class Workload:
    name = ""
    warmup_steps = 0
    write_kind = read_kind = ""  # the ops behind write_p50_ms / read_p50_ms

    def __init__(self, spark, work: str, seed: int, tracer: Tracer, jvm_pid: int):
        self.spark = spark
        self.work = work
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.jvm_pid = jvm_pid
        self.progress: list[dict] = []  # per land: summed durationMs phases
        self.schema = StructType(
            [StructField(f.name, f.spark_type()) for f in RATECARD_FIELDS]
            + [StructField("topic", StringType())]
            + [StructField(c, IntegerType()) for c in PARTITION_COLS[1:]]
        )

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup(self) -> None:
        raise NotImplementedError

    def step(self) -> list[Op]:
        raise NotImplementedError

    # -- timed public calls ------------------------------------------------

    def land(self, input_dir: str, out: str, ckpt: str, records: int, drop=None) -> Op:
        """One snapshot-commit ``run_ingest_stream`` drained to termination.
        ``drop``, if given, moves the op's input into ``input_dir`` on the
        clock."""
        t0 = self.tracer.start()
        if drop:
            drop()
        with self.tracer.call("run_ingest_stream"):
            q = run_ingest_stream(
                self.spark, input_dir, out, ckpt, TOPIC,
                provider=SchemaProvider(),
                max_files_per_trigger=1, commit_protocol="snapshot",
            )
        with self.tracer.call("awaitTermination"):
            q.awaitTermination()
        t1 = time.perf_counter()
        rec = self.tracer.op("land", t0, t1)
        if rec is not None:  # the ledger drained the listener bus
            batches = self.tracer.ledger.progress.by_run.pop(str(q.runId), [])
            phases = {"wall_ms": ms(t0, t1), "batches": len(batches)}
            for b in batches:
                for k, v in b.items():
                    phases[k] = phases.get(k, 0) + v
            self.progress.append(phases)
        return Op("land", ms(t0, t1), True, records)

    def append(self, table: str, df, records: int) -> Op:
        t0 = self.tracer.start()
        with self.tracer.call("snapshot_append"):
            snapshot_append(
                self.spark, table, df, list(PARTITION_COLS),
                stats_cols=STATS_COLS, bloom_cols=BLOOM_COLS,
            )
        t1 = time.perf_counter()
        self.tracer.op("append", t0, t1)
        return Op("append", ms(t0, t1), True, records)

    def lookup(self, table: str, key: str, expect: int) -> Op:
        # skip_keys takes a LIST of probe values per column: a bare string
        # would be probed character by character.
        t0 = self.tracer.start()
        with self.tracer.call("snapshot_read"):
            df = snapshot_read(self.spark, table, skip_keys=[(KEY, [key])])
        with self.tracer.call("count"):
            hit = df.filter(F.col(KEY) == key)
            n = hit.count()
        t1 = time.perf_counter()
        rec = self.tracer.op("lookup", t0, t1)
        if rec is not None:  # after the ledger entry: this job is no op's
            rec["files"] = len(df.inputFiles())
            rec["wasted"] = rec["files"] - hit.select(F.input_file_name()).distinct().count()
        return Op("lookup", ms(t0, t1), n == expect)

    def scan(self, table: str, lo: int, hi: int, expect: tuple[int, int]) -> Op:
        t0 = self.tracer.start()
        with self.tracer.call("snapshot_read"):
            df = snapshot_read(self.spark, table, skip_where=[("RATE_CARD_ID", lo, hi)])
        with self.tracer.call("collect"):
            row = (
                df.filter(F.col("RATE_CARD_ID").between(lo, hi))
                .agg(F.count(F.lit(1)), F.sum("RATE_CARD_ID"))
                .collect()[0]
            )
        t1 = time.perf_counter()
        extra = {"files": len(df.inputFiles())} if self.tracer.enabled else {}
        self.tracer.op("scan", t0, t1, **extra)
        return Op("scan", ms(t0, t1), (row[0], row[1] or 0) == expect)

    def readback(self, table: str, expect: int, exactly_once: bool = True) -> Op:
        """Count a snapshot-landed table; with ``exactly_once``, check off
        the clock that no ``(partition, offset)`` landed twice."""
        t0 = self.tracer.start()
        with self.tracer.call("snapshot_read"):
            df = snapshot_read(self.spark, table)
        with self.tracer.call("count"):
            n = df.count()
        t1 = time.perf_counter()
        extra = {"files": len(df.inputFiles())} if self.tracer.enabled else {}
        self.tracer.op("readback", t0, t1, **extra)
        dup = exactly_once and df.groupBy("partition", "offset").count().filter("count > 1").count()
        return Op("readback", ms(t0, t1), n == expect and not dup)

    def verify(self, out: str, expect: int) -> Op:
        """``verify_landed`` on a plain sink; off the clock, check that no
        record landed as ``_corrupt_record``."""
        t0 = self.tracer.start()
        with self.tracer.call("verify_landed"):
            got = verify_landed(self.spark, out)
        t1 = time.perf_counter()
        self.tracer.op("verify", t0, t1)
        corrupt = self.spark.read.parquet(out).filter(F.col("_corrupt_record").isNotNull()).count()
        return Op("verify", ms(t0, t1), got["n_rows"] == expect and corrupt == 0)

    # -- traced run only ---------------------------------------------------

    probe_files = probe_records = 0

    def probe_input(self) -> tuple[str, int]:
        """Fresh envelope files of this workload's size: a dir and its
        record count."""
        src = self.path("probe", "in")
        os.makedirs(src)
        env = Envelopes(self.rng)
        for i in range(self.probe_files):
            env.write(os.path.join(src, f"ev-{i}.json"), self.probe_records, 2 * i, 2)
        return src, self.probe_files * self.probe_records

    def probes(self) -> tuple[dict, list[Op]]:
        """Time each layer directly over this workload's own envelope files:
        replay alone, replay+decode, the sink write of the decoded frame
        and its ``verify_landed``, and, where the workload's loop does not
        run them, a snapshot land with its read-back and a stats+bloom
        append with two lookups and a scan. Returns layer figures and the
        probe ops, which are checked like any op."""
        src, n = self.probe_input()
        krec = n / 1e3
        spark, out = self.spark, {}
        kinds = {o["kind"] for o in self.tracer.ledger.ops}
        t0 = self.tracer.start()
        c0 = tree_cpu_s(self.jvm_pid)
        with self.tracer.call("read_lambda_events"):
            read_lambda_events(spark, src).write.format("noop").mode("overwrite").save()
        t1, c1 = time.perf_counter(), tree_cpu_s(self.jvm_pid)
        self.tracer.op("replay", t0, t1)
        t2 = self.tracer.start()
        c2 = tree_cpu_s(self.jvm_pid)
        with self.tracer.call("decode_stage"):
            decoded = decode_stage(read_lambda_events(spark, src), SchemaProvider(), TOPIC)
            decoded.write.format("noop").mode("overwrite").save()
        t3, c3 = time.perf_counter(), tree_cpu_s(self.jvm_pid)
        self.tracer.op("decode", t2, t3)
        out["replay.krec_per_s"] = krec / (t1 - t0)
        out["decode.krec_per_s"] = krec / max((t3 - t2) - (t1 - t0), 1e-3)
        out["decode.exec_cpu_ms_per_krec"] = ((c3 - c2) - (c1 - c0)) * 1e3 / krec
        frame = with_partition_columns(decoded).persist()
        out["decode.corrupt_records"] = frame.filter(F.col("_corrupt_record").isNotNull()).count()
        sink = self.path("probe", "sink")
        t4 = self.tracer.start()
        with self.tracer.call("write_partitioned"):
            write_partitioned(frame, sink)
        t5 = time.perf_counter()
        self.tracer.op("sink", t4, t5)
        out["sink.write_ms_per_krec"] = ms(t4, t5) / krec
        out["sink.files_per_land"] = len(glob.glob(f"{sink}/**/*.parquet", recursive=True))
        ops = [self.verify(sink, n)]
        if "readback" not in kinds:
            table = self.path("probe", "landed")
            ops.append(self.land(src, table, self.path("probe", "ckpt"), n))
            ops.append(self.readback(table, n))
        if "append" not in kinds:
            table = self.path("probe", "table")
            key = frame.select(KEY).first()[0]
            hits = frame.filter(F.col(KEY) == key).count()
            agg = (
                frame.filter(F.col("RATE_CARD_ID").between(0, 99))
                .agg(F.count(F.lit(1)), F.sum("RATE_CARD_ID"))
                .collect()[0]
            )
            ops.append(self.append(table, frame.select(*self.schema.fieldNames()), n))
            ops.append(self.lookup(table, key, hits))
            ops.append(self.lookup(table, absent_key(self.rng), 0))
            ops.append(self.scan(table, 0, 99, (agg[0], agg[1] or 0)))
        frame.unpersist()
        return out, ops


class LambdaTrickle(Workload):
    """500-record files landed one invocation at a time into a snapshot
    table, each land followed by a read-back count (the reference's
    ``check_parquet.py`` step). A step is one table's life: 4 lands into
    a fresh table, checkpoint and input dir. Whole steps keep the mix of
    table sizes the same in every run, and the state each op sees
    independent of how many ops a run fits."""

    name = "lambda_trickle"
    warmup_steps = 2
    write_kind, read_kind = "land", "readback"
    records = 500
    per_table = 4
    probe_files, probe_records = 5, 500

    def setup(self) -> None:
        os.makedirs(self.path("staged"))
        self.env = Envelopes(self.rng)
        self.n = self.tables = 0

    def step(self) -> list[Op]:
        self.tables += 1
        table = self.path(f"t{self.tables:04d}")
        src, out = os.path.join(table, "in"), os.path.join(table, "out")
        os.makedirs(src)
        ops = []
        for i in range(self.per_table):
            name = f"ev-{self.n:05d}.json"
            staged = self.path("staged", name)
            self.env.write(staged, self.records, hour0=2 * (self.n % 12), hours=2)
            self.n += 1
            ops.append(self.land(
                src, out, os.path.join(table, "ckpt"), self.records,
                drop=lambda: os.rename(staged, os.path.join(src, name)),
            ))
            # every land is checked by the last read-back's exactly-once test
            last = i + 1 == self.per_table
            ops.append(self.readback(out, (i + 1) * self.records, exactly_once=last))
        shutil.rmtree(table)
        return ops


class TablePointOps(Workload):
    """Appends, point lookups and pruned range scans on one snapshot table
    with zone maps on ``RATE_CARD_ID`` and blooms on ``SRC_KEY_VAL``. The
    read op is the cycle's 4 lookups: the first lookup after an append
    and the absent-key lookups take other code paths than the rest, so
    one lookup's latency is bimodal while the 4-lookup op is not."""

    name = "table_point_ops"
    warmup_steps = 1
    write_kind, read_kind = "append", "lookups"
    commits = 8
    rows = 2_000
    hours_per_commit = 2
    probe_files, probe_records = 2, 2_000

    def setup(self) -> None:
        self.table = self.path("table")
        self.keys: dict[str, int] = {}
        self.n_ids = 0
        for _ in range(self.commits):
            self.append(self.table, self.staged_batch(), self.rows)

    def staged_batch(self):
        """The next pre-generated 2,000-row decoded batch: ids continue the
        table's, event hours follow the previous commit's."""
        hour0 = self.n_ids // self.rows * self.hours_per_commit
        rows = decoded_batch(self.rng, self.n_ids, self.rows, hour0, self.hours_per_commit)
        self.n_ids += self.rows
        for r in rows:
            self.keys[r[KEY]] = self.keys.get(r[KEY], 0) + 1
        cols = self.schema.fieldNames()
        return self.spark.createDataFrame([tuple(r[c] for c in cols) for r in rows], self.schema)

    def step(self) -> list[Op]:
        ops = [self.append(self.table, self.staged_batch(), self.rows)]
        present = list(self.keys)
        lookups = []
        for i in range(4):
            key = self.rng.choice(present) if i % 2 == 0 else absent_key(self.rng)
            lookups.append(self.lookup(self.table, key, self.keys.get(key, 0)))
        ops.append(Op("lookups", sum(o.ms for o in lookups), all(o.ok for o in lookups)))
        width = self.n_ids // 100
        lo = self.rng.randrange(self.n_ids - width)
        hi = lo + width - 1
        ops.append(self.scan(self.table, lo, hi, (width, (lo + hi) * width // 2)))
        return ops


WORKLOADS = {w.name: w for w in (LambdaTrickle, TablePointOps)}
