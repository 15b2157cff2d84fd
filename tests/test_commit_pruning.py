"""Commit-time pruning metadata: the one read-back pass that records a
commit's per-dir zone maps and blooms (``_collect_dir_pruning``).

Pins its job count, its output against an independent per-dir oracle,
its bloom bits against the JVM position formula earlier manifests were
written with, partition values whose dir names Spark escapes, and the
list-typed key probes of the readers that consume it."""

from __future__ import annotations

import ast
import datetime as dt
import json
import pathlib

import pytest
from pyspark.sql import functions as F

from lambda_kafka_to_s3_parquet_spark.operators import snapshots
from lambda_kafka_to_s3_parquet_spark.operators.snapshots import (
    _BLOOM_K,
    _BLOOM_M,
    _bloom_prune,
    _bloom_py_positions,
    _load_manifest,
    current_version,
    snapshot_append,
    snapshot_delete_where,
    snapshot_overwrite_partitions,
    snapshot_read,
)

from .conftest import jobs_in as _jobs_in


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _two_partition_frame(spark):
    return spark.createDataFrame(
        [(i, f"k{i}", "a" if i % 2 else "b") for i in range(200)],
        "id long, k string, p string",
    )


def test_stats_bloom_append_runs_at_most_three_jobs(spark, table):
    df = _two_partition_frame(spark)
    # count a steady-state append: one to an existing table
    snapshot_append(spark, table, df, ["p"], stats_cols=["id"], bloom_cols=["k"])
    jobs = _jobs_in(
        spark,
        lambda: snapshot_append(
            spark, table, df, ["p"], stats_cols=["id"], bloom_cols=["k"]
        ),
    )
    # 1 data write + 2 for the one shuffle aggregate (map + result stage)
    assert jobs <= 3, jobs
    plain = _jobs_in(spark, lambda: snapshot_append(spark, table, df, ["p"]))
    assert plain == 1, plain
    m = _load_manifest(spark, table, current_version(spark, table))
    assert len(m["stats"]) == 4 and len(m["blooms"]) == 4


def _norm(v):
    return v if isinstance(v, (int, float)) and not isinstance(v, bool) else (
        None if v is None else str(v)
    )


def test_stats_and_blooms_match_per_dir_oracle(spark, table):
    stats_cols = ["l", "i", "s", "d", "x", "ts"]
    bloom_cols = ["bi", "bs", "bd"]
    rows = []
    for n in range(120):
        rows.append((
            n * 1_000_003,
            n % 9 - 4,
            f"s{n % 13:02d}",
            dt.date(2024, 1, 1) + dt.timedelta(days=n % 40),
            float("nan") if n % 17 == 0 else n / 7.0,
            dt.datetime(2024, 3, 1, n % 24, n % 60, n % 60, (n * 250_000) % 1_000_000),
            None if n % 4 == 0 else n % 11,
            None if n % 5 == 0 else f"key-{n % 23}",
            None if n % 3 == 0 else dt.date(2023, 6, 1) + dt.timedelta(days=n % 9),
            "p0" if n < 60 else "p1",
            n % 2,
        ))
    df = spark.createDataFrame(
        rows,
        "l long, i int, s string, d date, x double, ts timestamp, "
        "bi int, bs string, bd date, p string, q int",
    )
    # q=1 rows of p1 carry no bi at all: that dir must get no bi bloom
    df = df.withColumn(
        "bi", F.when((F.col("p") == "p1") & (F.col("q") == 1), None).otherwise(F.col("bi"))
    )
    snapshot_append(
        spark, table, df, ["p", "q"], stats_cols=stats_cols, bloom_cols=bloom_cols
    )
    m = _load_manifest(spark, table, current_version(spark, table))
    rels = sorted(d for ds in m["partitions"].values() for d in ds)
    assert len(rels) == 4

    want_stats, want_blooms = {}, {}
    for rel in rels:
        part = spark.read.parquet(f"{table}/{rel}")
        agg = part.agg(
            *[F.min(c).alias(f"lo_{c}") for c in stats_cols],
            *[F.max(c).alias(f"hi_{c}") for c in stats_cols],
        ).collect()[0]
        want_stats[rel] = {
            c: [_norm(agg[f"lo_{c}"]), _norm(agg[f"hi_{c}"])] for c in stats_cols
        }
        per_col = {}
        for c in bloom_cols:
            keys = [r[0] for r in part.select(c).dropna().distinct().collect()]
            if not keys:
                continue
            bits = bytearray(_BLOOM_M // 8)
            for key in keys:
                for p in _bloom_py_positions(key, _BLOOM_M, _BLOOM_K):
                    bits[p // 8] |= 1 << (p % 8)
            per_col[c] = {"m": _BLOOM_M, "k": _BLOOM_K, "bits": bits.hex()}
        want_blooms[rel] = per_col

    # NaN only round-trips through JSON text, so compare serialized forms
    assert json.dumps(m["stats"], sort_keys=True) == json.dumps(want_stats, sort_keys=True)
    assert m["blooms"] == want_blooms
    assert any("bi" not in b for b in m["blooms"].values())
    assert any(s["x"][1] != s["x"][1] for s in m["stats"].values())  # a NaN max


def _jvm_bloom_hex(part, c: str, m: int, k: int) -> str:
    """The bits Spark itself computes for column ``c`` of ``part`` with the
    JVM position formula earlier manifests were written with:
    md5(CAST(c AS STRING)) -> conv(first 15 hex, 16, 10) -> (h1 + i·h2)
    mod m."""
    h = F.conv(F.substring(F.md5(F.col(c).cast("string")), 1, 15), 16, 10).cast("long")
    h1 = F.pmod(h, F.lit(1 << 30))
    h2 = F.shiftright(h, 30).bitwiseOR(F.lit(1))
    pos = F.explode(F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)]))
    ps = [r[0] for r in part.where(F.col(c).isNotNull()).select(pos).distinct().collect()]
    bits = bytearray(m // 8)
    for p in ps:
        bits[p // 8] |= 1 << (p % 8)
    return bits.hex()


_GOLDEN_COLS = ["s", "b", "t", "sm", "d"]
_EDGE = [
    ("é", -(2**63), -128, -32768, dt.date(1, 1, 1)),
    ("日本", 2**63 - 1, 127, 32767, dt.date(9999, 12, 31)),
    ("\U0001F600", -1, -1, -1, dt.date(1969, 12, 31)),
    ("", 0, 0, 0, dt.date(2024, 2, 29)),
]


def test_bloom_bits_match_the_jvm_position_formula(spark, table):
    """Manifests written before the driver set the bits (a JVM expression
    did) must probe identically: the committed bits equal Spark's own
    evaluation of the old formula over non-ASCII, empty, extreme-integer,
    tinyint/smallint and date keys, a NULL-only dir records no bloom, and
    a dir of 5,000 distinct keys saturates the same way."""
    rows = [("edge",) + r for r in _EDGE]
    rows += [("nulls", None, None, None, None, None)] * 3
    rows += [
        (
            "big",
            f"u{i}",
            i * 7919 - 2**40,
            i % 256 - 128,
            i - 16384,
            dt.date(2000, 1, 1) + dt.timedelta(days=i),
        )
        for i in range(5000)
    ]
    df = spark.createDataFrame(
        rows, "p string, s string, b bigint, t tinyint, sm smallint, d date"
    )
    snapshot_append(spark, table, df, ["p"], bloom_cols=_GOLDEN_COLS)
    m = _load_manifest(spark, table, current_version(spark, table))
    rel = {d.rsplit("=", 1)[1]: d for ds in m["partitions"].values() for d in ds}
    assert set(rel) == {"edge", "nulls", "big"}

    assert rel["nulls"] not in m["blooms"]
    for name in ("edge", "big"):
        part = spark.read.parquet(f"{table}/{rel[name]}")
        want = {
            c: {"m": _BLOOM_M, "k": _BLOOM_K, "bits": _jvm_bloom_hex(part, c, _BLOOM_M, _BLOOM_K)}
            for c in _GOLDEN_COLS
        }
        assert m["blooms"][rel[name]] == want, name
    big = bytes.fromhex(m["blooms"][rel["big"]]["s"]["bits"])
    assert sum(bin(x).count("1") for x in big) > 0.9 * _BLOOM_M

    # the python probe finds every edge key in the committed bits
    for c, values in zip(_GOLDEN_COLS, zip(*_EDGE)):
        for v in values:
            assert _bloom_prune(m, [rel["edge"]], [(c, [v])]) == [rel["edge"]], (c, v)


def test_bloom_bits_have_one_hash_implementation():
    """``snapshots.py`` sets and probes bloom bits with
    ``_bloom_py_positions`` only: it builds no JVM ``md5`` expression (a
    second implementation that would have to agree with the probe)."""
    tree = ast.parse(pathlib.Path(snapshots.__file__).read_text())
    strays = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        recv = f.value.id if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) else None
        if name == "md5" and recv != "hashlib":
            strays.append(node.lineno)
        strays += [
            a.lineno
            for a in node.args
            if isinstance(a, ast.Constant) and isinstance(a.value, str) and "md5(" in a.value.lower()
        ]
    assert strays == []

ESCAPED = ["a b", "x%y", "c:d", None, ""]


def _escaped_frame(spark, base: int):
    # ids of partition j lie in [base + 100 j, base + 100 j + 9]; NULL and
    # "" share the hive default partition dir
    return spark.createDataFrame(
        [
            (base + 100 * j + n, f"k{base + 100 * j + n}", p)
            for j, p in enumerate(ESCAPED)
            for n in range(10)
        ],
        "id long, k string, p string",
    )


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


@pytest.mark.parametrize("verb", ["append", "overwrite_partitions"])
def test_escaped_partition_values_commit_with_stats_and_blooms(spark, table, verb):
    opts = dict(stats_cols=["id"], bloom_cols=["k"])
    snapshot_append(spark, table, _escaped_frame(spark, 0), ["p"], **opts)
    if verb == "overwrite_partitions":
        snapshot_overwrite_partitions(
            spark, table, _escaped_frame(spark, 1000), ["p"], **opts
        )
        base = 1000
    else:
        base = 0
    m = _load_manifest(spark, table, current_version(spark, table))
    live = {d for ds in m["partitions"].values() for d in ds}
    assert len(live) == 4  # NULL and "" share one dir
    assert set(m["stats"]) == live and set(m["blooms"]) == live

    # only the "x%y" dir's range intersects: pruning alone returns its rows
    lo = base + 100
    got = snapshot_read(spark, table, skip_where=[("id", lo, lo + 9)])
    assert _ids(got) == list(range(lo, lo + 10))
    # a key of the "c:d" dir: every other dir's bloom proves it absent
    key = base + 205
    got = snapshot_read(spark, table, skip_keys=[("k", [f"k{key}"])])
    assert _ids(got.filter(F.col("k") == f"k{key}")) == [key]
    assert set(_ids(got)) == set(range(base + 200, base + 210))


def test_bare_string_key_probes_are_refused(spark, table):
    snapshot_append(
        spark, table, _two_partition_frame(spark), ["p"], bloom_cols=["k"]
    )
    with pytest.raises(TypeError, match="list of keys"):
        snapshot_read(spark, table, skip_keys=[("k", "k12")])
    with pytest.raises(TypeError, match="list of keys"):
        snapshot_read(spark, table, skip_keys=[("k", b"k12")])
    with pytest.raises(TypeError, match="list of keys"):
        snapshot_delete_where(
            spark, table, "k = 'k12'", prune_keys=[("k", "k12")]
        )
    assert current_version(spark, table) == 1  # nothing was deleted
    got = snapshot_read(spark, table, skip_keys=[("k", ["k12"])])
    assert _ids(got.filter(F.col("k") == "k12")) == [12]
