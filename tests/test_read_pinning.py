"""Schema-pinned snapshot reads: every commit scan is built from the
schema the manifest recorded for it (``cschemas``), so building a read
runs no parquet schema-inference job.

Commits with one read signature share one scan, partitioned or not.

Pins the job counts of a lookup, an all-pruned lookup and a read-back;
checks the pinned read against an inferred-read oracle (same rows, same
schema) across the schema-evolution shapes; checks the grouped read
against a per-commit oracle (one ``basePath``-per-commit scan per
commit, unioned by name) across partition-value and evolution shapes;
checks that a commit with no recorded schema still reads through
inference; and checks the zero-row frame of a provably empty result
against the full read."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from lambda_kafka_to_s3_parquet_spark.operators import snapshots as snap
from lambda_kafka_to_s3_parquet_spark.operators.snapshots import (
    _load_manifest,
    _replace_text,
    _resolve_manifest_file,
    current_version,
    snapshot_append,
    snapshot_changes,
    snapshot_delete_keys,
    snapshot_drop_column,
    snapshot_read,
    snapshot_rename_column,
)

from .conftest import jobs_in as _jobs_in


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _ten_commit_table(spark, table):
    for c in range(10):
        df = spark.range(c * 100, c * 100 + 100).select(
            "id",
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
            (F.col("id") % 2).cast("string").alias("p"),
        )
        snapshot_append(spark, table, df, ["p"], stats_cols=["id"], bloom_cols=["k"])


def test_lookup_and_readback_run_no_inference_jobs(spark, table):
    _ten_commit_table(spark, table)
    snap._FRAME_MEMO.clear()
    # a bloom-pruned point lookup: the count's own two jobs, nothing else
    hit = _jobs_in(
        spark,
        lambda: snapshot_read(spark, table, skip_keys=[("k", ["k505"])])
        .filter(F.col("k") == "k505")
        .count(),
    )
    assert hit <= 2, hit
    # every dir pruned: the zero-row frame lists one dir and runs at most
    # the (empty) count
    n = []
    miss = _jobs_in(
        spark,
        lambda: n.append(
            snapshot_read(spark, table, skip_keys=[("k", ["absent"])])
            .filter(F.col("k") == "absent")
            .count()
        ),
    )
    assert n == [0] and miss <= 1, (n, miss)
    readback = _jobs_in(
        spark, lambda: n.append(snapshot_read(spark, table, version=4).count())
    )
    assert n[-1] == 400 and readback <= 2, (n, readback)


def _strip_cschema(spark, table, commit: str) -> None:
    """Rewrite the current root as a legacy monolith whose ``cschemas``
    lacks ``commit`` — the shape of a commit written before schemas were
    recorded."""
    v = current_version(spark, table)
    m = json.loads(json.dumps(_load_manifest(spark, table, v)))
    del m["cschemas"][commit]
    _replace_text(spark, _resolve_manifest_file(spark, table, v), json.dumps(m))
    snap._CFILE_CACHE.clear()
    snap._drop_assembled(table)


def _inferred(monkeypatch, fn):
    """``fn()`` with every commit scan built by parquet schema inference
    (the read before pinning), as the oracle for the pinned read."""
    with monkeypatch.context() as mp:
        mp.setattr(snap, "_pinned_reader", lambda spark, cschema: spark.read)
        snap._FRAME_MEMO.clear()
        out = fn()
    snap._FRAME_MEMO.clear()
    return out


def _evo_added(spark, table):
    snapshot_append(spark, table, spark.createDataFrame(
        [(1, "a", 10)], "id long, p string, v long"), ["p"])
    snapshot_append(spark, table, spark.createDataFrame(
        [(2, "b", 20, "x")], "id long, p string, v long, extra string"), ["p"])


def _evo_widened(spark, table):
    snapshot_append(spark, table, spark.createDataFrame(
        [(1, 10)], "id long, v int"))
    snapshot_append(spark, table, spark.createDataFrame(
        [(2, 3_000_000_000)], "id long, v bigint"))


def _evo_renamed(spark, table):
    snapshot_append(spark, table, spark.createDataFrame(
        [(1, "a", 10)], "id long, p string, v long"), ["p"])
    snapshot_rename_column(spark, table, "v", "w")
    snapshot_append(spark, table, spark.createDataFrame(
        [(2, "b", 20)], "id long, p string, w long"), ["p"])


def _evo_dropped(spark, table):
    snapshot_append(spark, table, spark.createDataFrame(
        [(1, "a", 10, "x")], "id long, p string, v long, gone string"), ["p"])
    snapshot_drop_column(spark, table, "gone")
    snapshot_append(spark, table, spark.createDataFrame(
        [(2, "b", 20)], "id long, p string, v long"), ["p"])


def _evo_mixed_layout(spark, table):
    snapshot_append(spark, table, spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, p string, v long"))
    snapshot_append(spark, table, spark.createDataFrame(
        [(3, "a", 30)], "id long, p string, v long"), ["p"])


def _evo_hidden_transform(spark, table):
    rows = [(i, dt.datetime(2024, 1, 1 + i % 3, 6), float(i)) for i in range(6)]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp_ntz, v double")
    snapshot_append(spark, table, ev, ["days(ts)"])
    snapshot_append(spark, table, ev.limit(2), ["days(ts)"])


def _evo_stripped(spark, table):
    snapshot_append(spark, table, spark.createDataFrame(
        [(1, "a", 10)], "id long, p string, v long"), ["p"])
    snapshot_append(spark, table, spark.createDataFrame(
        [(2, "b", 20, [1, 2])], "id long, p string, v long, xs array<int>"), ["p"])
    m = _load_manifest(spark, table, current_version(spark, table))
    _strip_cschema(spark, table, sorted(m["cschemas"])[0])


def _evo_mixed_partition_values(spark, table):
    # one commit's dirs infer date and string for p: the full read
    # resolves p to string
    snapshot_append(spark, table, spark.createDataFrame(
        [(1, "2024-01-01"), (2, "abc")], "id long, p string"), ["p"])


def _evo_mor_deleted(spark, table):
    snapshot_append(spark, table, spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "id long, p string, v long"),
        ["p"])
    snapshot_delete_keys(spark, table, [2], on=["id"])


@pytest.mark.parametrize(
    "build",
    [
        _evo_added,
        _evo_widened,
        _evo_renamed,
        _evo_dropped,
        _evo_mixed_layout,
        _evo_hidden_transform,
        _evo_stripped,
        _evo_mixed_partition_values,
        _evo_mor_deleted,
    ],
    ids=lambda f: f.__name__[5:],
)
def test_pinned_read_equals_inferred_read(spark, table, monkeypatch, build):
    build(spark, table)
    v = current_version(spark, table)
    snap._FRAME_MEMO.clear()
    pinned = snapshot_read(spark, table)
    want = _inferred(monkeypatch, lambda: snapshot_read(spark, table))
    assert pinned.schema == want.schema
    assert sorted(pinned.collect()) == sorted(want.collect())
    # the zero-row frame of an empty delta has the full read's columns
    empty = snapshot_changes(spark, table, v, v)
    assert empty.schema == pinned.schema
    assert empty.count() == 0


def test_commit_without_recorded_schema_reads_by_inference(spark, table):
    _evo_stripped(spark, table)
    m = _load_manifest(spark, table, current_version(spark, table))
    assert len(m["cschemas"]) == 1  # one of the two commits lost its entry

    snap._FRAME_MEMO.clear()
    legacy = _jobs_in(spark, lambda: snapshot_read(spark, table))
    snap._FRAME_MEMO.clear()
    pinned_only = _jobs_in(
        spark, lambda: snapshot_read(spark, table, version=current_version(spark, table) - 1)
    )
    # building the scan of the stripped commit infers (one job); the
    # recorded one does not
    assert legacy == 1 and pinned_only == 0, (legacy, pinned_only)


def test_unparseable_recorded_schema_reads_by_inference(spark, table):
    # a nested field name that needs quoting does not parse back from its
    # recorded simpleString, so the commit keeps the inferred read
    df = spark.createDataFrame(
        [(1, (2, "x"))], "id long, s struct<`a b`:int, c:string>"
    )
    snapshot_append(spark, table, df)
    m = _load_manifest(spark, table, current_version(spark, table))
    (cschema,) = m["cschemas"].values()
    assert snap._parse_cschema(json.dumps(cschema)) is None
    snap._FRAME_MEMO.clear()
    out = snapshot_read(spark, table)
    assert out.schema["s"].dataType.simpleString() == "struct<a b:int,c:string>"
    assert out.collect()[0]["s"]["a b"] == 2


def test_empty_lookup_schema_equals_full_read_across_evolution(spark, table):
    """All dirs bloom-pruned over a table whose commits differ in schema
    and in the inferred type of a partition column: the zero-row frame
    reads one dir per signature and still has the full read's columns
    and types."""
    # the first two commits share a recorded schema, but q=1 infers int
    # and q=3000000000 bigint: the full read widens q to bigint
    snapshot_append(spark, table, spark.createDataFrame(
        [(1, 1, "a")], "id long, q long, k string"), ["q"], bloom_cols=["k"])
    snapshot_append(spark, table, spark.createDataFrame(
        [(2, 3_000_000_000, "b")], "id long, q long, k string"),
        ["q"], bloom_cols=["k"])
    snapshot_append(spark, table, spark.createDataFrame(
        [(3, 2, "c", 1.5)], "id long, q long, k string, x double"),
        ["q"], bloom_cols=["k"])
    full = snapshot_read(spark, table)
    empty = snapshot_read(spark, table, skip_keys=[("k", ["absent"])])
    assert full.schema["q"].dataType.simpleString() == "bigint"
    assert empty.schema == full.schema
    assert empty.count() == 0


def _n_scans(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("Scan parquet")


def _per_commit_scans(spark, table, by_commit, manifest):
    """The reference for :func:`snap._commit_scans`: one scan per commit
    with the commit dir as ``basePath`` (the read before commits with
    one read signature shared a scan)."""
    cschemas = manifest.get("cschemas", {})
    return [
        snap._apply_colmap(
            manifest,
            cid,
            snap._pinned_reader(spark, cschemas.get(cid))
            .option("basePath", f"{table}/data/{cid}")
            .parquet(*[f"{table}/{d}" for d in sorted(dirs)]),
        )
        for cid, dirs in sorted(by_commit.items())
    ]


def _per_commit(monkeypatch, fn):
    """``fn()`` with every commit scanned on its own, then unioned by
    name, as the oracle for the grouped read."""
    with monkeypatch.context() as mp:
        mp.setattr(snap, "_commit_scans", _per_commit_scans)
        snap._FRAME_MEMO.clear()
        out = fn()
    snap._FRAME_MEMO.clear()
    return out


def _trickle_shaped(spark, table):
    # the ingest layout: a string topic, then int event-time keys; each
    # commit lands two hours
    for c in range(4):
        rows = [(c * 10 + i, "lnd.ratecard", 2024, 3, 1 + c, i % 2) for i in range(6)]
        snapshot_append(spark, table, spark.createDataFrame(
            rows, "id long, topic string, y int, m int, d int, h int"),
            ["topic", "y", "m", "d", "h"])


def _int_vs_bigint(spark, table):
    snapshot_append(spark, table, spark.createDataFrame(
        [(1, 1), (2, 2)], "id long, q long"), ["q"])
    snapshot_append(spark, table, spark.createDataFrame(
        [(3, 3_000_000_000)], "id long, q long"), ["q"])
    snapshot_append(spark, table, spark.createDataFrame(
        [(4, 5)], "id long, q long"), ["q"])


def _null_beside_int(spark, table):
    snapshot_append(spark, table, spark.createDataFrame(
        [(1, 1)], "id long, q long"), ["q"])
    snapshot_append(spark, table, spark.createDataFrame(
        [(2, None)], "id long, q long"), ["q"])
    snapshot_append(spark, table, spark.createDataFrame(
        [(3, 2), (4, None)], "id long, q long"), ["q"])


#: scans a grouped read of the shape takes, where the shape pins it: the
#: trickle commits share one signature; an int and a bigint value of q
#: are two (joint inference would widen the int commits' q)
_SCANS = {_trickle_shaped: 1, _int_vs_bigint: 2}


@pytest.mark.parametrize(
    "build",
    [
        _trickle_shaped,
        _int_vs_bigint,
        _null_beside_int,
        _evo_added,
        _evo_renamed,
        _evo_dropped,
        _evo_mixed_layout,
        _evo_hidden_transform,
        _evo_mor_deleted,
        _evo_stripped,
    ],
    ids=lambda f: f.__name__.lstrip("_").removeprefix("evo_"),
)
def test_grouped_read_equals_per_commit_union(spark, table, monkeypatch, build):
    build(spark, table)
    snap._FRAME_MEMO.clear()
    got = snapshot_read(spark, table)
    want = _per_commit(monkeypatch, lambda: snapshot_read(spark, table))
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    if build in _SCANS:
        assert _n_scans(got) == _SCANS[build]


def test_null_only_partition_commit_reads_beside_int_commits(spark, table):
    # the NULL-only commit infers q as void; the union widens it to int
    _null_beside_int(spark, table)
    got = snapshot_read(spark, table)
    assert got.schema["q"].dataType.simpleString() == "int"
    assert sorted((r["id"], r["q"]) for r in got.collect()) == [
        (1, 1), (2, None), (3, 2), (4, None)
    ]


def test_date_and_string_partition_commits_still_raise(spark, table, monkeypatch):
    # one commit's p infers date, the next one's string: separate read
    # signatures, and the union still hits the partition-family gate
    snapshot_append(spark, table, spark.createDataFrame(
        [(1, "2024-01-01")], "id long, p string"), ["p"])
    snapshot_append(spark, table, spark.createDataFrame(
        [(2, "abc")], "id long, p string"), ["p"])
    for read in (
        lambda: snapshot_read(spark, table),
        lambda: _per_commit(monkeypatch, lambda: snapshot_read(spark, table)),
    ):
        snap._FRAME_MEMO.clear()
        with pytest.raises(ValueError, match="mixes incompatible types"):
            read()


def test_building_a_long_partitioned_read_lists_on_the_driver(spark, table):
    """40 partition dirs over 20 commits: above Spark's parallel-listing
    threshold (32 root paths) a single scan would list them with a Spark
    job, so the group splits into two scans and building runs none."""
    for c in range(20):
        snapshot_append(spark, table, spark.createDataFrame(
            [(c, "a"), (c, "b")], "id long, p string"), ["p"])
    snap._FRAME_MEMO.clear()
    built = []
    assert _jobs_in(spark, lambda: built.append(snapshot_read(spark, table))) == 0
    assert _n_scans(built[0]) <= 2
    assert built[0].count() == 40
