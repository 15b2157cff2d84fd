"""Date-partitioned Parquet sink + batch write metrics (SURVEY.md §2.4, M2).

The reference lands one file per invocation under
``{base}/{topic}/{yyyy}/{MM}/{dd}/{HH}/`` (lambda_function.py:71-116,
partition path at :76-77) and, in v2, embeds total/distinct record counts
in the filename (lambda_function_with_AWS_datawrangler.py:63-90).

Spark-first re-expression:

* partition columns are real columns + ``partitionBy`` — Hive-style
  ``topic=…/y=…/m=…/d=…/h=…`` layout, which upgrades the reference's bare
  path convention to something Catalyst can PRUNE (read-back queries with
  partition predicates scan only matching directories);
* partitioning defaults to **event time** (the Kafka record timestamp the
  reference carried but ignored — SURVEY §2.5); wall-clock mode matches
  the reference's ``utcnow()`` behavior when explicitly requested;
* write metrics use ``df.observe`` — collected by the SAME job that writes
  (no second scan), the streaming-compatible replacement for the v2
  handler's count/distinct pass. Distinct is ``approx_count_distinct``:
  exact distinct inside observe would force a per-batch shuffle, and at
  100 TB the HLL sketch (~1.6% err) is the correct scale/precision trade —
  the exact number stays available as a query (i03_batch_metrics).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

#: Hive-partition layout of the landed table (hourly granularity).
PARTITION_COLS = ("topic", "y", "m", "d", "h")


def partition_cols(granularity: str = "hour") -> tuple[str, ...]:
    """Partition column set for a granularity (SURVEY §2.6 knob): the
    reference's v1 handler partitions hourly (lambda_function.py:76), v2
    daily (lambda_function_with_AWS_datawrangler.py:77)."""
    if granularity == "hour":
        return PARTITION_COLS
    if granularity == "day":
        return PARTITION_COLS[:-1]
    raise ValueError(f"granularity must be 'hour' or 'day' (got {granularity!r})")


def with_partition_columns(
    df: DataFrame,
    ts_col: str | None = "kafka_ts",
    wall_clock: bool = False,
    granularity: str = "hour",
) -> DataFrame:
    """Add y/m/d[/h] partition columns.

    ``ts_col`` holds epoch millis (the Kafka record timestamp). With
    ``wall_clock=True`` partitions come from ``current_timestamp()``
    instead — the reference's utcnow() semantics (lambda_function.py:57).
    ``granularity='day'`` reproduces the v2 handler's daily layout.
    """
    ts = F.current_timestamp() if wall_clock else F.timestamp_millis(F.col(ts_col))
    out = (
        df.withColumn("y", F.year(ts))
        .withColumn("m", F.month(ts))
        .withColumn("d", F.dayofmonth(ts))
    )
    if partition_cols(granularity)[-1] == "h":
        out = out.withColumn("h", F.hour(ts))
    return out


@dataclass(frozen=True)
class WriteMetrics:
    total_records: int
    approx_distinct_keys: int


def write_partitioned(
    df: DataFrame,
    path: str,
    key_col: str = "SRC_KEY_VAL",
    mode: str = "append",
    granularity: str = "hour",
    stats_cols: list[str] | None = None,
) -> WriteMetrics:
    """Land a decoded batch under the Hive-partitioned layout, observed.

    One job: the observation rides the write (no second scan of the
    batch). Returns the v2 handler's filename metrics as a struct.

    ``stats_cols`` publishes per-partition ZONE MAPS (min/max of each
    stat column) into the table's ``_zone_maps.json`` sidecar — the same
    data-skipping statistic the snapshot manifests carry, for plain
    sink tables. Stats are derived from the BATCH itself (one extra
    batch-sized groupBy on the partition tuple, never a table rescan)
    and MERGE-WIDEN into existing entries on append, so they stay a
    superset of every stats-aware write. :func:`read_pruned` consumes
    them. Contract: a writer that bypasses ``stats_cols`` leaves its
    partitions' entries stale-but-WIDER-only if it only appends rows
    inside existing bounds; to stay safe, route every writer of a
    stats-bearing table through this function (a bypassed write is why
    readers must — and do — treat absent entries conservatively)."""
    pcols = list(partition_cols(granularity))
    obs = Observation("write_metrics")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("total"),
        F.approx_count_distinct(key_col).alias("distinct_keys"),
    )
    # Zone maps are widened BEFORE the data lands: bounds only ever grow,
    # so a pre-widened entry is always conservative — a crash between the
    # two steps leaves bounds wider than the data (harmless extra reads).
    # The old write-then-widen order left an existing entry NARROWER than
    # the partition after a crash, silently skipping matching rows on
    # read (round-9 advice, medium).
    if stats_cols:
        _merge_partition_stats(df, path, pcols, stats_cols, granularity)
    observed.write.mode(mode).partitionBy(*pcols).parquet(path)
    got = obs.get
    return WriteMetrics(int(got["total"]), int(got["distinct_keys"]))


def read_partition(
    spark: SparkSession,
    path: str,
    topic: str | None = None,
    y: int | None = None,
    m: int | None = None,
    d: int | None = None,
    h: int | None = None,
) -> DataFrame:
    """Partition-pruned read-back (check_parquet.py:87-94 semantics).

    Predicates on partition columns prune at planning time — the scan
    touches only matching ``topic=…/y=…/…`` directories, the Spark upgrade
    of the reference's hand-built path glob.
    """
    df = spark.read.parquet(path)
    for col, val in (("topic", topic), ("y", y), ("m", m), ("d", d), ("h", h)):
        if val is not None:
            df = df.filter(F.col(col) == val)
    return df


def compact_partitions(
    spark: SparkSession,
    path: str,
    topic: str | None = None,
    max_records_per_file: int | None = None,
    granularity: str = "hour",
) -> DataFrame:
    """Compact small files within each Hive partition (1 file/partition).

    The reference lands ONE parquet file per Lambda invocation
    (lambda_function.py:71-116) — at production rates that is thousands of
    tiny files per hour-partition, the classic small-file problem that
    throttles every later scan (task-per-file scheduling, NN/S3 listing).
    The Spark-native maintenance pass:

    * read the landed dataset (optionally pruned to one ``topic``),
    * one shuffle keyed on the partition columns so each Hive partition's
      rows land in a single task,
    * rewrite with **dynamic partition overwrite** — only partitions
      actually present in the read are replaced; everything else on the
      sink is untouched (writer-level option, no global conf mutation).

    ``max_records_per_file`` bounds file size for oversized partitions (at
    100 TB you'd set it to ~target_bytes/avg_row_size so hot hours split
    into N full-size files instead of one huge one). Returns the
    per-partition file counts after compaction (1 file per partition
    unless the bound split it).

    Not concurrency-safe against in-flight readers of the same partitions
    — at production scale this runs as a scheduled maintenance job on
    closed (past-watermark) partitions only.
    """
    cols = partition_cols(granularity)
    df = read_partition(spark, path, topic=topic)
    writer = (
        df.repartition(*[F.col(c) for c in cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.partitionBy(*cols).parquet(path)
    return (
        read_partition(spark, path, topic=topic)
        .withColumn("_file", F.input_file_name())
        .groupBy(*cols)
        .agg(
            F.countDistinct("_file").alias("n_files"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def verify_landed(spark: SparkSession, path: str, sample_rows: int = 5) -> dict:
    """Read-back verification of a landed dataset (check_parquet.py:53-100
    upgraded from eyeball prints to returned data).

    The reference printed schema/count/sample for a human to inspect; this
    returns them so tests assert on them. One scan job for the count, one
    bounded scan for the sample.
    """
    df = spark.read.parquet(path)
    return {
        "schema": df.schema.simpleString(),
        "columns": df.columns,
        "n_rows": df.count(),
        "sample": [r.asDict() for r in df.limit(sample_rows).collect()],
    }


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int = 8,
    mode: str = "overwrite",
    stats_cols: list[str] | None = None,
) -> None:
    """Write parquet clustered (range-partitioned + sorted) on columns.

    Data LAYOUT is the other half of scan performance at 100 TB: parquet
    row-group min/max statistics only skip data when values are actually
    clustered, and file-level skipping only works when each file covers a
    narrow value range. ``repartitionByRange`` on the cluster columns
    gives each output file a disjoint range; ``sortWithinPartitions``
    tightens every row group's min/max inside the file. A range probe on
    the leading cluster column then touches ~(selectivity × n_files)
    files instead of all of them — the same effect Delta's OPTIMIZE
    ZORDER / Iceberg's sort orders buy, expressed with stock Spark.

    Trade-offs, stated: one range shuffle (sampling pass + exchange) per
    write — worth it for any table scanned more often than written; for
    multi-column probes with independent predicates, interleaved (Z-order/
    Hilbert) keys beat lexicographic sorting, and this writer accepts a
    precomputed interleave expression as a cluster column for that case.

    ``stats_cols`` publishes per-FILE zone maps into ``_zone_maps.json``
    (file granularity — the clustered layout writes one flat dir, so
    dir-level stats would be vacuous), collected by reading back the
    just-written files grouped on ``_metadata.file_path`` (one
    write-sized scan, the snapshot manifests' collection tactic).
    Requires ``mode="overwrite"``: the sidecar then lists EXACTLY the
    table's files ("complete"), so :func:`read_pruned` may scan only
    surviving paths."""
    if stats_cols and mode != "overwrite":
        raise ValueError(
            "write_clustered stats_cols requires mode='overwrite' — the "
            "file-level sidecar must be the complete registry of the dir"
        )
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in cluster_cols])
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode)
        .parquet(path)
    )
    if stats_cols:
        _publish_file_stats(df.sparkSession, path, stats_cols)


def files_touched(df: DataFrame) -> int:
    """Number of distinct files a (filtered) scan actually reads — the
    measurable half of the layout claim; tests assert clustered layouts
    touch a strict subset where unclustered layouts touch them all."""
    return df.select(F.input_file_name().alias("f")).distinct().count()


def interleave_bits(a, b, bits: int = 21):
    """Z-order (Morton) key: interleave the low ``bits`` of two
    non-negative ints, entirely in codegen'd JVM bit ops.

    Lexicographic clustering on (x, y) only skips files for probes on x;
    sorting by the interleaved key gives every file a small rectangle of
    (x, y) space, so range probes on EITHER column skip files — the
    Z-ORDER layout Delta's OPTIMIZE and Iceberg's sort orders offer,
    expressed as one DataFrame expression feeding
    :func:`write_clustered`.

    Callers bucketize raw values into [0, 2^bits) first (epoch seconds
    divided to minutes/hours, ids modulo a bucket count): interleaving
    preserves locality of the BUCKETS, and 2×21 bits keep the key inside
    a positive long. Negative inputs are a contract violation (sign bits
    would shuffle to the top of the key and destroy locality).
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    key = F.lit(0).cast("bigint")
    for i in range(bits):
        abit = F.shiftright(a.cast("bigint"), i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b.cast("bigint"), i).bitwiseAND(F.lit(1))
        key = key.bitwiseOR(F.shiftleft(abit, 2 * i)).bitwiseOR(
            F.shiftleft(bbit, 2 * i + 1)
        )
    return key


# ---------------------------------------------------------------------------
# Zone maps for PLAIN sink tables (no snapshot manifest): the same per-unit
# min/max data-skipping stats that `operators/snapshots._collect_dir_pruning`
# (the one read-back pass that builds zone maps and blooms together)
# publishes into manifests, as a `_zone_maps.json` sidecar at the table
# root — partition-tuple granularity for the hive-partitioned sink,
# file granularity for the clustered/Z-ordered layout writers. Readers go
# through `read_pruned`, which is CONSERVATIVE by construction: it only
# EXCLUDES units whose recorded range provably cannot match — anything
# unknown (a dir written without stats, a missing sidecar) is read.
# skip_where never implements the predicate; callers still apply the real
# filter, exactly as with `snapshot_read`.
# ---------------------------------------------------------------------------

ZONE_MAP_FILE = "_zone_maps.json"  # legacy unversioned name, still readable
_ZONE_MAP_RE = None  # compiled lazily (module imports stay light)


def _zone_map_versions(spark: SparkSession, path: str):
    """(fs, jvm-Path factory, {version: filename}) for the table's
    versioned ``_zone_maps.v<N>.json`` sidecars. The legacy unversioned
    file reads as version 0 when no versioned sidecar exists."""
    import re

    from .rollup import _marker_fs

    global _ZONE_MAP_RE
    if _ZONE_MAP_RE is None:
        _ZONE_MAP_RE = re.compile(r"^_zone_maps\.v(\d+)\.json$")
    fs, root = _marker_fs(spark, path)
    versions: dict[int, str] = {}
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            m = _ZONE_MAP_RE.match(name)
            if m:
                versions[int(m.group(1))] = name
    return fs, versions


def _read_zone_maps_versioned(spark: SparkSession, path: str) -> tuple[dict, int]:
    """(sidecar dict, version) — the MAX versioned sidecar, falling back
    to the legacy unversioned file as version 0; ({}, 0) when none."""
    import json

    from .rollup import _marker_fs

    fs, versions = _zone_map_versions(spark, path)
    if versions:
        v = max(versions)
        _, p = _marker_fs(spark, f"{path}/{versions[v]}")
    else:
        v = 0
        _, p = _marker_fs(spark, f"{path}/{ZONE_MAP_FILE}")
        if not fs.exists(p):
            return {}, 0
    stream = fs.open(p)
    try:
        raw = bytes(stream.readAllBytes())
    finally:
        stream.close()
    return json.loads(raw.decode("utf-8")), v


def read_zone_maps(spark: SparkSession, path: str) -> dict:
    """The table's zone-map sidecar, or {} when none was ever published."""
    return _read_zone_maps_versioned(spark, path)[0]


def _publish_zone_maps_cas(
    spark: SparkSession, path: str, maps: dict, base_version: int
) -> bool:
    """Compare-and-swap publish: land ``maps`` as version
    ``base_version + 1`` via tmp + rename to a FRESH name (atomic on
    every Hadoop filesystem; rename-to-existing fails). Returns False
    when another writer already published that version — the caller
    re-reads THEIR state and re-merges, so no widening is ever lost
    (the round-10 advice: the old read-compare-replace narrowed but
    never closed the lost-update window; a fresh-name rename closes
    it the same way the snapshot markers do). Older versions and the
    legacy unversioned file are best-effort deleted after a win."""
    import json
    import uuid

    from .rollup import _marker_fs

    target = f"{path}/_zone_maps.v{base_version + 1:05d}.json"
    fs, final = _marker_fs(spark, target)
    if fs.exists(final):
        return False  # fast-path loss
    _, tmp = _marker_fs(spark, f"{target}.tmp-{uuid.uuid4().hex}")
    stream = fs.create(tmp, True)
    try:
        stream.write(json.dumps(maps).encode("utf-8"))
    finally:
        stream.close()
    if not fs.rename(tmp, final):
        fs.delete(tmp, False)
        return False  # lost the CAS to a concurrent writer
    _, versions = _zone_map_versions(spark, path)
    for v, name in versions.items():
        if v <= base_version:
            _, old = _marker_fs(spark, f"{path}/{name}")
            fs.delete(old, False)
    _, legacy = _marker_fs(spark, f"{path}/{ZONE_MAP_FILE}")
    fs.delete(legacy, False)
    return True


def _write_zone_maps(spark: SparkSession, path: str, maps: dict) -> None:
    """Unconditional publish (single-writer overwrite paths — the
    clustered-layout writers, whose data write itself isn't concurrent-
    safe): retries the CAS from the latest version until it lands."""
    for _ in range(25):
        _, v = _read_zone_maps_versioned(spark, path)
        if _publish_zone_maps_cas(spark, path, maps, v):
            return
    raise OSError(f"zone-map publish failed for {path}")


def _norm_stat(v):
    """JSON-comparable bound: numbers as-is, everything else via str
    (ISO timestamps/dates order lexicographically) — the snapshot
    manifests' normalization, shared by the read-side overlap test."""
    if isinstance(v, bool) or v is None:
        return None if v is None else str(v)
    return v if isinstance(v, (int, float)) else str(v)


def _merge_partition_stats(
    df: DataFrame,
    path: str,
    pcols: list[str],
    stats_cols: list[str],
    granularity: str,
) -> None:
    """Fold the batch's per-partition-tuple min/max into the sidecar.

    Stats come from the BATCH (it carries its partition columns), keyed
    by the partition VALUE tuple — never by reconstructed hive dir names
    (null-encoding/URL-escaping drift risk; the reader prunes by VALUES
    through ordinary partition pruning, so paths are never needed).
    Append mode widens existing bounds; bounds only ever grow, so the
    sidecar stays a superset of all stats-aware writes.

    Concurrent writers: the publish is a real COMPARE-AND-SWAP — each
    attempt lands as a FRESH versioned sidecar name (rename-to-existing
    fails atomically, the snapshot-marker primitive), so a racing
    writer's widening can never be silently clobbered: the loser
    re-reads the winner's published state and re-merges from it
    (round-10 advice — the old read-compare-replace narrowed but never
    closed the lost-update window). Every CAS loss means some OTHER
    writer made progress, so the retry bound is a storm diagnostic,
    not a livelock risk; exhausting it fails BEFORE the data lands,
    which is the safe side (bounds pre-widen before data — see
    write_partitioned)."""
    spark = df.sparkSession
    aggs = []
    for c in stats_cols:
        aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
    rows = df.groupBy(*pcols).agg(*aggs).collect()

    import json

    for _attempt in range(25):
        maps, ver = _read_zone_maps_versioned(spark, path)
        if maps and maps.get("kind") != "partitions":
            raise ValueError(
                f"{path} carries {maps.get('kind')!r} zone maps; cannot "
                "merge partition-tuple stats into a file-granularity sidecar"
            )
        entries = {k: dict(v) for k, v in maps.get("entries", {}).items()}
        for r in rows:
            key = json.dumps([_norm_stat(r[c]) for c in pcols])
            cur = entries.get(key, {})
            for c in stats_cols:
                lo, hi = _norm_stat(r[f"_lo_{c}"]), _norm_stat(r[f"_hi_{c}"])
                if lo is None or hi is None:
                    cur.pop(c, None)  # all-null batch column: no claim
                    continue
                if c in cur:
                    cur[c] = [min(cur[c][0], lo), max(cur[c][1], hi)]
                else:
                    cur[c] = [lo, hi]
            entries[key] = cur
        if _publish_zone_maps_cas(
            spark,
            path,
            {"kind": "partitions", "pcols": pcols,
             "granularity": granularity, "entries": entries},
            ver,
        ):
            return
    raise OSError(
        f"zone-map merge for {path} lost the CAS 25 times — concurrent "
        "writer storm; serialize writers (each loss means another writer "
        "published, so no widening was lost)"
    )


def _publish_file_stats(spark: SparkSession, path: str, stats_cols: list[str]) -> None:
    """Per-file zone maps for a just-overwritten flat dir, read back from
    the files themselves via ``_metadata.file_path`` (never re-derived)."""
    df = spark.read.parquet(path)
    aggs = []
    for c in stats_cols:
        aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
    rows = (
        df.withColumn("_f", F.expr("regexp_replace(_metadata.file_path, '^.*/', '')"))
        .groupBy("_f")
        .agg(*aggs)
        .collect()
    )
    entries = {}
    for r in rows:
        stats = {}
        for c in stats_cols:
            lo, hi = _norm_stat(r[f"_lo_{c}"]), _norm_stat(r[f"_hi_{c}"])
            if lo is not None and hi is not None:
                stats[c] = [lo, hi]
        entries[r["_f"]] = stats
    _write_zone_maps(
        spark, path, {"kind": "files", "complete": True, "entries": entries}
    )


def read_pruned(
    spark: SparkSession, path: str, skip_where: list[tuple] | None = None
) -> DataFrame:
    """Zone-map-pruned scan of a plain sink table (the `snapshot_read
    (skip_where=…)` shape for tables without a manifest).

    ``skip_where=[(col, lo, hi), …]``: units whose recorded [min, max]
    for ``col`` cannot intersect [lo, hi] are dropped from the scan —
    partition-tuple units via an EXCLUSION predicate on the partition
    columns (ordinary Catalyst partition pruning drops their dirs at
    planning; dirs absent from the sidecar are untouched by the
    exclusion and therefore read: conservative without ever listing),
    file units by scanning only surviving paths (sound because the
    file sidecar is the complete registry of an overwrite). The caller
    still applies the real filter — pruning only shrinks the scan."""
    df = spark.read.parquet(path)
    if not skip_where:
        return df
    maps = read_zone_maps(spark, path)
    if not maps:
        return df

    def disjoint(stats: dict) -> bool:
        for col, lo, hi in skip_where:
            if col in stats:
                dlo, dhi = stats[col]
                if _norm_stat(lo) > dhi or _norm_stat(hi) < dlo:
                    return True
        return False

    import json

    if maps["kind"] == "partitions":
        pcols = maps["pcols"]
        excluded = [
            json.loads(k) for k, stats in maps["entries"].items() if disjoint(stats)
        ]
        if not excluded:
            return df
        # ONE NOT(OR(...)) predicate, not a chained filter per tuple —
        # thousands of excluded partitions otherwise stack thousands of
        # Filter nodes into the plan before the collapse rule sees them
        exclusion = None
        for vals in excluded:
            cond = F.lit(True)
            for c, v in zip(pcols, vals):
                cond = cond & (
                    F.col(c).isNull() if v is None
                    else (F.col(c).cast("string") == F.lit(str(v)))
                )
            exclusion = cond if exclusion is None else (exclusion | cond)
        return df.filter(~exclusion)

    # file granularity: scan only surviving paths
    keep = [f for f, stats in maps["entries"].items() if not disjoint(stats)]
    if not keep:
        return df.limit(0)
    return spark.read.parquet(*[f"{path}/{f}" for f in keep])
