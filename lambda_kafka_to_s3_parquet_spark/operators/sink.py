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
    parts = {"y": F.year, "m": F.month, "d": F.dayofmonth, "h": F.hour}
    wanted = partition_cols(granularity)
    # One withColumns: one eager analysis instead of one per column.
    return df.withColumns({c: f(ts) for c, f in parts.items() if c in wanted})


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
) -> WriteMetrics:
    """Land a decoded batch under the Hive-partitioned layout, observed.

    One job: the observation rides the write (no second scan of the
    batch). Returns the v2 handler's filename metrics as a struct."""
    pcols = list(partition_cols(granularity))
    obs = Observation("write_metrics")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("total"),
        F.approx_count_distinct(key_col).alias("distinct_keys"),
    )
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

    Tables that also need recorded zone maps use the snapshot form of
    the same layout: ``snapshot_overwrite_all(order_by=…, stats_cols=…)``
    read through ``snapshot_read(skip_where=…)``."""
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in cluster_cols])
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode)
        .parquet(path)
    )


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
