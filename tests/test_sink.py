"""Round-trip tests for the partitioned Parquet sink (SURVEY.md §2.4, M2):
decode golden event → land Hive-partitioned → read back pruned, with the
physical plan proving partition pruning actually happened."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lambda_kafka_to_s3_parquet_spark.operators.sink import (
    PARTITION_COLS,
    read_partition,
    with_partition_columns,
    write_partitioned,
)
from lambda_kafka_to_s3_parquet_spark.plans.ingest import GOLDEN_TOPIC, decoded_golden


@pytest.fixture(scope="module")
def landed(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("landed") / "ratecard")
    df = with_partition_columns(decoded_golden(spark))
    metrics = write_partitioned(df, path)
    return path, metrics


def test_write_metrics_match_v2_semantics(spark, landed):
    _, metrics = landed
    assert metrics.total_records == 16
    # golden batch has 8 distinct SRC_KEY_VALs; HLL is exact at this tiny n
    assert metrics.approx_distinct_keys == decoded_golden(spark).select(
        "SRC_KEY_VAL"
    ).distinct().count()


def test_hive_partition_layout(landed):
    path, _ = landed
    assert os.path.isdir(os.path.join(path, f"topic={GOLDEN_TOPIC}"))
    # fixture kafka_ts = 1625877624954 -> 2021-07-10 00:40:24 UTC
    assert os.path.isdir(
        os.path.join(path, f"topic={GOLDEN_TOPIC}", "y=2021", "m=7", "d=10", "h=0")
    )


def test_roundtrip_values(spark, landed):
    path, _ = landed
    back = spark.read.parquet(path)
    assert back.count() == 16
    want = {r["SRC_KEY_VAL"] for r in decoded_golden(spark).collect()}
    got = {r["SRC_KEY_VAL"] for r in back.collect()}
    assert got == want
    for c in PARTITION_COLS:
        assert c in back.columns


def test_partition_pruned_scan(spark, landed):
    path, _ = landed
    pruned = read_partition(spark, path, topic=GOLDEN_TOPIC, y=2021, m=7, d=10, h=0)
    assert pruned.count() == 16
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition predicates must show up as PartitionFilters on the scan,
    # NOT as post-scan data Filters
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1].split("]")[0]
    assert "topic" in seg and "y" in seg and "h" in seg

    empty = read_partition(spark, path, topic=GOLDEN_TOPIC, y=1999)
    assert empty.count() == 0


def test_wall_clock_partitioning(spark):
    df = with_partition_columns(decoded_golden(spark), wall_clock=True)
    row = df.select("y", "m", "d", "h").first()
    import datetime

    now = datetime.datetime.now(datetime.timezone.utc)
    assert row["y"] == now.year


def test_partition_columns_append_in_order_from_kafka_millis(spark):
    # 2021-09-02T20:03:21.008Z, the Kafka timestamp of the reference sample.
    df = spark.createDataFrame([(1630613001008, "k")], "kafka_ts long, v string")
    hourly = with_partition_columns(df)
    assert hourly.columns == ["kafka_ts", "v", "y", "m", "d", "h"]
    assert tuple(hourly.first())[2:] == (2021, 9, 2, 20)
    assert with_partition_columns(df, granularity="day").columns[2:] == ["y", "m", "d"]


def test_verify_landed_readback(spark, landed):
    from lambda_kafka_to_s3_parquet_spark.operators.sink import verify_landed

    path, _ = landed
    got = verify_landed(spark, path)
    assert got["n_rows"] == 16
    assert "RATE_CARD_ID" in got["columns"] and "topic" in got["columns"]
    assert len(got["sample"]) == 5
    assert "struct<" in got["schema"]


def test_decode_throughput_query(spark):
    from lambda_kafka_to_s3_parquet_spark.plans.ingest import i06_decode_throughput

    row = i06_decode_throughput(spark, "").collect()[0]
    assert row["n_decoded"] == 20_000
    assert row["n_corrupt"] == 0
    assert row["distinct_keys"] == 997


def test_compact_partitions(spark, tmp_path):
    from lambda_kafka_to_s3_parquet_spark.operators.sink import compact_partitions

    path = str(tmp_path / "compact")
    df = with_partition_columns(decoded_golden(spark))
    other = df.withColumn("topic", F.lit("other_topic"))
    for _ in range(3):
        write_partitioned(df, path)
    for _ in range(2):
        write_partitioned(other, path)

    def files_for(topic: str) -> int:
        return (
            spark.read.parquet(path)
            .filter(F.col("topic") == topic)
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    assert files_for(GOLDEN_TOPIC) >= 3
    n_other_before = files_for("other_topic")

    stats = compact_partitions(spark, path, topic=GOLDEN_TOPIC)
    rows = stats.collect()
    assert rows and all(r["n_files"] == 1 for r in rows)
    back = spark.read.parquet(path)
    assert back.filter(F.col("topic") == GOLDEN_TOPIC).count() == 48
    # dynamic overwrite: the other topic's partitions are untouched
    assert back.filter(F.col("topic") == "other_topic").count() == 32
    assert files_for("other_topic") == n_other_before

    # the file-size bound splits an oversized partition into ceil(48/20)=3
    stats2 = compact_partitions(
        spark, path, topic=GOLDEN_TOPIC, max_records_per_file=20
    )
    assert all(r["n_files"] == 3 for r in stats2.collect())


def test_append_mode_accumulates(spark, landed, tmp_path):
    path = str(tmp_path / "accum")
    df = with_partition_columns(decoded_golden(spark))
    write_partitioned(df, path)
    write_partitioned(df, path)
    assert spark.read.parquet(path).count() == 32


def test_sse_kms_encryption_confs_land(spark):
    """The SSE-KMS knob must land the reference's fs.s3a encryption confs
    (lambda_function.py:96-105 / check_parquet.py:37-51 parity) on the
    session's Hadoop configuration."""
    from lambda_kafka_to_s3_parquet_spark.session import configure_encryption

    arn = "arn:aws:kms:us-east-1:000000000000:key/test-key"
    applied = configure_encryption(spark, kms_key_arn=arn)
    assert applied == {
        "fs.s3a.server-side-encryption-algorithm": "SSE-KMS",
        "fs.s3a.server-side-encryption.key": arn,
    }
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    assert hc.get("fs.s3a.server-side-encryption-algorithm") == "SSE-KMS"
    assert hc.get("fs.s3a.server-side-encryption.key") == arn

    # SSE-S3 variant: algorithm only, no key
    assert configure_encryption(spark, algorithm="AES256") == {
        "fs.s3a.server-side-encryption-algorithm": "AES256"
    }
    # off = no-op
    assert configure_encryption(spark) == {}


def test_daily_partition_granularity(spark, tmp_path):
    """granularity='day' must reproduce the v2 handler's daily layout
    (topic/y/m/d, no hour directory) and still prune on day."""
    import os

    from lambda_kafka_to_s3_parquet_spark.operators.sink import (
        partition_cols,
        read_partition,
        with_partition_columns,
        write_partitioned,
    )
    from lambda_kafka_to_s3_parquet_spark.plans.ingest import decoded_golden

    assert partition_cols("day") == ("topic", "y", "m", "d")
    with pytest.raises(ValueError):
        partition_cols("minute")

    path = str(tmp_path / "daily")
    d = with_partition_columns(decoded_golden(spark), granularity="day")
    assert "h" not in d.columns
    m = write_partitioned(d, path, granularity="day")
    assert m.total_records == 16

    walked = {root for root, _, files in os.walk(path) if files}
    assert not any("/h=" in w for w in walked)
    assert any("/d=" in w for w in walked)

    days = [r["d"] for r in d.select("d").distinct().collect()]
    pruned = read_partition(spark, path, d=days[0])
    assert pruned.count() == d.filter(F.col("d") == days[0]).count() > 0


def test_clustered_layout_touches_fewer_files_than_scattered(spark, sf_dir):
    """The write-side layout claims, measured per (layout, probe):
    scattered skips nothing; range clustering skips only on its leading
    column; the Z-order layout skips on BOTH the time and user probes."""
    from lambda_kafka_to_s3_parquet_spark.plans import all_specs

    rows = {
        (r["layout"], r["probe"]): r
        for r in all_specs()["x34_clustered_layout"].fn(spark, sf_dir).collect()
    }
    total = rows[("scattered", "ts_quarter")]["total_files"]
    assert all(r["total_files"] == total for r in rows.values())
    for probe in ("ts_quarter", "user_quarter"):
        # identical answers across layouts
        ns = {r["n_rows"] for (lay, p), r in rows.items() if p == probe}
        assert len(ns) == 1 and ns.pop() > 0
        # the scattered baseline reads everything
        assert rows[("scattered", probe)]["files_touched"] == total
    # range clustering: skips on ts, helpless on the other dimension
    assert rows[("range_ts", "ts_quarter")]["files_touched"] <= (total * 3) // 4
    assert rows[("range_ts", "user_quarter")]["files_touched"] == total
    # z-order: both probes skip
    assert rows[("zorder", "ts_quarter")]["files_touched"] <= (total * 3) // 4
    assert rows[("zorder", "user_quarter")]["files_touched"] <= (total * 3) // 4


def test_physical_file_skipping_matches_layout_claims(spark, tmp_path):
    """The PHYSICAL half of x34's zone-map census (x34's registered form
    went deterministic/oracle-checked in round 9): really write the
    three layouts with write_clustered / interleave_bits and count the
    files a filtered scan touches via input_file_name(). Scattered reads
    everything; range clustering skips on its leading column only;
    Z-order skips on both probe dimensions."""
    from lambda_kafka_to_s3_parquet_spark.operators.sink import (
        files_touched,
        interleave_bits,
        write_clustered,
    )
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "value"
    )
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    span = max((hi - lo).total_seconds(), 1.0)
    tbucket = F.least(
        (
            (
                F.unix_timestamp(F.col("ts").cast("timestamp"))
                - F.unix_timestamp(F.lit(lo).cast("timestamp"))
            )
            / F.lit(span / 1024)
        ).cast("bigint"),
        F.lit(1023),
    )
    ubucket = F.pmod(F.xxhash64("user_id"), F.lit(1024))

    n_files = 16
    base = tmp_path / "layouts"
    events.repartition(n_files).write.parquet(str(base / "scattered"))
    write_clustered(events, str(base / "range_ts"), ["ts"], n_files=n_files)
    write_clustered(
        events.withColumn("zkey", interleave_bits(tbucket, ubucket, bits=10)),
        str(base / "zorder"),
        ["zkey"],
        n_files=n_files,
    )

    quarter = lo + (hi - lo) / 4
    probes = {
        "ts": (F.col("ts") >= lo) & (F.col("ts") < quarter),
        "user": ubucket < 256,
    }
    touched = {}
    for layout in ("scattered", "range_ts", "zorder"):
        df = spark.read.parquet(str(base / layout))
        total = files_touched(df)
        assert total == n_files
        for pname, pred in probes.items():
            touched[(layout, pname)] = files_touched(df.filter(pred))

    assert touched[("scattered", "ts")] == n_files
    assert touched[("scattered", "user")] == n_files
    assert touched[("range_ts", "ts")] <= (n_files * 3) // 4
    assert touched[("range_ts", "user")] == n_files
    assert touched[("zorder", "ts")] <= (n_files * 3) // 4
    assert touched[("zorder", "user")] <= (n_files * 3) // 4


def test_write_clustered_sorts_within_files(spark, tmp_path):
    """Each clustered file must be internally sorted on the cluster column
    (tight row-group min/max is the point of the layout)."""
    from lambda_kafka_to_s3_parquet_spark.operators.sink import write_clustered
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "clu")
    write_clustered(events.select("event_id", "ts"), path, ["ts"], n_files=4)
    got = (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("f"), "ts")
        .collect()
    )
    by_file: dict[str, list] = {}
    for r in got:
        by_file.setdefault(r["f"], []).append(r["ts"])
    assert len(by_file) >= 2
    for ts_list in by_file.values():
        assert ts_list == sorted(ts_list)  # parquet preserves write order
    # disjoint ranges: files ordered by min must not overlap
    spans = sorted((min(v), max(v)) for v in by_file.values())
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2
