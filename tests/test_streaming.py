"""Streaming semantics tests (SURVEY.md §2.5, M3): exactly-once ingest via
checkpoint, watermark-gated append windows, micro-batch file triggers."""

from __future__ import annotations

import base64
import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from lambda_kafka_to_s3_parquet_spark.operators.snapshots import (
    current_version,
    snapshot_read,
)
from lambda_kafka_to_s3_parquet_spark.plans.ingest import GOLDEN_EVENT, GOLDEN_TOPIC
from lambda_kafka_to_s3_parquet_spark.session import load_table
from lambda_kafka_to_s3_parquet_spark.sources.avro_codec import (
    SchemaProvider,
    confluent_wrap,
    encode_avro_record,
)
from lambda_kafka_to_s3_parquet_spark.streaming.pipeline import (
    run_ingest_stream,
    run_windowed_stream,
    windowed_event_counts,
)

from .conftest import jobs_in

SF = "/root/testdata/sf0.001"
EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def _await(q):
    q.awaitTermination(120)
    assert not q.isActive


def test_ingest_stream_exactly_once(spark, tmp_path):
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    (tmp_path / "in").mkdir()
    shutil.copy(GOLDEN_EVENT, f"{inp}/event1.json")

    _await(run_ingest_stream(spark, inp, out, ckpt, GOLDEN_TOPIC))
    assert spark.read.parquet(out).count() == 16

    # restart with the same checkpoint and no new input: nothing reprocessed
    _await(run_ingest_stream(spark, inp, out, ckpt, GOLDEN_TOPIC))
    assert spark.read.parquet(out).count() == 16

    # a new file arrives: only it is processed on the next run
    shutil.copy(GOLDEN_EVENT, f"{inp}/event2.json")
    _await(run_ingest_stream(spark, inp, out, ckpt, GOLDEN_TOPIC))
    back = spark.read.parquet(out)
    assert back.count() == 32
    assert back.filter(F.col("_corrupt_record").isNotNull()).count() == 0


def test_micro_batch_trigger_batches_files(spark, tmp_path):
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    (tmp_path / "in").mkdir()
    for i in range(3):
        shutil.copy(GOLDEN_EVENT, f"{inp}/event{i}.json")
    q = run_ingest_stream(
        spark, inp, out, ckpt, GOLDEN_TOPIC, max_files_per_trigger=1
    )
    _await(q)
    # 3 files, 1 per trigger => 3 micro-batches, all landed exactly once
    assert spark.read.parquet(out).count() == 48
    assert q.lastProgress["batchId"] >= 2


def test_windowed_stream_append_respects_watermark(spark, tmp_path):
    events_dir, ckpt = str(tmp_path / "events"), str(tmp_path / "ckpt")
    events = load_table(spark, SF, "events")
    events.write.parquet(events_dir)

    _await(
        run_windowed_stream(
            spark, events_dir, EVENTS_SCHEMA, ckpt, query_name="wm_test"
        )
    )
    emitted = spark.table("wm_test").collect()
    assert len(emitted) > 0

    # batch ground truth for the same operator
    batch = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in windowed_event_counts(events).collect()
    }
    max_ts = events.agg(F.max("ts")).first()[0]
    for r in emitted:
        key = (r["window_start"], r["event_type"])
        assert batch[key] == (r["n"], r["sum_value"]), "emitted window must match batch result"
        # append mode only finalizes windows the watermark has passed
        assert r["window_end"] <= max_ts, "unfinalized window leaked into append output"

    # every window strictly below the final watermark must have been emitted
    import datetime

    wm = max_ts - datetime.timedelta(minutes=10)
    expected_final = {k for k in batch if k[0] < wm - datetime.timedelta(hours=1)}
    emitted_keys = {(r["window_start"], r["event_type"]) for r in emitted}
    assert expected_final <= emitted_keys


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicates redelivered across micro-batches within the watermark
    horizon are suppressed (streaming twin of exact_dedup)."""
    from lambda_kafka_to_s3_parquet_spark.streaming.pipeline import dedup_stream

    events_dir, ckpt = str(tmp_path / "events"), str(tmp_path / "ckpt")
    ev = load_table(spark, SF, "events").limit(200).cache()
    n_distinct = ev.count()
    # two identical files = an at-least-once redelivery of the whole batch
    ev.coalesce(1).write.parquet(f"{events_dir}/f1")
    ev.coalesce(1).write.parquet(f"{events_dir}/f2")

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{events_dir}/*")
    )
    q = (
        dedup_stream(stream, ["event_id"])
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    out = spark.table("dedup_test")
    assert out.count() == n_distinct
    assert out.select("event_id").distinct().count() == n_distinct


def test_custom_stateful_running_profiles(spark, tmp_path):
    """applyInPandasWithState: per-user totals must accumulate ACROSS
    micro-batches (state survives batch boundaries)."""
    from lambda_kafka_to_s3_parquet_spark.streaming.stateful import running_user_profiles

    events_dir, ckpt = str(tmp_path / "events"), str(tmp_path / "ckpt")
    ev = load_table(spark, SF, "events").limit(400).cache()
    # split into two files = two micro-batches with maxFilesPerTrigger=1
    a, b = ev.randomSplit([0.5, 0.5], seed=7)
    a.coalesce(1).write.parquet(f"{events_dir}/f1")
    b.coalesce(1).write.parquet(f"{events_dir}/f2")

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{events_dir}/*")
    )
    q = (
        running_user_profiles(stream)
        .writeStream.format("memory")
        .queryName("profiles")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    out = spark.table("profiles").collect()
    assert len(out) > 0
    # the LAST emitted row per user must equal the batch ground truth,
    # proving state accumulated across the two micro-batches
    import pyspark.sql.functions as SF_

    want = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in ev.groupBy("user_id")
        .agg(SF_.count("*").alias("n"), SF_.sum("value").alias("s"))
        .collect()
    }
    last = {}
    for r in out:  # memory sink appends in batch order; later rows overwrite
        last[r["user_id"]] = (r["n_events"], round(r["total_value"], 6))
    assert last == want


def test_stateful_timeout_eviction_branch():
    """The idle-eviction branch emits a finalized row and removes state
    (unit-tested directly: a processing-time timeout would keep an
    AvailableNow drain alive for the whole idle period)."""
    from lambda_kafka_to_s3_parquet_spark.streaming.stateful import make_profile_updater

    class FakeState:
        hasTimedOut = True
        exists = True
        get = (7, 123.5, 100, 200)
        removed = False

        def remove(self):
            self.removed = True

    st = FakeState()
    out = list(make_profile_updater(timeout_ms=60_000)((42,), iter([]), st))
    assert st.removed
    assert len(out) == 1
    row = out[0].iloc[0]
    assert bool(row["finalized"]) and row["n_events"] == 7 and row["total_value"] == 123.5


def test_streaming_plan_is_stateful_with_watermark(spark, tmp_path):
    events_dir = str(tmp_path / "events")
    load_table(spark, SF, "events").limit(10).write.parquet(events_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)
    agg = windowed_event_counts(stream)
    assert agg.isStreaming


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Stream-stream inner join (watermarked both sides + time-range
    condition) over AvailableNow must produce exactly the rows the
    equivalent batch join produces."""
    from lambda_kafka_to_s3_parquet_spark.streaming.pipeline import join_streams

    left_dir, right_dir, ckpt = (
        str(tmp_path / "l"),
        str(tmp_path / "r"),
        str(tmp_path / "ck"),
    )
    ev = load_table(spark, SF, "events").limit(400).cache()
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(left_dir)
    ev.filter(F.col("event_id") % 3 == 0).write.parquet(right_dir)

    def stream(d):
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )

    joined = join_streams(stream(left_dir), stream(right_dir), "user_id", "5 minutes")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = spark.table("ss_join").select("event_id", "r_event_id").collect()

    l = ev.filter(F.col("event_id") % 2 == 0).withColumn("ts", F.col("ts").cast("timestamp"))
    r = ev.filter(F.col("event_id") % 3 == 0).withColumn("ts", F.col("ts").cast("timestamp"))
    r = r.select([F.col(c).alias(f"r_{c}") for c in r.columns])
    want = l.join(
        r,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("ts") - F.expr("INTERVAL 5 minutes"))
        & (F.col("r_ts") <= F.col("ts") + F.expr("INTERVAL 5 minutes")),
    ).select("event_id", "r_event_id").collect()

    assert len(want) > 0, "fixture produced no joinable pairs"
    assert sorted((x["event_id"], x["r_event_id"]) for x in got) == sorted(
        (x["event_id"], x["r_event_id"]) for x in want
    )


def test_stream_stream_left_outer_join_emits_watermark_proven_nulls(spark, tmp_path):
    """how='left_outer': matched rows equal the batch inner join; a left
    row is null-extended ONLY once the right watermark proves no match
    can still arrive, and every null-extended row really has no batch
    match. (Rows too close to the stream's end legitimately stay
    unemitted — outer results trail the watermark by design.)"""
    from lambda_kafka_to_s3_parquet_spark.streaming.pipeline import join_streams

    left_dir, right_dir, ckpt = (
        str(tmp_path / "l"),
        str(tmp_path / "r"),
        str(tmp_path / "ck"),
    )
    ev = load_table(spark, SF, "events").limit(400).cache()
    l_batch = ev.filter(F.col("event_id") % 2 == 0)
    r_batch = ev.filter((F.col("event_id") % 3 == 0) & (F.col("event_type") == "click"))
    l_batch.write.parquet(left_dir)
    # right side arrives in EVENT-TIME order (two time-split files with
    # deterministic mtimes): the watermark then advances monotonically and
    # never drops a genuinely matchable row as too-late — arrival order is
    # the test's controlled variable, not an accident of file layout
    import os as _os

    lo, hi = r_batch.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    _os.makedirs(right_dir)
    for i, part in enumerate(
        (r_batch.filter(F.col("ts") <= F.lit(mid)), r_batch.filter(F.col("ts") > F.lit(mid)))
    ):
        staged = str(tmp_path / f"rstage{i}")
        part.coalesce(1).write.parquet(staged)
        f = next(x for x in _os.listdir(staged) if x.startswith("part-"))
        dst = _os.path.join(right_dir, f"batch-{i}.parquet")
        _os.rename(_os.path.join(staged, f), dst)
        _os.utime(dst, (1_000_000_000 + i * 10, 1_000_000_000 + i * 10))

    def stream(d):
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )

    joined = join_streams(
        stream(left_dir), stream(right_dir), "user_id", "5 minutes", how="left_outer"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_left_outer")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = spark.table("ss_left_outer").select("event_id", "r_event_id").collect()
    got_matched = sorted(
        (x["event_id"], x["r_event_id"]) for x in got if x["r_event_id"] is not None
    )
    got_null = {x["event_id"] for x in got if x["r_event_id"] is None}

    l = l_batch.withColumn("ts", F.col("ts").cast("timestamp"))
    r = r_batch.withColumn("ts", F.col("ts").cast("timestamp"))
    r = r.select([F.col(c).alias(f"r_{c}") for c in r.columns])
    cond = (
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("ts") - F.expr("INTERVAL 5 minutes"))
        & (F.col("r_ts") <= F.col("ts") + F.expr("INTERVAL 5 minutes"))
    )
    want_inner = sorted(
        (x["event_id"], x["r_event_id"])
        for x in l.join(r, cond).select("event_id", "r_event_id").collect()
    )
    matched_ids = {a for a, _ in want_inner}
    want_unmatched = {
        x["event_id"] for x in l_batch.collect() if x["event_id"] not in matched_ids
    }
    assert got_matched == want_inner  # inner part identical to batch
    assert got_null, "watermark passage emitted no null-extended rows"
    assert got_null <= want_unmatched  # never a false null-extension
    assert not (got_null & matched_ids)


def test_stream_stream_join_uses_symmetric_hash_join(spark, tmp_path):
    """The stream-stream join must plan as StreamingSymmetricHashJoin —
    the stateful operator whose buffers the watermarks bound — not fall
    back to a static join shape."""
    from lambda_kafka_to_s3_parquet_spark.streaming.pipeline import join_streams

    d = str(tmp_path / "ev")
    load_table(spark, SF, "events").limit(10).write.parquet(d)

    def stream():
        return spark.readStream.schema(EVENTS_SCHEMA).parquet(d)

    joined = join_streams(stream(), stream(), "user_id", "5 minutes")
    assert joined.isStreaming
    # batch execution of a streaming plan is refused, so inspect the
    # analyzed logical plan (watermarks + join condition land there)
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert "Join Inner" in plan
    # both sides carry event-time watermarks into the join
    assert plan.count("EventTimeWatermark") == 2, plan
    # and the join condition carries the state-bounding time range
    assert "r_ts" in plan and ">=" in plan and "<=" in plan


def test_w06_registered_stream_dedup_equals_batch(spark):
    """The w06 function (duplicated replay -> streaming dedup; since
    round 13 registered through x01's 'stream' branch) must reproduce
    the plain batch per-type aggregate of the ORIGINAL corpus."""
    from lambda_kafka_to_s3_parquet_spark.plans.streaming_queries import (
        w06_stream_dedup,
    )
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    got = {r["event_type"]: r for r in w06_stream_dedup(spark, SF).collect()}
    ev = load_table(spark, SF, "events")
    want = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_id").alias("n_distinct"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for t in want:
        assert got[t].asDict() == want[t].asDict(), t


def test_w07_registered_stream_join_equals_batch(spark):
    """The registered w07 query (two file streams, watermarked time-range
    join) must count exactly the batch click->purchase matches."""
    from lambda_kafka_to_s3_parquet_spark.plans import all_specs
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    row = all_specs()["w07_stream_stream_join"].fn(spark, SF).collect()[0]
    ev = load_table(spark, SF, "events")
    c = ev.filter(F.col("event_type") == "click").select("user_id", F.col("ts").alias("cts"))
    p = ev.filter(F.col("event_type") == "purchase").select("user_id", F.col("ts").alias("pts"))
    n_batch = (
        c.join(p, "user_id")
        # exact microsecond arithmetic: timestampdiff(SECOND) truncates, so
        # a pair 600.3s apart would count here but fail the stream join's
        # exact +/-10min bound — boundary pairs must agree on both sides
        .filter(
            F.expr(
                "abs(timestampdiff(MICROSECOND, cts, pts)) <= 600 * 1000000"
            )
        )
        .count()
    )
    assert row["n_matches"] == n_batch
    assert row["n_matches"] > 0


def test_incremental_rollup_equals_batch_rollup(spark, tmp_path):
    """Streaming per-batch merges into the stored hourly rollup must end
    byte-equal to a one-shot rollup of all events, restarts must merge
    nothing twice, and the daily reaggregate from the maintained table
    must equal direct daily aggregation over raw events."""
    from lambda_kafka_to_s3_parquet_spark.operators.rollup import (
        hourly_rollup,
        reaggregate,
        run_rollup_stream,
    )

    ev = load_table(spark, SF, "events").select("event_id", "ts", "event_type", "value")
    src, rollup, ckpt = str(tmp_path / "src"), str(tmp_path / "ro"), str(tmp_path / "ck")
    ev.repartition(4).write.parquet(src)
    schema = "event_id long, ts timestamp_ntz, event_type string, value double"

    for _ in range(2):  # second run reuses the checkpoint: merges nothing
        q = run_rollup_stream(spark, src, schema, rollup, ckpt)
        q.awaitTermination(120)

    def canon(df):
        return sorted(
            (str(r["hour"]), r["event_type"], r["n_events"],
             round(r["sum_value"], 6), round(r["min_value"], 6), round(r["max_value"], 6))
            for r in df.collect()
        )

    maintained = spark.read.parquet(rollup).drop("d")
    assert canon(maintained) == canon(hourly_rollup(ev))

    daily = reaggregate(spark.read.parquet(rollup), "day")
    direct = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("bucket"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("s"),
    )
    got = {(str(r["bucket"]), r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
           for r in daily.collect()}
    want = {(str(r["bucket"]), r["event_type"]): (r["n_events"], r["s"]) for r in direct.collect()}
    assert got == want


def test_incremental_rollup_carries_hll_distincts(spark, tmp_path):
    """The streaming-maintained rollup must carry the mergeable HLL
    distinct column: after multi-batch replay + a checkpoint-reuse restart
    (merges nothing twice), `approx_distinct` from the maintained table
    must equal direct `approx_count_distinct` over raw events — the
    canonical "daily unique users from the continuous aggregate" question
    answered without touching raw data."""
    from lambda_kafka_to_s3_parquet_spark.operators.rollup import (
        reaggregate,
        run_rollup_stream,
    )

    ev = load_table(spark, SF, "events").select("event_id", "ts", "event_type", "value")
    src, rollup, ckpt = str(tmp_path / "src"), str(tmp_path / "ro"), str(tmp_path / "ck")
    ev.repartition(4).write.parquet(src)
    schema = "event_id long, ts timestamp_ntz, event_type string, value double"

    for _ in range(2):  # second run reuses the checkpoint: merges nothing
        q = run_rollup_stream(
            spark, src, schema, rollup, ckpt, distinct_col="event_id"
        )
        q.awaitTermination(120)

    daily = reaggregate(spark.read.parquet(rollup), "day")
    got = {
        (str(r["bucket"]), r["event_type"]): r["approx_distinct"]
        for r in daily.collect()
    }
    want = {
        (str(r["bucket"]), r["event_type"]): r["d"]
        for r in ev.groupBy(
            F.date_trunc("day", F.col("ts")).alias("bucket"), "event_type"
        )
        .agg(F.approx_count_distinct("event_id", 0.01).alias("d"))
        .collect()
    }
    assert set(got) == set(want) and got
    # Spark's approx_count_distinct and the DataSketches HLL column are
    # different sketches; at this fixture's per-bucket cardinality both
    # are in (or near) their exact regimes, so a tight relative bound
    # pins the merge path without welding the test to one implementation.
    for k in want:
        assert abs(got[k] - want[k]) <= max(1, 0.02 * want[k]), k


def test_rollup_marker_rejects_foreign_checkpoint(spark, tmp_path):
    """Batch ids are checkpoint-scoped: rerunning the maintenance stream
    from a DIFFERENT checkpoint against the same rollup table + marker
    must fail fast (silent skips/double-merges are the alternative)."""
    from lambda_kafka_to_s3_parquet_spark.operators.rollup import run_rollup_stream

    ev = load_table(spark, SF, "events").select("event_id", "ts", "event_type", "value")
    src, rollup = str(tmp_path / "src"), str(tmp_path / "ro")
    ev.repartition(2).write.parquet(src)
    schema = "event_id long, ts timestamp_ntz, event_type string, value double"

    q = run_rollup_stream(spark, src, schema, rollup, str(tmp_path / "ck1"))
    q.awaitTermination(120)

    q2 = run_rollup_stream(spark, src, schema, rollup, str(tmp_path / "ck2"))
    # the ValueError from land() surfaces through the streaming engine's
    # wrapper; match on the message, not the (wrapper) type
    with pytest.raises(Exception, match="not comparable across"):
        q2.awaitTermination(120)


def test_rollup_bootstrap_into_empty_dir_and_hll_mismatch(spark, tmp_path):
    """An existing-but-empty rollup dir (stray marker only) must bootstrap
    cleanly, and a stored table without the sketch column must refuse a
    sketch-bearing merge with a clear error instead of a unionByName
    failure mid-batch."""
    from lambda_kafka_to_s3_parquet_spark.operators.rollup import merge_rollup_batch

    ev = load_table(spark, SF, "events").select("event_id", "ts", "event_type", "value")
    rollup = tmp_path / "ro"
    rollup.mkdir()
    (rollup / "_stray.json").write_text("{}")  # underscore files aren't data

    merge_rollup_batch(spark, ev, str(rollup))  # bootstraps, no sketch
    assert spark.read.parquet(str(rollup)).count() > 0

    with pytest.raises(ValueError, match="distinct_hll"):
        merge_rollup_batch(spark, ev, str(rollup), distinct_col="event_id")


# ---------------------------------------------------------------------------
# incremental streaming near-dup dedup (w09)
# ---------------------------------------------------------------------------


def _stage_batches(base, frames):
    """Write each frame as one file into base/src with deterministic
    arrival order (the file source orders by mtime)."""
    import os

    src = base / "src"
    src.mkdir()
    for i, b in enumerate(frames):
        staged = base / f"stage{i}"
        b.coalesce(1).write.parquet(str(staged))
        part = next(f for f in os.listdir(staged) if f.startswith("part-"))
        dst = src / f"batch-{i}.parquet"
        os.rename(staged / part, dst)
        os.utime(dst, (1_000_000_000 + i * 10, 1_000_000_000 + i * 10))
    return str(src)


def _run_neardup(spark, tmp_path, frames, schema="doc_id long, text string, lang string"):
    from lambda_kafka_to_s3_parquet_spark.streaming.pipeline import run_neardup_stream

    src = _stage_batches(tmp_path, frames)
    q = run_neardup_stream(
        spark,
        src,
        schema,
        str(tmp_path / "out"),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
        threshold=0.7,
    )
    assert q.awaitTermination(300)
    return spark.read.parquet(str(tmp_path / "out"))


def test_incremental_neardup_batch_split_invariance(spark, sf_dir, tmp_path):
    """Replaying the corpus in 1 batch or 3 id-ordered batches must yield
    the SAME survivor set as the one-shot greedy twin — the property that
    makes the operator's semantics a function of the corpus + arrival
    order, not of micro-batch boundaries."""
    from pyspark.sql import functions as F

    from lambda_kafka_to_s3_parquet_spark.operators.dedup import incremental_neardup
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    want = sorted(
        r["doc_id"] for r in incremental_neardup(docs, None, 0.7).collect()
    )
    assert 0 < len(want) < docs.count()  # non-vacuous: something pruned

    thirds = [
        docs.filter((F.col("doc_id") % 500 >= lo) & (F.col("doc_id") % 500 < hi))
        for lo, hi in ((0, 150), (150, 300), (300, 500))
    ]
    landed = _run_neardup(spark, tmp_path, thirds)
    got = sorted(r["doc_id"] for r in landed.collect())
    assert got == want


def test_incremental_neardup_first_arrival_wins_and_restart(spark, sf_dir, tmp_path):
    """A perturbed twin of every document arrives in batch 2: history
    (signature store only, no text) must suppress every twin. A restart
    on the same checkpoint reprocesses nothing."""
    from pyspark.sql import functions as F

    from lambda_kafka_to_s3_parquet_spark.session import load_table
    from lambda_kafka_to_s3_parquet_spark.streaming.pipeline import run_neardup_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    twins = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzmarker"))
    )
    landed = _run_neardup(spark, tmp_path, [docs, twins])
    n_first = landed.count()
    assert landed.filter(F.col("doc_id") >= 1_000_000).count() == 0
    assert 0 < n_first < 500

    q = run_neardup_stream(
        spark,
        str(tmp_path / "src"),
        "doc_id long, text string, lang string",
        str(tmp_path / "out"),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
        threshold=0.7,
    )
    assert q.awaitTermination(300)
    assert spark.read.parquet(str(tmp_path / "out")).count() == n_first
    # two-part banded store: slim band rows under (band, pfx) dirs, one
    # fixed-width sig row per survivor under spfx dirs
    bands = spark.read.parquet(str(tmp_path / "store" / "bands"))
    assert bands.count() == n_first * 16
    assert bands.select("doc_id").distinct().count() == n_first
    assert set(bands.columns) == {"doc_id", "band_sig", "band", "pfx"}
    sigs = spark.read.parquet(str(tmp_path / "store" / "sigs"))
    assert sigs.count() == n_first
    assert sigs.select(F.size("sigs")).distinct().collect()[0][0] == 64


def test_incremental_neardup_short_docs_survive(spark, tmp_path):
    """Documents too short to shingle (< 3 tokens) can never collide —
    they must pass through with NULL sigs and stay out of the store."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "tiny", "en"), (2, "also small", "en"), (3, "a b", "en")],
        "doc_id long, text string, lang string",
    )
    landed = _run_neardup(spark, tmp_path, [docs])
    assert landed.count() == 3
    # nothing shingleable -> the store was never created (bootstrap probe
    # stays in the absent/empty branch)
    from lambda_kafka_to_s3_parquet_spark.operators.rollup import _is_absent_or_empty

    assert _is_absent_or_empty(spark, str(tmp_path / "store"))


def test_w09_registered_summary(spark, sf_dir):
    from lambda_kafka_to_s3_parquet_spark.plans import all_specs

    rows = all_specs()["w09_incremental_neardup"].fn(spark, sf_dir).collect()
    assert rows
    assert all(r["n_twin_leaks"] == 0 for r in rows)
    assert all(r["last_doc"] < 1_000_000 for r in rows)
    assert sum(r["n_survivors"] for r in rows) > 0


def test_portable_minhash_matches_duckdb(spark):
    """Engine parity of the PORTABLE hash family (the w09 oracle's
    foundation): the signature vectors Spark computes must equal what
    DuckDB derives from the interpolated md5 + affine arithmetic — any
    drift in tokenization, base hash, or permutation constants shows
    here before it shows as a driver red."""
    import duckdb

    from lambda_kafka_to_s3_parquet_spark.operators.dedup import (
        PORTABLE_MINHASH_P,
        minhash_vectors,
        portable_perm_constants,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat today"),
        (3, "Unicode & punctuation—mixed CASE text, with 123 numbers!"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: list(r["sigs"])
        for r in minhash_vectors(docs, hash_family="portable").collect()
    }

    mults, adds = portable_perm_constants(64)
    ab = "[" + ",".join(f"[{a},{b}]" for a, b in zip(mults, adds)) + "]"
    p = PORTABLE_MINHASH_P
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = dict(
        con.execute(
            f"""
        WITH tok AS (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           t -> t <> '') AS tok FROM documents),
        sh AS (SELECT doc_id, CASE WHEN len(tok) >= 3 THEN
                 list_distinct([array_to_string(tok[i:i+2], ' ')
                                for i in range(1, len(tok) - 1)])
                 ELSE [] END AS sh FROM tok),
        hm AS (SELECT doc_id, list_transform(sh, s ->
                 ('0x' || substr(md5(s), 1, 15))::UBIGINT::BIGINT % {p}) AS hs
               FROM sh WHERE len(sh) > 0)
        SELECT doc_id, list_transform({ab}::BIGINT[][], q ->
                 list_min(list_transform(hs, h -> (q[1]*h + q[2]) % {p})))
        FROM hm
        """
        ).fetchall()
    )
    assert got == {k: list(v) for k, v in want.items()}


def test_band_store_hash_family_drift_fails_fast(spark, sf_dir, tmp_path):
    """A store built under one permutation family read by a stream
    running another must FAIL, not silently estimate ~0 agreement and
    wave every near-dup of prior survivors through."""
    import pytest
    from pyspark.sql import functions as F

    from lambda_kafka_to_s3_parquet_spark.operators.dedup import (
        append_band_store,
        incremental_neardup_banded,
        minhash_vectors,
    )
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(20)
    vecs = minhash_vectors(docs, hash_family="portable").filter(
        F.col("sigs").isNotNull()
    )
    append_band_store(spark, str(tmp_path / "store"), vecs, hash_family="portable")
    with pytest.raises(ValueError, match="hash_family"):
        incremental_neardup_banded(
            spark, docs, str(tmp_path / "store"), 0.7
        ).count()
    # matching family proceeds
    surv = incremental_neardup_banded(
        spark, docs, str(tmp_path / "store"), 0.7, hash_family="portable"
    )
    assert surv.count() == 0  # every doc is already in history


def _mk_band_store(spark, sf_dir, path, docs=None, n_pfx=8):
    from pyspark.sql import functions as F

    from lambda_kafka_to_s3_parquet_spark.operators.dedup import (
        append_band_store,
        minhash_vectors,
    )
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    if docs is None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    vecs = minhash_vectors(docs).filter(F.col("sigs").isNotNull())
    append_band_store(spark, str(path), vecs, n_pfx=n_pfx)
    return docs


def test_band_store_read_is_partition_pruned(spark, sf_dir, tmp_path):
    """The history lookup's store scan must carry PartitionFilters from
    the batch's (band, pfx) set: a tiny batch touches a strict subset of
    the store's partition dirs — the property that makes per-batch cost
    ∝ batch, not ∝ corpus-so-far."""
    from pyspark.sql import functions as F

    from lambda_kafka_to_s3_parquet_spark.operators.dedup import (
        minhash_vectors,
        read_band_store,
        sig_bands,
    )

    store = tmp_path / "store"
    docs = _mk_band_store(spark, sf_dir, store)
    full = spark.read.parquet(str(store / "bands"))

    tiny = docs.filter(F.col("doc_id") % 500 < 2)  # ~2 docs -> <=32 band sigs
    batch_bands = sig_bands(minhash_vectors(tiny))
    pruned = read_band_store(spark, str(store), prune_to=batch_bands)

    assert 0 < pruned.count() < full.count()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "band" in plan
    # strictly fewer files actually scanned than the store holds
    # (inputFiles() reports the unpruned relation, so measure the scan)
    n_pruned = pruned.select(F.input_file_name()).distinct().count()
    n_full = full.select(F.input_file_name()).distinct().count()
    assert 0 < n_pruned < n_full


def test_band_store_pruned_read_flat_as_store_grows(spark, sf_dir, tmp_path):
    """Deterministic stress proxy: with dir sizes held bounded (the
    rebucket maintenance contract), a fixed batch's pruned read touches
    ~the same number of rows whether the store holds 1x or 10x the
    corpus — per-batch scan cost is ∝ batch, not store."""
    from pyspark.sql import functions as F

    from lambda_kafka_to_s3_parquet_spark.operators.dedup import (
        minhash_vectors,
        read_band_store,
        sig_bands,
    )
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rep = docs
    for i in range(1, 10):  # 10x corpus via id-shifted, text-perturbed twins
        rep = rep.unionByName(
            docs.select(
                (F.col("doc_id") + 1_000_000 * i).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" rep{i}")).alias("text"),
            )
        )
    s1, s10 = tmp_path / "s1", tmp_path / "s10"
    _mk_band_store(spark, sf_dir, s1, docs=docs, n_pfx=8)
    _mk_band_store(spark, sf_dir, s10, docs=rep, n_pfx=80)  # same target dir size

    tiny = docs.filter(F.col("doc_id") % 500 < 2)
    batch_bands = sig_bands(minhash_vectors(tiny)).localCheckpoint()
    r1 = read_band_store(spark, str(s1), prune_to=batch_bands).count()
    r10 = read_band_store(spark, str(s10), prune_to=batch_bands).count()
    assert r1 > 0
    # 10x the store, same batch: pruned rows stay flat (not ~10x)
    assert r10 <= 1.5 * r1 + 64


def test_band_store_rebucket_preserves_content_and_meta(spark, sf_dir, tmp_path):
    from lambda_kafka_to_s3_parquet_spark.operators.dedup import (
        _store_meta,
        read_band_store,
        rebucket_band_store,
    )

    store = tmp_path / "store"
    _mk_band_store(spark, sf_dir, store, n_pfx=4)
    before = {
        (r["doc_id"], r["band"], r["band_sig"])
        for r in read_band_store(spark, str(store)).collect()
    }
    rebucket_band_store(spark, str(store), 16)
    assert _store_meta(spark, str(store))["n_pfx"] == 16
    after_df = read_band_store(spark, str(store))
    after = {
        (r["doc_id"], r["band"], r["band_sig"]) for r in after_df.collect()
    }
    assert after == before
    # new fan-out actually materialized in both halves of the layout
    assert (
        spark.read.parquet(str(store / "bands")).select("pfx").distinct().count() > 4
    )
    assert (
        spark.read.parquet(str(store / "sigs")).select("spfx").distinct().count() > 4
    )


def test_band_store_rejects_parameter_drift(spark, sf_dir, tmp_path):
    import pytest

    from lambda_kafka_to_s3_parquet_spark.operators.dedup import (
        append_band_store,
        minhash_vectors,
        read_band_store,
    )
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    store = tmp_path / "store"
    docs = _mk_band_store(spark, sf_dir, store)
    with pytest.raises(ValueError, match="n_bands"):
        read_band_store(spark, str(store), n_bands=8, rows_per_band=8)
    with pytest.raises(ValueError, match="n_bands"):
        append_band_store(
            spark,
            str(store),
            minhash_vectors(docs, n_bands=8, rows_per_band=8),
            n_bands=8,
            rows_per_band=8,
        )


# ---------------------------------------------------------------------------
# streaming CDC upsert / current-state maintenance (w10)
# ---------------------------------------------------------------------------


def test_cdc_merge_stream_equals_batch_latest(spark, sf_dir, tmp_path):
    """After any multi-batch replay of the change stream — including
    arrival order that does NOT follow event time — the maintained table
    must equal the batch latest-per-key answer, and a checkpoint restart
    must merge nothing."""
    import os

    from pyspark.sql import functions as F

    from lambda_kafka_to_s3_parquet_spark.operators.cdc import (
        read_current_state,
        run_cdc_merge_stream,
    )
    from lambda_kafka_to_s3_parquet_spark.operators.dedup import latest_by_key
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    # 3 batches split by event_id mod — each batch spans the whole time
    # range, so per-user latest rows arrive in arbitrary batch positions
    frames = [ev.filter(F.col("event_id") % 3 == k) for k in (2, 0, 1)]
    src = _stage_batches(tmp_path, frames)
    table, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    schema = (
        "event_id long, user_id long, event_type string, "
        "ts timestamp_ntz, value double"
    )
    args = dict(keys=["user_id"], ts_col="ts", tiebreak="event_id")
    q = run_cdc_merge_stream(spark, src, schema, table, ckpt, **args)
    assert q.awaitTermination(300)

    got = sorted(
        map(tuple, read_current_state(spark, table).select(*ev.columns).collect())
    )
    want = sorted(
        map(tuple, latest_by_key(ev, ["user_id"], "ts", "event_id").drop("n_copies").collect())
    )
    assert got == want and len(got) > 0

    # restart: high-water mark skips every replayed batch; state unchanged
    mtime_before = os.path.getmtime(os.path.join(table, "_last_merged_batch.json"))
    q2 = run_cdc_merge_stream(spark, src, schema, table, ckpt, **args)
    assert q2.awaitTermination(300)
    got2 = sorted(
        map(tuple, read_current_state(spark, table).select(*ev.columns).collect())
    )
    assert got2 == got
    assert os.path.getmtime(os.path.join(table, "_last_merged_batch.json")) == mtime_before


def test_cdc_tombstones_delete_at_read_and_resist_out_of_order(spark, tmp_path):
    """Delete semantics over a 3-batch out-of-order replay:

    * a key whose latest change is a delete is absent from the read view;
    * an OLDER upsert arriving in a LATER batch than the delete does NOT
      resurrect the key (the stored tombstone out-votes it);
    * a NEWER upsert after a delete does resurrect it;
    * the raw table still holds the winning tombstone row.
    """
    from lambda_kafka_to_s3_parquet_spark.operators.cdc import (
        read_current_state,
        run_cdc_merge_stream,
    )

    cols = ["k", "ts", "op", "v"]

    def frame(rows):
        return spark.createDataFrame(rows, "k long, ts timestamp, op string, v double")

    t = [f"2024-01-01 00:0{i}:00" for i in range(6)]
    import datetime as _dt

    def ts(s):
        return _dt.datetime.fromisoformat(s)

    frames = [
        # b1: inserts for k1/k2; k3's DELETE arrives before its insert
        frame([(1, ts(t[1]), "c", 1.0), (2, ts(t[1]), "c", 2.0), (3, ts(t[3]), "d", None)]),
        # b2: k1 deleted; k3's older insert arrives late -> must stay dead
        frame([(1, ts(t[2]), "d", None), (3, ts(t[1]), "c", 3.0)]),
        # b3: k2 updated; k1 re-inserted AFTER its delete -> resurrects
        frame([(2, ts(t[3]), "u", 4.0), (1, ts(t[4]), "c", 5.0)]),
    ]
    src = _stage_batches(tmp_path, frames)
    table, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    q = run_cdc_merge_stream(
        spark,
        src,
        "k long, ts timestamp, op string, v double",
        table,
        ckpt,
        keys=["k"],
        ts_col="ts",
        tiebreak="ts",
    )
    assert q.awaitTermination(300)

    live = {
        r["k"]: (r["op"], r["v"])
        for r in read_current_state(spark, table, op_col="op").collect()
    }
    assert live == {1: ("c", 5.0), 2: ("u", 4.0)}  # k3 dead despite late insert

    raw = {r["k"]: r["op"] for r in read_current_state(spark, table).select(*cols).collect()}
    assert raw == {1: "c", 2: "u", 3: "d"}  # tombstone retained in storage


def test_cdc_purge_tombstones_respects_retention_watermark(spark, tmp_path):
    """Purge removes only tombstones older than the watermark, rewrites
    only their buckets, and leaves the read view unchanged."""
    from lambda_kafka_to_s3_parquet_spark.operators.cdc import (
        purge_tombstones,
        read_current_state,
        run_cdc_merge_stream,
    )

    import datetime as _dt

    def ts(s):
        return _dt.datetime.fromisoformat(s)

    rows = [
        (1, ts("2024-01-01 00:00:00"), "c", 1.0),   # live upsert, OLD ts
        (2, ts("2024-01-01 00:00:00"), "d", None),  # expired tombstone
        (3, ts("2024-01-03 00:00:00"), "d", None),  # young tombstone, kept
    ]
    frames = [spark.createDataFrame(rows, "k long, ts timestamp, op string, v double")]
    src = _stage_batches(tmp_path, frames)
    table = str(tmp_path / "table")
    q = run_cdc_merge_stream(
        spark,
        src,
        "k long, ts timestamp, op string, v double",
        table,
        str(tmp_path / "ckpt"),
        keys=["k"],
        ts_col="ts",
        tiebreak="ts",
    )
    assert q.awaitTermination(300)

    before = sorted(
        map(tuple, read_current_state(spark, table, op_col="op").collect())
    )
    assert purge_tombstones(spark, table, "op", "ts", "2024-01-02 00:00:00") == 1
    raw = {r["k"]: r["op"] for r in read_current_state(spark, table).collect()}
    # expired tombstone gone; young tombstone and the equally-old live
    # upsert (not a delete -> never purge-eligible) both survive
    assert raw == {1: "c", 3: "d"}
    after = sorted(
        map(tuple, read_current_state(spark, table, op_col="op").collect())
    )
    assert after == before
    # idempotent once clean
    assert purge_tombstones(spark, table, "op", "ts", "2024-01-02 00:00:00") == 0


def test_cdc_merge_foreign_checkpoint_rejected(spark, sf_dir, tmp_path):
    """Reusing a maintained table with a DIFFERENT checkpoint must fail
    fast (batch ids are not comparable across checkpoints) — same guard
    as the rollup marker."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from lambda_kafka_to_s3_parquet_spark.operators.cdc import run_cdc_merge_stream
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    ).limit(50)
    src = _stage_batches(tmp_path, [ev])
    table = str(tmp_path / "table")
    schema = (
        "event_id long, user_id long, event_type string, "
        "ts timestamp_ntz, value double"
    )
    args = dict(keys=["user_id"], ts_col="ts", tiebreak="event_id")
    q = run_cdc_merge_stream(spark, src, schema, table, str(tmp_path / "ckpt"), **args)
    assert q.awaitTermination(300)

    q2 = run_cdc_merge_stream(
        spark, src, schema, table, str(tmp_path / "other_ckpt"), **args
    )
    with _pytest.raises(Exception) as exc:
        q2.awaitTermination(300)
    assert "checkpoint" in str(exc.value)


def test_x02_stream_branch_equals_batch_branch(spark, sf_dir):
    """x02's union-tagged branches (round 11 — former w10 folded in as
    'stream'): the maintained current-state answer must row-for-row
    equal the batch window-dedup branch."""
    from lambda_kafka_to_s3_parquet_spark.plans import all_specs

    out = all_specs()["x02_cdc_latest_event"].fn(spark, sf_dir)
    got = [tuple(r)[1:] for r in out.filter("branch = 'stream'")
           .orderBy("user_id").collect()]
    want = [tuple(r)[1:] for r in out.filter("branch = 'batch'")
            .orderBy("user_id").collect()]
    assert got == want and len(got) > 0


def test_cdc_merge_bucket_resize_rejected(spark, sf_dir, tmp_path):
    """Re-running the maintenance stream with a different n_buckets must
    fail fast: bucket assignment is part of the stored layout, and a
    silent mismatch would leave stale twins of updated keys."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from lambda_kafka_to_s3_parquet_spark.operators.cdc import run_cdc_merge_stream
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    ).limit(50)
    src = _stage_batches(tmp_path, [ev])
    table, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    schema = (
        "event_id long, user_id long, event_type string, "
        "ts timestamp_ntz, value double"
    )
    args = dict(keys=["user_id"], ts_col="ts", tiebreak="event_id")
    q = run_cdc_merge_stream(spark, src, schema, table, ckpt, n_buckets=16, **args)
    assert q.awaitTermination(300)

    # same checkpoint, resized buckets: must raise, not silently corrupt.
    # a fresh source file forces a new (unskippable) batch id.
    extra = ev.withColumn("event_id", F.col("event_id") + 10_000)
    extra.coalesce(1).write.mode("append").parquet(src)
    q2 = run_cdc_merge_stream(spark, src, schema, table, ckpt, n_buckets=8, **args)
    with _pytest.raises(Exception) as exc:
        q2.awaitTermination(300)
    assert "n_buckets" in str(exc.value)


def test_incremental_neardup_store_width_mismatch_rejected(spark, sf_dir):
    """A signature store built with a different K must be rejected, not
    silently produce capped similarity estimates."""
    import pytest as _pytest

    from lambda_kafka_to_s3_parquet_spark.operators.dedup import (
        incremental_neardup,
        minhash_vectors,
    )
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(20)
    narrow_store = minhash_vectors(docs, n_bands=8, rows_per_band=4)  # K=32
    with _pytest.raises(ValueError) as exc:
        incremental_neardup(docs, narrow_store, 0.7)  # default K=64
    assert "signature store" in str(exc.value)


def test_incremental_neardup_chain_corpus_invariance(spark, tmp_path):
    """Chains of near-dups (doc i mutates doc i-1) are where greedy and
    CC semantics diverge and where split-points bite hardest: every
    split of the chain corpus into id-ordered batches must reproduce the
    one-shot greedy survivor set exactly."""
    import random

    from lambda_kafka_to_s3_parquet_spark.operators.dedup import incremental_neardup

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(50)]
    words = [rng.choice(vocab) for _ in range(40)]
    docs = []
    for i in range(60):
        if i % 10 == 0:  # fresh document starts a new chain
            words = [rng.choice(vocab) for _ in range(40)]
        else:  # mutate one word: adjacent docs are near-dups
            words = list(words)
            words[rng.randrange(len(words))] = rng.choice(vocab)
        docs.append((i, " ".join(words), "en"))
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")

    want = sorted(r["doc_id"] for r in incremental_neardup(df, None, 0.7).collect())
    assert 0 < len(want) < 60  # chains actually collapse

    from pyspark.sql import functions as F

    batches = [
        df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        for lo, hi in ((0, 17), (17, 41), (41, 60))
    ]
    landed = _run_neardup(spark, tmp_path, batches)
    got = sorted(r["doc_id"] for r in landed.collect())
    assert got == want


# ---------------------------------------------------------------------------
# stream enrichment from maintained CDC state (w11)
# ---------------------------------------------------------------------------


def test_stream_enrichment_equals_batch_left_join(spark, sf_dir, tmp_path):
    """Enriching the second-half stream from the state table built over
    the first half must equal the batch left join against batch
    latest-per-key — row for row, including NULL dims for unseen
    users."""
    from pyspark.sql import functions as F

    from lambda_kafka_to_s3_parquet_spark.operators.cdc import run_cdc_merge_stream
    from lambda_kafka_to_s3_parquet_spark.operators.dedup import latest_by_key
    from lambda_kafka_to_s3_parquet_spark.session import load_table
    from lambda_kafka_to_s3_parquet_spark.streaming.pipeline import enrich_stream

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    schema = (
        "event_id long, user_id long, event_type string, "
        "ts timestamp_ntz, value double"
    )
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    _stage_batches(tmp_path, [first])
    (tmp_path / "ev_src").mkdir()
    import os

    staged = tmp_path / "stage_ev"
    second.coalesce(1).write.parquet(str(staged))
    part = next(f for f in os.listdir(staged) if f.startswith("part-"))
    os.rename(staged / part, tmp_path / "ev_src" / "b0.parquet")

    q = run_cdc_merge_stream(
        spark, str(tmp_path / "src"), schema, str(tmp_path / "state"),
        str(tmp_path / "dim_ckpt"), keys=["user_id"], ts_col="ts", tiebreak="event_id",
    )
    assert q.awaitTermination(300)
    q2 = enrich_stream(
        spark, str(tmp_path / "ev_src"), schema, str(tmp_path / "state"),
        str(tmp_path / "out"), str(tmp_path / "ev_ckpt"), key="user_id",
    )
    assert q2.awaitTermination(300)

    got = sorted(
        (r["event_id"], r["dim_event_id"], r["dim_value"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    state = latest_by_key(first, ["user_id"], "ts", "event_id").select(
        "user_id",
        F.col("event_id").alias("dim_event_id"),
        F.col("value").alias("dim_value"),
    )
    want = sorted(
        (r["event_id"], r["dim_event_id"], r["dim_value"])
        for r in second.join(state, "user_id", "left").collect()
    )
    assert got == want and len(got) == second.count()


def test_w11_registered_summary(spark, sf_dir):
    from lambda_kafka_to_s3_parquet_spark.plans import all_specs

    rows = all_specs()["w11_stream_enrichment"].fn(spark, sf_dir).collect()
    assert rows
    assert all(0 < r["n_enriched"] <= r["n_events"] for r in rows)


def test_read_state_as_of_matches_prefix_batch(spark, sf_dir, tmp_path):
    """Time travel: state as of T == batch latest-per-key over exactly the
    changes with ts <= T; deletes respected; later changes invisible."""
    from lambda_kafka_to_s3_parquet_spark.operators.cdc import read_state_as_of
    from lambda_kafka_to_s3_parquet_spark.operators.dedup import latest_by_key

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    hist = str(tmp_path / "history")
    ev.write.parquet(hist)  # append-only change log landed by the sink

    bounds = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    mid = bounds["lo"] + (bounds["hi"] - bounds["lo"]) / 2
    as_of = mid.strftime("%Y-%m-%d %H:%M:%S")

    got = read_state_as_of(
        spark, hist, as_of, keys=["user_id"], ts_col="ts", tiebreak="value"
    )
    want = latest_by_key(
        ev.filter(F.col("ts") <= F.lit(as_of)), ["user_id"], "ts", "value"
    ).drop("n_copies")
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    # strictly fewer-or-equal keys than "now", and none from the future
    assert got.columns == [c for c in ev.columns]  # no helper-column leak
    assert got.count() <= latest_by_key(ev, ["user_id"], "ts", "value").count()
    assert got.filter(F.col("ts") > F.lit(as_of)).count() == 0


def test_read_state_as_of_applies_deletes(spark, tmp_path):
    import datetime as _dt

    def ts(s):
        return _dt.datetime.fromisoformat(s)

    rows = [
        (1, ts("2024-01-01 00:00:00"), "c", 1.0),
        (1, ts("2024-01-02 00:00:00"), "d", None),   # deleted at T2
        (1, ts("2024-01-03 00:00:00"), "c", 2.0),    # re-created at T3
        (2, ts("2024-01-01 12:00:00"), "c", 9.0),
    ]
    from lambda_kafka_to_s3_parquet_spark.operators.cdc import read_state_as_of

    hist = str(tmp_path / "h")
    spark.createDataFrame(rows, "k long, ts timestamp, op string, v double").write.parquet(hist)

    def state(as_of):
        return {
            r["k"]: r["v"]
            for r in read_state_as_of(
                spark, hist, as_of, keys=["k"], ts_col="ts", op_col="op"
            ).collect()
        }

    assert state("2024-01-01 23:59:59") == {1: 1.0, 2: 9.0}
    assert state("2024-01-02 23:59:59") == {2: 9.0}       # k1 deleted
    assert state("2024-01-04 00:00:00") == {1: 2.0, 2: 9.0}  # resurrected


def test_band_store_pre_registry_meta_falls_back_to_fs_probing(spark, sf_dir, tmp_path):
    """Stores written before the dir-registry bitmap (round-6 meta keys
    band_dirs/spfx_dirs) must stay readable: stripping the bitmaps from
    the meta forces the filesystem-probing fallback, which must return
    the SAME candidate rows and sig rows as the registry path."""
    from pyspark.sql import functions as F

    from lambda_kafka_to_s3_parquet_spark.operators.dedup import (
        _store_meta,
        _write_store_meta,
        minhash_vectors,
        read_band_store,
        read_sig_store,
        sig_bands,
    )

    store = tmp_path / "store"
    docs = _mk_band_store(spark, sf_dir, store)
    tiny = docs.filter(F.col("doc_id") % 500 < 2)
    batch_bands = sig_bands(minhash_vectors(tiny))

    with_reg = read_band_store(spark, str(store), prune_to=batch_bands)
    reg_rows = sorted((r["doc_id"], r["band"]) for r in with_reg.collect())
    sig_ids = sorted(r["doc_id"] for r in read_sig_store(
        spark, str(store), [0, 1, 2, 3]).collect())

    meta = _store_meta(spark, str(store))
    assert "band_dirs" in meta and "spfx_dirs" in meta  # registry present
    legacy = {k: v for k, v in meta.items() if k not in ("band_dirs", "spfx_dirs")}
    _write_store_meta(spark, str(store), legacy)

    no_reg = read_band_store(spark, str(store), prune_to=batch_bands)
    assert sorted((r["doc_id"], r["band"]) for r in no_reg.collect()) == reg_rows
    legacy_ids = sorted(r["doc_id"] for r in read_sig_store(
        spark, str(store), [0, 1, 2, 3]).collect())
    assert legacy_ids == sig_ids and len(sig_ids) > 0


def test_band_store_dir_registry_matches_disk_across_appends_and_rebucket(
    spark, sf_dir, tmp_path
):
    """The meta bitmaps are the store's source of truth for partition-dir
    existence (zero-fs-call reads) — after multiple appends and a
    rebucket they must decode to EXACTLY the dirs present on disk, never
    a superset (phantom dirs would feed nonexistent paths to the reader)
    nor a subset (missed dirs would silently drop history candidates)."""
    import os

    from pyspark.sql import functions as F

    from lambda_kafka_to_s3_parquet_spark.operators.dedup import (
        _bitmap_decode,
        _store_meta,
        append_band_store,
        minhash_vectors,
        rebucket_band_store,
    )
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    store = tmp_path / "store"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for lo, hi in ((0, 100), (100, 180), (180, 260)):
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        append_band_store(
            spark, str(store), minhash_vectors(batch).filter(F.col("sigs").isNotNull()),
            n_pfx=8,
        )

    def disk_state(root):
        meta = _store_meta(spark, str(root))
        n_pfx = meta["n_pfx"]
        band_dirs = set()
        for b in os.listdir(root / "bands"):
            if b.startswith("band="):
                for p in os.listdir(root / "bands" / b):
                    if p.startswith("pfx="):
                        band_dirs.add(
                            int(b.split("=")[1]) * n_pfx + int(p.split("=")[1])
                        )
        spfx_dirs = {
            int(d.split("=")[1])
            for d in os.listdir(root / "sigs")
            if d.startswith("spfx=")
        }
        return meta, band_dirs, spfx_dirs

    meta, band_disk, spfx_disk = disk_state(store)
    assert _bitmap_decode(meta["band_dirs"]) == band_disk
    assert _bitmap_decode(meta["spfx_dirs"]) == spfx_disk

    rebucket_band_store(spark, str(store), n_pfx_new=16)
    meta, band_disk, spfx_disk = disk_state(store)
    assert meta["n_pfx"] == 16
    assert _bitmap_decode(meta["band_dirs"]) == band_disk
    assert _bitmap_decode(meta["spfx_dirs"]) == spfx_disk


def test_pre_registry_store_append_seeds_registry_from_disk(spark, sf_dir, tmp_path):
    """append_band_store on a pre-registry store (meta without the dir
    bitmaps) must seed the registry from a FILESYSTEM PROBE before adding
    the new batch's dirs: seeding from the empty default would register
    only the current batch, and the now-bitmap-carrying meta would make
    every later read silently skip the legacy dirs (dropped history)."""
    from pyspark.sql import functions as F

    from lambda_kafka_to_s3_parquet_spark.operators.dedup import (
        _bitmap_decode,
        _store_meta,
        _write_store_meta,
        append_band_store,
        minhash_vectors,
        read_band_store,
        read_sig_store,
        sig_bands,
    )
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    store = tmp_path / "store"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old_half = docs.filter(F.col("doc_id") % 2 == 0)
    new_half = docs.filter(F.col("doc_id") % 2 == 1).limit(3)
    _mk_band_store(spark, sf_dir, store, docs=old_half)

    # strip the bitmaps -> the exact on-disk shape of a pre-registry store
    meta = _store_meta(spark, str(store))
    legacy = {k: v for k, v in meta.items() if k not in ("band_dirs", "spfx_dirs")}
    _write_store_meta(spark, str(store), legacy)

    vecs = minhash_vectors(new_half).filter(F.col("sigs").isNotNull())
    append_band_store(spark, str(store), vecs)

    upgraded = _store_meta(spark, str(store))
    assert "band_dirs" in upgraded and "spfx_dirs" in upgraded
    # the registry claims a SUPERSET of the original store's dirs, so no
    # legacy candidate dir is skipped
    assert _bitmap_decode(meta["band_dirs"]) <= _bitmap_decode(upgraded["band_dirs"])
    assert _bitmap_decode(meta["spfx_dirs"]) <= _bitmap_decode(upgraded["spfx_dirs"])
    # and a read probing OLD docs' buckets still returns their rows
    old_bands = sig_bands(minhash_vectors(old_half.limit(2)))
    got = read_band_store(spark, str(store), prune_to=old_bands)
    assert got is not None and got.count() > 0
    assert read_sig_store(spark, str(store), list(range(8))).count() >= old_half.count() - 5


def test_rebucket_crash_between_renames_recovers(spark, sf_dir, tmp_path):
    """An interrupted rebucket swap (canonical renamed aside, new store
    not yet renamed in) must NOT read as an absent store: the bootstrap
    probe completes the swap — rolling FORWARD to a fully-written tmp,
    or BACK to the old store when the tmp is incomplete."""
    import os
    import shutil

    from lambda_kafka_to_s3_parquet_spark.operators.dedup import (
        NEARDUP_STORE_META,
        _recover_rebucket,
        read_sig_store,
    )

    store = tmp_path / "store"
    _mk_band_store(spark, sf_dir, store)
    all_ids = sorted(
        r["doc_id"]
        for r in read_sig_store(spark, str(store), list(range(8))).collect()
    )
    assert all_ids

    # crash point A: old renamed aside, tmp COMPLETE (meta present)
    shutil.copytree(store, tmp_path / "store.rebucket_tmp")
    os.rename(store, tmp_path / "store.rebucket_old")
    assert _recover_rebucket(spark, str(store)) is True
    assert not os.path.exists(tmp_path / "store.rebucket_old")
    assert not os.path.exists(tmp_path / "store.rebucket_tmp")
    got = sorted(
        r["doc_id"]
        for r in read_sig_store(spark, str(store), list(range(8))).collect()
    )
    assert got == all_ids

    # crash point B: old renamed aside, tmp INCOMPLETE (no meta yet)
    shutil.copytree(store, tmp_path / "store.rebucket_tmp")
    os.remove(tmp_path / "store.rebucket_tmp" / NEARDUP_STORE_META)
    os.rename(store, tmp_path / "store.rebucket_old")
    assert _recover_rebucket(spark, str(store)) is True
    assert not os.path.exists(tmp_path / "store.rebucket_tmp")
    got = sorted(
        r["doc_id"]
        for r in read_sig_store(spark, str(store), list(range(8))).collect()
    )
    assert got == all_ids

    # completed-swap tail: canonical live, stale .rebucket_old left over
    shutil.copytree(store, tmp_path / "store.rebucket_old")
    assert _recover_rebucket(spark, str(store)) is False
    assert not os.path.exists(tmp_path / "store.rebucket_old")


def test_rebucket_swap_leaves_no_side_paths(spark, sf_dir, tmp_path):
    import os

    from lambda_kafka_to_s3_parquet_spark.operators.dedup import (
        _store_meta,
        rebucket_band_store,
        read_sig_store,
    )

    store = tmp_path / "store"
    _mk_band_store(spark, sf_dir, store, n_pfx=4)
    before = sorted(
        r["doc_id"]
        for r in read_sig_store(spark, str(store), list(range(4))).collect()
    )
    rebucket_band_store(spark, str(store), 16)
    assert _store_meta(spark, str(store))["n_pfx"] == 16
    assert not os.path.exists(tmp_path / "store.rebucket_tmp")
    assert not os.path.exists(tmp_path / "store.rebucket_old")
    after = sorted(
        r["doc_id"]
        for r in read_sig_store(spark, str(store), list(range(16))).collect()
    )
    assert after == before


def test_migrate_band_store_from_legacy_flat_layout(spark, sf_dir, tmp_path):
    """The documented upgrade path for pre-banded streams: a flat
    (id, sigs) store migrates into a banded store that then DROPS a
    near-dup of a legacy survivor (history honored, not silently lost)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from lambda_kafka_to_s3_parquet_spark.operators.dedup import (
        incremental_neardup_banded,
        migrate_band_store,
        minhash_vectors,
    )
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 7 == 0)
    legacy = str(tmp_path / "legacy")
    minhash_vectors(hist).filter(F.col("sigs").isNotNull()).write.parquet(legacy)

    banded = str(tmp_path / "banded")
    n = migrate_band_store(spark, legacy, banded)
    assert n == spark.read.parquet(legacy).count()

    # a batch holding an exact twin of a legacy survivor + a fresh doc
    twin_src = hist.orderBy("doc_id").first()
    batch = spark.createDataFrame(
        [(10_000_001, twin_src["text"]), (10_000_002, "completely unrelated fresh words " * 8)],
        "doc_id long, text string",
    )
    surv = incremental_neardup_banded(spark, batch, banded, threshold=0.7)
    kept = sorted(r["doc_id"] for r in surv.select("doc_id").collect())
    assert kept == [10_000_002]  # twin dropped against MIGRATED history

    # guard rails: non-empty target / already-banded source both refuse
    with _pytest.raises(ValueError, match="already holds data"):
        migrate_band_store(spark, legacy, banded)
    with _pytest.raises(ValueError, match="already a banded store"):
        migrate_band_store(spark, banded, str(tmp_path / "other"))


def test_band_store_crash_between_data_and_registry_self_heals(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash AFTER an append's data lands but BEFORE the registry
    publishes (the band store's analog of the snapshot crash window):
    the registry must UNDER-claim (subset of disk — never phantom dirs),
    the batch's at-least-once replay must re-register everything, and
    after healing the registry again equals the disk exactly."""
    import os

    from pyspark.sql import functions as F

    import lambda_kafka_to_s3_parquet_spark.operators.dedup as dd
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    store = tmp_path / "store"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") < 60)
    b2 = docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 75))
    v1 = dd.minhash_vectors(b1).filter(F.col("sigs").isNotNull()).localCheckpoint()
    v2 = dd.minhash_vectors(b2).filter(F.col("sigs").isNotNull()).localCheckpoint()
    dd.append_band_store(spark, str(store), v1, n_pfx=8)

    def disk_dirs():
        meta = dd._store_meta(spark, str(store))
        n_pfx = meta["n_pfx"]
        band = set()
        for b in os.listdir(store / "bands"):
            if b.startswith("band="):
                for p in os.listdir(store / "bands" / b):
                    if p.startswith("pfx="):
                        band.add(int(b.split("=")[1]) * n_pfx + int(p.split("=")[1]))
        spfx = {
            int(d.split("=")[1])
            for d in os.listdir(store / "sigs")
            if d.startswith("spfx=")
        }
        return meta, band, spfx

    meta0, band0, spfx0 = disk_dirs()
    assert dd._bitmap_decode(meta0["band_dirs"]) == band0  # healthy baseline

    # crash: the registry publish for batch 2 never happens
    real = dd._write_store_meta

    def crashing(spark_, path_, meta_):
        raise RuntimeError("injected crash before registry publish")

    monkeypatch.setattr(dd, "_write_store_meta", crashing)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        dd.append_band_store(spark, str(store), v2, n_pfx=8)
    monkeypatch.setattr(dd, "_write_store_meta", real)

    meta1, band1, spfx1 = disk_dirs()
    claimed_band = dd._bitmap_decode(meta1["band_dirs"])
    claimed_spfx = dd._bitmap_decode(meta1["spfx_dirs"])
    # registry NEVER over-claims: bits ⊆ disk even mid-crash...
    assert claimed_band <= band1 and claimed_spfx <= spfx1
    # ...and this crash specifically under-claims batch 2's new dirs
    assert claimed_band == dd._bitmap_decode(meta0["band_dirs"])

    # at-least-once replay of the SAME batch self-heals the registry
    dd.append_band_store(spark, str(store), v2, n_pfx=8)
    meta2, band2, spfx2 = disk_dirs()
    assert dd._bitmap_decode(meta2["band_dirs"]) == band2
    assert dd._bitmap_decode(meta2["spfx_dirs"]) == spfx2
    # healed reads see batch-2 history (no silently dropped candidates)
    batch_bands = dd.sig_bands(v2)
    got = dd.read_band_store(spark, str(store), prune_to=batch_bands)
    hist_ids = {r["doc_id"] for r in got.collect()}
    assert {r["doc_id"] for r in v2.select("doc_id").collect()} <= hist_ids


def test_semantic_decontam_stream_batch_split_invariant_and_equals_oneshot(
    spark, sf_dir, tmp_path
):
    """w09's invariance property for the SEMANTIC decontamination stream:
    because the test-set index is static, the union of per-batch flags
    must be identical no matter how the train split is batched, and must
    equal the ONE-SHOT cross_split_semantic_overlap with the same cell
    blocking (index centroids)."""
    from pyspark.sql import functions as F

    from lambda_kafka_to_s3_parquet_spark.functions.vectors import to_double, unit
    from lambda_kafka_to_s3_parquet_spark.operators.similarity import (
        cross_split_semantic_overlap,
    )
    from lambda_kafka_to_s3_parquet_spark.operators.vector_index import (
        _read_index_meta,
        assign_cells,
        build_ivf_index,
        semantic_decontaminate_batch,
    )
    from lambda_kafka_to_s3_parquet_spark.session import load_table
    from lambda_kafka_to_s3_parquet_spark.streaming.pipeline import (
        run_semantic_decontam_stream,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    test = emb.filter(F.col("vec_id") % 5 == 0)
    train = emb.filter(F.col("vec_id") % 5 != 0)
    idx = str(tmp_path / "test_idx")
    build_ivf_index(spark, test, idx, n_cells=8)

    # one big batch through the per-batch kernel
    one = sorted(
        map(tuple, semantic_decontaminate_batch(spark, train, idx, 0.35).collect())
    )
    assert len(one) > 0

    # three-way batch split through the STREAM
    src = str(tmp_path / "src")
    train.select("vec_id", "embedding").repartition(3).write.parquet(src)
    q = run_semantic_decontam_stream(
        spark, src, "vec_id long, embedding array<float>", idx,
        str(tmp_path / "out"), str(tmp_path / "ckpt"), threshold=0.35,
    )
    assert q.awaitTermination(300)
    streamed = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "out")).collect())
    )
    assert streamed == one

    # one-shot equality: same result as cross_split_semantic_overlap with
    # the index's OWN cell blocking applied to both splits at once
    meta = _read_index_meta(spark, idx)
    both = emb.select(
        F.col("vec_id").alias("id"),
        unit(to_double("embedding")).alias("_uvec"),
        F.when(F.col("vec_id") % 5 == 0, "test").otherwise("train").alias("_sp"),
    ).filter(F.col("_uvec").isNotNull())
    blocked = assign_cells(both, meta["centroids"])
    oneshot = sorted(
        map(
            tuple,
            cross_split_semantic_overlap(
                blocked, F.col("_sp"), threshold=0.35,
                id_col="id", vec_col="_uvec", block_col="cell",
            ).collect(),
        )
    )
    assert streamed == oneshot


def test_assign_cells_matches_index_assignment(spark, sf_dir, tmp_path):
    """assign_cells over the meta's centroid list must reproduce the
    MLlib assignment the index was BUILT with, vector for vector — the
    property that lets a new batch join a persisted cell partition
    without the model object."""
    from pyspark.sql import functions as F

    from lambda_kafka_to_s3_parquet_spark.functions.vectors import to_double, unit
    from lambda_kafka_to_s3_parquet_spark.operators.vector_index import (
        _read_index_meta,
        assign_cells,
        build_ivf_index,
    )
    from lambda_kafka_to_s3_parquet_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "idx")
    build_ivf_index(spark, emb, idx, n_cells=8)
    stored = {
        r["id"]: r["cell"]
        for r in spark.read.parquet(f"{idx}/cells").select("id", "cell").collect()
    }
    meta = _read_index_meta(spark, idx)
    uv = emb.select(
        F.col("vec_id").alias("id"), unit(to_double("embedding")).alias("_uvec")
    ).filter(F.col("_uvec").isNotNull())
    recomputed = {
        r["id"]: r["cell"]
        for r in assign_cells(uv, meta["centroids"]).select("id", "cell").collect()
    }
    assert recomputed == stored and len(stored) > 0


def test_token_quota_stream_equals_batch_cumsum(spark, sf_dir, tmp_path):
    """The streaming per-domain token quota must equal (a) the batch
    window-cumsum operator under an id-ordered replay and (b) an
    independent python greedy replay; (c) state is one running total per
    domain, so a doc arriving after its domain's budget exhausts drops
    even in a later batch; (d) NULL domains bypass the batch cap."""
    import os

    from lambda_kafka_to_s3_parquet_spark.operators.webfilter import (
        cap_domain_tokens,
    )
    from lambda_kafka_to_s3_parquet_spark.session import load_table
    from lambda_kafka_to_s3_parquet_spark.streaming.pipeline import (
        run_token_quota_stream,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.col("source").alias("host"),
            F.col("n_chars").cast("long").alias("n_tokens"),
        )
        .filter(F.col("doc_id") < 1200)
    )
    budget = 20_000

    src = tmp_path / "src"
    src.mkdir()
    halves = (docs.filter(F.col("doc_id") < 600), docs.filter(F.col("doc_id") >= 600))
    for i, b in enumerate(halves):
        staged = tmp_path / f"stage{i}"
        b.coalesce(1).write.parquet(str(staged))
        part = next(f for f in os.listdir(staged) if f.startswith("part-"))
        dst = src / f"batch-{i}.parquet"
        os.rename(staged / part, dst)
        os.utime(dst, (1_000_000_000 + i * 10, 1_000_000_000 + i * 10))

    q = run_token_quota_stream(
        spark,
        str(src),
        "doc_id long, host string, n_tokens long",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        budget=budget,
    )
    q.awaitTermination(300)
    got = sorted(
        (r["host"], r["doc_id"], r["n_tokens"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )

    # (a) batch twin
    want = sorted(
        (r["host"], r["doc_id"], r["n_tokens"])
        for r in cap_domain_tokens(
            docs, domain_col="host", weight_col="n_tokens", budget=budget
        ).collect()
    )
    assert got == want and len(got) > 0

    # (b) python greedy replay (stop-at-exhaustion in doc_id order)
    used: dict = {}
    replay = []
    for r in sorted(docs.collect(), key=lambda r: r["doc_id"]):
        u = used.get(r["host"], 0)
        if u + r["n_tokens"] <= budget:
            replay.append((r["host"], r["doc_id"], r["n_tokens"]))
        used[r["host"]] = u + r["n_tokens"]
    assert got == sorted(replay)

    # (c) the stop rule is global across batches: some domain must have
    # exhausted in batch 1 and kept nothing from batch 2
    kept_by_host = {}
    for h, d, _ in got:
        kept_by_host.setdefault(h, []).append(d)
    assert any(max(ds) < 600 for ds in kept_by_host.values())

    # (d) NULL domains bypass the batch operator
    with_null = docs.unionByName(
        spark.createDataFrame([(99_999, None, 10**9)],
                              "doc_id long, host string, n_tokens long")
    )
    capped = cap_domain_tokens(
        with_null, domain_col="host", weight_col="n_tokens", budget=budget
    )
    assert capped.filter("doc_id = 99999").count() == 1


def test_token_quota_stream_group_spanning_arrow_chunks(spark, tmp_path):
    """A domain whose micro-batch slice spans MULTIPLE Arrow record
    batches must still consume in global id order (round-9 advice: the
    old per-chunk sort broke the batch-cumsum equality at realistic batch
    sizes). One domain, 200 docs delivered reverse-id-ordered in one
    micro-batch, arrow.maxRecordsPerBatch=16 → the state fn sees ~13
    chunks; only the concat-then-sort-once form keeps the low-id docs."""
    import os

    from lambda_kafka_to_s3_parquet_spark.streaming.pipeline import (
        run_token_quota_stream,
    )

    n, budget = 200, 10 * 60  # keeps exactly doc_ids 0..59 at weight 10
    rows = [(i, "one.example", 10) for i in range(n)]
    df = spark.createDataFrame(
        rows, "doc_id long, host string, n_tokens long"
    # reverse id order in the file: global-sort correctness must not
    # depend on arrival order within the micro-batch
    ).orderBy(F.col("doc_id").desc())

    src = tmp_path / "src"
    src.mkdir()
    staged = tmp_path / "stage"
    df.coalesce(1).write.parquet(str(staged))
    part = next(f for f in os.listdir(staged) if f.startswith("part-"))
    os.rename(staged / part, src / "batch-0.parquet")

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        q = run_token_quota_stream(
            spark,
            str(src),
            "doc_id long, host string, n_tokens long",
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            budget=budget,
        )
        q.awaitTermination(300)
    finally:
        if old is not None:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )
        else:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")

    kept = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert kept == list(range(60))


def test_overlapping_state_partition_scopes_restore_the_session_value(spark):
    """Two ``_state_partitions`` scopes overlapping on two threads: the
    first to exit must not restore the value while the other is open,
    and after both exit the session holds its original value again (an
    inner scope saving the outer's temporary value as "old" would leave
    it behind)."""
    import threading

    from lambda_kafka_to_s3_parquet_spark.plans.streaming_queries import (
        _state_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    original = spark.conf.get(key)
    spark.conf.set(key, "13")
    first_in, second_in, first_out = (threading.Event() for _ in range(3))
    seen = {}

    def first():
        with _state_partitions(spark, 5):
            first_in.set()
            second_in.wait(30)
        first_out.set()

    def second():
        first_in.wait(30)
        with _state_partitions(spark, 5):
            second_in.set()
            first_out.wait(30)
            seen["after_first_exit"] = spark.conf.get(key)

    try:
        threads = [threading.Thread(target=f) for f in (first, second)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert seen == {"after_first_exit": "5"}
        assert spark.conf.get(key) == "13"
    finally:
        spark.conf.set(key, original)


# ---------------------------------------------------------------------------
# self-contained ingest lands: envelopes built here, Confluent-wire Avro
# ---------------------------------------------------------------------------

OTHER_TOPIC = "lndcdcadsprpsl_flightday"


def _write_envelope(path, topic=GOLDEN_TOPIC, n=6):
    """One Lambda-event envelope file of ``n`` ``topic`` records, each
    value ``confluent_wrap(id, encode_avro_record(row))`` base64-encoded
    under the default catalog's schema for ``topic``."""
    sid, fields = SchemaProvider().schema_for(topic)
    records = []
    for i in range(n):
        row = {f.name: i if f.type == "long" else f"{f.name}-{i}" for f in fields}
        records.append(
            {
                "topic": topic,
                "partition": 0,
                "offset": i,
                "timestamp": 1767571200000 + i,
                "timestampType": "CREATE_TIME",
                "key": base64.b64encode(str(i).encode()).decode(),
                "value": base64.b64encode(
                    confluent_wrap(sid, encode_avro_record(row, fields))
                ).decode(),
            }
        )
    with open(path, "w") as fh:
        json.dump({"records": {f"{topic}-0": records}}, fh)


def _landed_rows(spark, out, commit_protocol):
    if commit_protocol == "snapshot":
        return snapshot_read(spark, out).count()
    return spark.read.parquet(out).count()


@pytest.mark.parametrize("commit_protocol", ["snapshot", "inplace"])
def test_ingest_land_runs_one_spark_job(spark, tmp_path, commit_protocol):
    """A non-empty land is one Spark job: the write is the only action
    over the Python decode. An emptiness probe before it would add a job
    that re-runs the decode and abandons its Python worker."""
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    (tmp_path / "in").mkdir()
    _write_envelope(f"{inp}/ev-0.json", n=6)

    def land():
        _await(run_ingest_stream(
            spark, inp, out, ckpt, GOLDEN_TOPIC, commit_protocol=commit_protocol
        ))

    assert jobs_in(spark, land) == 1
    assert _landed_rows(spark, out, commit_protocol) == 6


@pytest.mark.parametrize("commit_protocol", ["snapshot", "inplace"])
def test_ingest_land_of_other_topic_commits_nothing(spark, tmp_path, commit_protocol):
    """A batch whose records all belong to another catalog topic decodes
    to nothing and lands nothing: no snapshot version and no batch-id
    mark, or no data file. A restart on the same checkpoint reprocesses
    nothing, and the next non-empty batch lands as usual."""
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    (tmp_path / "in").mkdir()
    _write_envelope(f"{inp}/ev-0.json", topic=OTHER_TOPIC, n=4)

    def land():
        q = run_ingest_stream(
            spark, inp, out, ckpt, GOLDEN_TOPIC, commit_protocol=commit_protocol
        )
        _await(q)
        return q

    first = land()
    assert first.lastProgress["numInputRows"] == 1  # the envelope was read
    assert current_version(spark, out) == 0
    assert not os.path.exists(f"{out}/_last_landed_batch.json")
    assert glob.glob(f"{out}/**/*.parquet", recursive=True) == []

    assert jobs_in(spark, land) == 0

    _write_envelope(f"{inp}/ev-1.json", n=5)
    land()
    assert _landed_rows(spark, out, commit_protocol) == 5
    if commit_protocol == "snapshot":
        assert current_version(spark, out) == 1


def test_empty_first_snapshot_batch_over_inplace_sink_fails_fast(spark, tmp_path):
    """The bootstrap guard runs before every snapshot write, so a
    snapshot stream pointed at an in-place-landed sink fails at its
    first batch even when that batch is empty."""
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    (tmp_path / "in").mkdir()
    _write_envelope(f"{inp}/ev-0.json", n=3)
    _await(run_ingest_stream(spark, inp, out, str(tmp_path / "ck1"), GOLDEN_TOPIC))
    assert spark.read.parquet(out).count() == 3

    other = str(tmp_path / "other")
    (tmp_path / "other").mkdir()
    _write_envelope(f"{other}/ev-0.json", topic=OTHER_TOPIC, n=2)
    q = run_ingest_stream(
        spark, other, out, str(tmp_path / "ck2"), GOLDEN_TOPIC,
        commit_protocol="snapshot",
    )
    with pytest.raises(Exception, match="existing in-place table"):
        q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 3
