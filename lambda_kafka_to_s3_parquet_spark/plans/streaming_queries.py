"""Event-time window aggregations (SURVEY.md §2.5 + §2.9, M5).

The reference carries the Kafka record timestamp but partitions by wall
clock (lambda_function.py:57,76 — SURVEY §2.5); the Spark-native upgrade
is real event-time semantics: tumbling/sliding/session windows over the
``events`` fixture. Registered in batch mode (identical window semantics,
DuckDB-oracle-checkable); the streaming execution of the same operators —
watermarks, checkpointing, exactly-once file sink — is exercised in
tests/test_streaming.py via ``streaming/pipeline.py``.

All three are one-shuffle plans: groupBy(window(...)) hashes on the window
struct + key with map-side partial aggregation; session windows add the
sessionization pass but remain a single exchange on user_id.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table
from . import register
from .extensions import X32_BM25_SQL

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def _localized(
    spark: SparkSession, df: DataFrame, scratch, view: str | None = None
) -> DataFrame:
    """Materialize a small result, then free its backing scratch state.

    The registered streaming queries build throwaway scratch (source
    parquet copies, checkpoints, memory-sink tables) that the returned
    frame references lazily — and the driver collects AFTER the fn
    returns, so the scratch can't simply be deleted on the way out.
    Localizing the (always small: grouped/aggregated) result to driver
    rows first lets every temp dir and memory-sink view be dropped here
    instead of leaking across repeated bench/driver invocations.
    """
    import shutil

    rows = df.collect()
    out = spark.createDataFrame(rows, df.schema)
    if view is not None:
        spark.catalog.dropTempView(view)
    shutil.rmtree(str(scratch), ignore_errors=True)
    return out


def _drain(q, timeout: int = 300) -> None:
    """Block until an availableNow query fully drains — or FAIL.

    ``awaitTermination(timeout)`` returns False on timeout; ignoring that
    and reading the sink would return silently partial aggregates that a
    rows-only (>0 rows) check happily accepts. A loaded shared host is
    exactly when that would happen, so the timeout is an error, never a
    truncation."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(f"streaming query failed to drain within {timeout}s")


#: Open :func:`_state_partitions` scopes, and the value the outermost
#: one saved.
_STATE_LOCK = threading.Lock()
_STATE_DEPTH = 0
_STATE_SAVED: str | None = None


@contextmanager
def _state_partitions(spark: SparkSession, n: int = 8):
    """Scope ``spark.sql.shuffle.partitions`` to the streaming run.

    Stateful streaming operators pin their state-store partition count
    from this conf at the FIRST micro-batch and keep it for the life of
    the checkpoint — it is a state-sizing knob, not a batch-parallelism
    knob, and inheriting the batch session's value is wrong in both
    directions: at 100 TB you size it UP (state volume / executor heap),
    while these bounded fixture replays pay ~4× micro-batch overhead for
    32-partition state stores holding a few thousand rows (measured:
    w05 13.8 s -> 5.0 s, w06 6.5 s -> 3.2 s at sf0.1 with 8). AQE does
    not apply inside streaming micro-batches, so the conf is the only
    lever. Restored on exit so batch plans in the same session keep the
    session's parallelism.

    Scopes may overlap (a registered query runs a batch branch on a
    second thread while its stream's scope is active), and the conf is
    session-global (the engine runs one session per process): only the
    OUTERMOST scope saves and restores the value — an inner scope saving
    it would record the outer scope's temporary value as "old" and
    restore that on exit.
    """
    global _STATE_DEPTH, _STATE_SAVED
    with _STATE_LOCK:
        if _STATE_DEPTH == 0:
            _STATE_SAVED = spark.conf.get("spark.sql.shuffle.partitions")
        _STATE_DEPTH += 1
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        with _STATE_LOCK:
            _STATE_DEPTH -= 1
            if _STATE_DEPTH == 0:
                spark.conf.set("spark.sql.shuffle.partitions", _STATE_SAVED)


# --------------------------------------------------------------------------
# w01 — tumbling + sliding event-time windows, union-tagged (consolidates
# former w02_sliding_window in round 5 to free a driver-window slot for
# x35). Branches over (src, window_start, event_type, n, metric):
#   * 'tumbling' — 1 hour per event type; metric = rounded sum(value);
#   * 'sliding'  — 1 hour length / 30 min slide (each event lands in 2
#     overlapping windows; the oracle expands the overlap with an
#     explicit 2-offset unnest); event_type = NULL, metric = distinct
#     users as double (shared column type across branches).
# --------------------------------------------------------------------------
@register(
    "w01_tumbling_window",
    oracle="""
    SELECT 'tumbling' AS src,
           strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                    '%Y-%m-%d %H:%M:%S')          AS window_start,
           event_type,
           count(*)                               AS n,
           round(sum(value), 2)                   AS metric
    FROM events
    GROUP BY 2, 3
    UNION ALL
    SELECT 'sliding' AS src,
           strftime(time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                      - k * INTERVAL '30 minutes',
                    '%Y-%m-%d %H:%M:%S')          AS window_start,
           CAST(NULL AS VARCHAR)                  AS event_type,
           count(*)                               AS n,
           CAST(count(DISTINCT user_id) AS DOUBLE) AS metric
    FROM events, (SELECT unnest([0, 1]) AS k)
    GROUP BY 2
    UNION ALL
    SELECT 'session' AS src, session_start AS window_start,
           CAST(user_id AS VARCHAR) AS event_type,
           n_events AS n, sum_value AS metric
    FROM (
      WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         <= INTERVAL '5 minutes' THEN 0 ELSE 1 END AS brk
        FROM events),
      sess AS (
        SELECT user_id, ts, value,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM marked)
      SELECT user_id,
             strftime(CAST(min(ts) AS TIMESTAMP),
                      '%Y-%m-%d %H:%M:%S.%f') AS session_start,
             count(*)              AS n_events,
             round(sum(value), 2)  AS sum_value
      FROM sess
      GROUP BY user_id, sess_id)
    ORDER BY src, window_start, event_type
    """,
    doc="event-time windows, union-tagged: tumbling 1h x event_type + "
    "sliding 1h/30min + per-user 5-min-gap SESSION windows (former w03, "
    "consolidated round 9 — gaps-and-islands oracle; its slot went to "
    "x52's count-min census)",
)
def w01_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    tumbling = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("metric"))
        .select(
            F.lit("tumbling").alias("src"),
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "event_type",
            "n",
            "metric",
        )
    )
    sliding = (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").cast("double").alias("metric"),
        )
        .select(
            F.lit("sliding").alias("src"),
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            F.lit(None).cast("string").alias("event_type"),
            "n",
            "metric",
        )
    )
    session = (
        e.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("metric"),
        )
        .select(
            F.lit("session").alias("src"),
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "window_start"
            ),
            F.col("user_id").cast("string").alias("event_type"),
            "n",
            "metric",
        )
    )
    return (
        tumbling.unionByName(sliding)
        .unionByName(session)
        .orderBy("src", "window_start", "event_type")
    )


# --------------------------------------------------------------------------
# w04 — the ACTUAL streaming ingest pipeline, driver-registered: envelope
# file source -> checkpointed decode -> foreachBatch partitioned sink,
# then a checkpoint-reuse restart (drains nothing — exactly-once, so the
# partition counts stay at one fixture's worth) and a pruned read-back.
# Rows-only: Avro bytes aren't SQL; byte-exact + restart asserts live in
# tests/test_streaming.py.
# --------------------------------------------------------------------------
@register(
    "w04_stream_ingest_roundtrip",
    oracle=None,
    doc="streaming ingest roundtrip: checkpointed decode -> partitioned sink, "
    "restart reprocesses nothing, partition-pruned read-back",
)
def w04_stream_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    from pathlib import Path

    from ..operators.sink import read_partition
    from ..streaming.pipeline import run_ingest_stream
    from .ingest import GOLDEN_EVENT, GOLDEN_TOPIC

    base = Path(tempfile.mkdtemp(prefix="w04_"))
    (base / "in").mkdir()
    shutil.copy(GOLDEN_EVENT, base / "in" / "event-0.json")
    with _state_partitions(spark):
        for _ in range(2):  # 2nd run reuses the checkpoint: drains nothing
            q = run_ingest_stream(
                spark, str(base / "in"), str(base / "out"), str(base / "ckpt"), GOLDEN_TOPIC
            )
            _drain(q)
    landed = read_partition(spark, str(base / "out"), topic=GOLDEN_TOPIC)
    out = (
        landed.groupBy("topic", "y", "m", "d", "h")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("SRC_KEY_VAL").alias("n_keys"),
        )
        .orderBy("topic", "y", "m", "d", "h")
    )
    return _localized(spark, out, base)


# --------------------------------------------------------------------------
# w05 — custom stateful streaming operator (applyInPandasWithState),
# driver-registered: events replayed as 4 micro-batches, per-user profile
# state accumulated ACROSS batches; each user's final emitted row must
# equal the plain batch aggregate — which IS the DuckDB oracle, making the
# stateful path one of the few streaming ops with a full value-hash check.
# --------------------------------------------------------------------------
@register(
    "w05_stateful_user_profiles",
    oracle="""
    SELECT user_id,
           count(*)                                 AS n_events,
           round(sum(value), 2)                     AS total_value,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S')   AS first_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S')   AS last_ts
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="custom stateful op: cross-micro-batch user profiles == batch aggregate",
)
def w05_stateful_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    from pathlib import Path

    from pyspark.sql.window import Window

    from ..streaming.stateful import running_user_profiles

    base = Path(tempfile.mkdtemp(prefix="w05_"))
    src, ckpt = str(base / "src"), str(base / "ckpt")
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    ev.repartition(4).write.parquet(src)  # 4 files -> 4 micro-batches

    name = base.name  # unique memory-sink table per invocation
    with _state_partitions(spark):
        stream = (
            spark.readStream.schema("user_id long, ts timestamp_ntz, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            running_user_profiles(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)

    # n_events is strictly monotone per user across emissions, so the max
    # row is the final accumulated state.
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    out = (
        spark.table(name)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 2).alias("total_value"),
            F.date_format(
                F.expr(
                    "timestampadd(MICROSECOND, first_us div 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
                _TS_FMT,
            ).alias("first_ts"),
            F.date_format(
                F.expr(
                    "timestampadd(MICROSECOND, last_us div 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
                _TS_FMT,
            ).alias("last_ts"),
        )
    )
    return _localized(spark, out, base, view=name)


# --------------------------------------------------------------------------
# w06 — streaming exact dedup: every event replayed TWICE (the
# at-least-once redelivery twin) across 4 micro-batches;
# dropDuplicatesWithinWatermark must restore exactly the original corpus.
# Round 13: CONSOLIDATED into x01_exact_dedup_docs' 'stream' branch (the
# x02/w10 precedent) — the function stays UNREGISTERED here (x01 runs it
# inside its fn; direct tests keep calling it), and the freed oracle
# slot promoted w12.
# --------------------------------------------------------------------------
def w06_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    from pathlib import Path

    from ..streaming.pipeline import dedup_stream

    base = Path(tempfile.mkdtemp(prefix="w06_"))
    src, ckpt = str(base / "src"), str(base / "ckpt")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    # union = the redelivery: each record arrives twice, in 2 random files
    ev.unionByName(ev).repartition(4).write.parquet(src)

    name = base.name
    with _state_partitions(spark):
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, "
                "ts timestamp_ntz, value double"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        # The replay is bounded and files arrive in arbitrary event-time
        # order, so the horizon must cover the fixture's whole span for a
        # complete dedup; in production the horizon is the broker's real
        # redelivery window (minutes), which bounds state the same way.
        deduped = dedup_stream(stream, ["event_id"], watermark="30 days")
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    out = (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_id").alias("n_distinct"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )
    return _localized(spark, out, base, view=name)


# --------------------------------------------------------------------------
# w07 — stream-stream inner join, driver-registered: clicks and purchases
# replayed as two independent file streams, joined per user within a
# ±10-minute event-time range (watermarked both sides => droppable state).
# Oracle-checked since round 5: match count, matched-user count, and the
# summed joined value must hash-equal the equivalent batch time-range
# join — the interval bound is exact microsecond arithmetic on BOTH
# engines, so boundary pairs cannot flip membership.
# --------------------------------------------------------------------------
@register(
    "w07_stream_stream_join",
    oracle="""
    SELECT count(*)                          AS n_matches,
           count(DISTINCT c.user_id)         AS n_users,
           round(sum(c.value + p.value), 2)  AS joined_value
    FROM (SELECT * FROM events WHERE event_type = 'click')    c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts - INTERVAL 10 MINUTE
     AND p.ts <= c.ts + INTERVAL 10 MINUTE
    """,
    doc="stream-stream join (watermarked, time-range bounded): "
    "click->purchase attribution within 10 minutes",
)
def w07_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    from pathlib import Path

    from ..streaming.pipeline import join_streams

    base = Path(tempfile.mkdtemp(prefix="w07_"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    schema = (
        "event_id long, user_id long, event_type string, "
        "ts timestamp_ntz, value double"
    )
    for side in ("click", "purchase"):
        ev.filter(F.col("event_type") == side).repartition(2).write.parquet(
            str(base / side)
        )

    def side_stream(side: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(base / side))
        )

    name = base.name
    with _state_partitions(spark):
        # Bounded replay: the horizon covers the fixture span (see w06);
        # the ±10-minute join bound is what keeps production state
        # droppable.
        joined = join_streams(
            side_stream("click"),
            side_stream("purchase"),
            key="user_id",
            within="10 minutes",
            watermark="30 days",
        )
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(base / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    out = spark.table(name).agg(
        F.count("*").alias("n_matches"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(F.col("value") + F.col("r_value")), 2).alias("joined_value"),
    )
    return _localized(spark, out, base, view=name)


# --------------------------------------------------------------------------
# w08 — continuously-maintained rollup (the streaming continuous
# aggregate): events replayed as micro-batches, each folded into the
# stored hourly rollup by mergeable-aggregate partial merge + dynamic
# partition overwrite of only the affected dates; the result is the DAILY
# reaggregation derived from the maintained table, never from raw events.
# Oracle-checked since round 5, INCLUDING the mergeable-distinct column:
# at the driver's sf0.01 the per-bucket cardinality (<= 86) keeps the
# DataSketches HLL sketch in its exact (coupon) regime — union across
# hourly buckets and micro-batch partials included — so `approx_distinct`
# hash-equals the oracle's exact count(DISTINCT event_id), pinning the
# whole streaming sketch-merge path byte-for-byte. Estimation-mode
# accuracy at larger cardinalities is measured separately (x29).
# Round 10: absorbs former x22_rollup_daily as the union-tagged 'batch'
# branch (one-shot materialize_hourly + reaggregate — the scheduled-job
# code path), freeing x22's oracle slot for w11. Both branches must
# equal the oracle's direct aggregation of raw events — the mergeable-
# aggregate contract holds whether the rollup was built in one pass or
# maintained incrementally.
# --------------------------------------------------------------------------
@register(
    "w08_incremental_rollup",
    oracle="""
    WITH agg AS (
      SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)),
                      '%Y-%m-%d %H:%M:%S')     AS day,
             event_type,
             count(*)                          AS n_events,
             round(sum(value), 2)              AS sum_value,
             round(min(value), 2)              AS min_value,
             round(max(value), 2)              AS max_value,
             round(round(sum(value), 2) / count(*), 2) AS avg_value,
             count(DISTINCT event_id)          AS approx_distinct
      FROM events
      GROUP BY 1, 2
    )
    SELECT 'batch' AS branch, * FROM agg
    UNION ALL
    SELECT 'stream' AS branch, * FROM agg
    ORDER BY branch, day, event_type
    """,
    doc="continuous aggregate, union-tagged: 'stream' = per-batch rollup "
    "merge (dynamic partition overwrite) -> daily reaggregate + HLL "
    "distincts from the maintained table; 'batch' = one-shot "
    "materialize_hourly -> same reaggregate (former x22). Both == direct "
    "aggregation of raw events",
)
def w08_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    from pathlib import Path

    from ..operators.rollup import (
        materialize_hourly,
        reaggregate,
        run_rollup_stream,
    )

    base = Path(tempfile.mkdtemp(prefix="w08_"))
    src, rollup, ckpt = str(base / "src"), str(base / "rollup"), str(base / "ckpt")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    ev.repartition(4).write.parquet(src)  # 4 files -> 4 micro-batches

    # r15 perf (guide §2.6): the 'batch' branch (former x22's
    # materialize_hourly — one aggregate + write to its own dir) is
    # fully independent of the streaming replay; run it on a second
    # driver thread so its jobs back-fill the stream's micro-batch
    # commit tails instead of running strictly after them. Results are
    # unaffected by the concurrent shuffle-partition scope: the rollup
    # aggregates are partitioning-independent (sums/counts/HLL merges
    # are associative-commutative and HLL registers are max-merged).
    batch_rollup = str(base / "batch_rollup")
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(1) as pool:
        fut = pool.submit(
            materialize_hourly, ev, batch_rollup, distinct_col="event_id"
        )
        with _state_partitions(spark):
            q = run_rollup_stream(
                spark,
                src,
                "event_id long, ts timestamp_ntz, event_type string, "
                "value double",
                rollup,
                ckpt,
                distinct_col="event_id",
            )
            _drain(q)
        fut.result()

    def daily_of(rollup_path: str, tag: str) -> DataFrame:
        daily = reaggregate(spark.read.parquet(rollup_path), "day")
        return daily.select(
            F.lit(tag).alias("branch"),
            F.date_format("bucket", _TS_FMT).alias("day"),
            "event_type",
            "n_events",
            F.round("sum_value", 2).alias("sum_value"),
            F.round("min_value", 2).alias("min_value"),
            F.round("max_value", 2).alias("max_value"),
            # avg derived from the ROUNDED sum: both engines then divide
            # the bit-identical double by the same count, so the 2-decimal
            # round cannot flip on last-ulp summation-order differences
            # (it did, at 45.885, when each engine rounded its own
            # unrounded sum).
            F.round(F.round("sum_value", 2) / F.col("n_events"), 2).alias(
                "avg_value"
            ),
            "approx_distinct",
        )
    out = (
        daily_of(rollup, "stream")
        .unionByName(daily_of(batch_rollup, "batch"))
        .orderBy("branch", "day", "event_type")
    )
    return _localized(spark, out, base)


# --------------------------------------------------------------------------
# w09 — incremental streaming near-dup dedup: the corpus arrives in
# micro-batches forever and each batch dedups against the signature
# store of all prior survivors (first arrival wins, greedy within
# batch) without ever re-reading prior text. Two id-ordered batches:
# the documents corpus, then a perturbed twin of every document (one
# appended token — near-dup, NOT byte-equal, est-Jaccard ≈ 0.95) at
# doc_id + 1e6 (each twin can only be suppressed by STORE history —
# the machinery under test; finer id-ordered splits are pinned
# equivalent by the batch-split invariance test, so a third micro-batch
# here would buy no coverage for ~6 s of fixed machinery). Because
# batch ids are monotone across batches, the maintained output equals
# the global first-id-wins greedy over the whole union corpus — which
# is what the oracle replays. ORACLE-CHECKED since round 14: the stream runs the
# PORTABLE MinHash family (md5-base + affine permutations,
# operators.dedup.portable_perm_constants — identical constants
# interpolated below), so DuckDB re-derives the exact signature
# vectors, the band-collision + agreement>=τ pair set, and the greedy
# walk (per-component list_reduce over id-ordered nodes: drop iff a
# smaller KEPT neighbor exists — byte-for-byte the operator's rule).
# The production xxhash64 family, restart idempotence, store pruning,
# and first-arrival-wins stay pinned in tests/test_streaming.py.
# --------------------------------------------------------------------------
def _w09_oracle() -> str:
    from ..operators.dedup import PORTABLE_MINHASH_P, portable_perm_constants

    p = PORTABLE_MINHASH_P
    n_bands, rows, k = 16, 4, 64
    mults, adds = portable_perm_constants(k)
    ab = "[" + ",".join(f"[{a},{b}]" for a, b in zip(mults, adds)) + "]"
    sql_tokens = (
        "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"
    )
    sql_shingles3 = (
        "CASE WHEN len(tok) >= 3 THEN "
        "list_distinct([array_to_string(tok[i:i+2], ' ') "
        "for i in range(1, len(tok) - 1)]) ELSE [] END"
    )
    return f"""
    WITH RECURSIVE
    corpus AS (SELECT doc_id, text, lang FROM documents
               UNION ALL
               SELECT doc_id + 1000000, text || ' zzreplaymarker', lang
               FROM documents),
    tok AS (SELECT doc_id, {sql_tokens} AS tok FROM corpus),
    shs AS (SELECT doc_id, {sql_shingles3} AS sh FROM tok),
    hm AS (SELECT doc_id, list_transform(sh, s ->
             ('0x' || substr(md5(s), 1, 15))::UBIGINT::BIGINT % {p}) AS hs
           FROM shs WHERE len(sh) > 0),
    sigs AS (SELECT doc_id, list_transform({ab}::BIGINT[][], q ->
               list_min(list_transform(hs, h -> (q[1]*h + q[2]) % {p}))) AS sg
             FROM hm),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM shs),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id),
    prs AS (SELECT doc_a, doc_b FROM cand
            JOIN sigs x ON x.doc_id = doc_a
            JOIN sigs y ON y.doc_id = doc_b
            WHERE len(list_filter(range(1, {k + 1}),
                                  i -> x.sg[i] = y.sg[i]))::DOUBLE / {k} >= 0.7
              AND len(list_filter(range(0, {n_bands}), b ->
                    x.sg[{rows}*b+1:{rows}*b+{rows}]
                      = y.sg[{rows}*b+1:{rows}*b+{rows}])) > 0),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
              UNION ALL SELECT doc_b, doc_a FROM prs),
    reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst),
    comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
    smaller AS (SELECT doc_b AS node, list(doc_a ORDER BY doc_a) AS sm
                FROM prs GROUP BY doc_b),
    walk_in AS (SELECT c.component, c.node,
                       [c.node] || coalesce(s.sm, CAST([] AS BIGINT[])) AS item
                FROM comp c LEFT JOIN smaller s ON s.node = c.node),
    grouped AS (SELECT component, list(item ORDER BY node) AS items
                FROM walk_in GROUP BY component),
    -- greedy walk: fold the id-ordered items, keeping a node iff no
    -- already-kept smaller neighbor. The first item is the component's
    -- min node, whose smaller-neighbor list is empty by construction,
    -- so it doubles as the initial accumulator [min_node] — deliberately
    -- NOT a shared [] sentinel prepended to every row: DuckDB 1.0's
    -- vectorized list_reduce leaks accumulator state ACROSS rows when
    -- seeded from one constant vector (observed: other components' kept
    -- ids appearing in a component's fold, nondeterministically).
    kept AS (SELECT component,
                    list_reduce(items,
                      (acc, x) -> CASE WHEN len(list_intersect(acc, x[2:])) > 0
                                       THEN acc
                                       ELSE list_append(acc, x[1]) END) AS keep
             FROM grouped),
    dropped AS (SELECT w.node AS doc_id
                FROM walk_in w JOIN kept kp USING (component)
                WHERE NOT list_contains(kp.keep, w.node))
    SELECT lang,
           count(*) AS n_survivors,
           CAST(sum(CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_twin_leaks,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM corpus
    WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    GROUP BY lang
    ORDER BY lang
    """


@register(
    "w09_incremental_neardup",
    oracle=_w09_oracle(),
    doc="incremental streaming near-dup dedup against a MinHash signature "
    "store (portable hash family): per-lang survivor census after an "
    "id-ordered perturbed-twin replay; oracle replays signatures, "
    "banding, and the first-id-wins greedy walk",
)
def w09_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    from pathlib import Path

    from ..streaming.pipeline import run_neardup_stream

    base = Path(tempfile.mkdtemp(prefix="w09_"))
    src = base / "src"
    src.mkdir()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    twins = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzreplaymarker"))
    )
    for i, b in enumerate((docs, twins)):
        staged = base / f"stage{i}"
        b.coalesce(1).write.parquet(str(staged))
        part = next(f for f in os.listdir(staged) if f.startswith("part-"))
        dst = src / f"batch-{i}.parquet"
        os.rename(staged / part, dst)
        # deterministic arrival order: the file source orders by mtime
        os.utime(dst, (1_000_000_000 + i * 10, 1_000_000_000 + i * 10))

    with _state_partitions(spark):
        q = run_neardup_stream(
            spark,
            str(src),
            "doc_id long, text string, lang string",
            str(base / "out"),
            str(base / "store"),
            str(base / "ckpt"),
            threshold=0.7,
            hash_family="portable",
        )
        _drain(q)
    landed = spark.read.parquet(str(base / "out"))
    out = (
        landed.groupBy("lang")
        .agg(
            F.count("*").alias("n_survivors"),
            F.sum((F.col("doc_id") >= 1_000_000).cast("long")).alias("n_twin_leaks"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang")
    )
    return _localized(spark, out, base)


# --------------------------------------------------------------------------
# w10 — streaming CDC upsert: the events change stream replayed as
# micro-batches continuously maintains the bucket-partitioned
# current-state table (latest row per user), i.e. the MERGE half of a
# lakehouse over the reference's CDC topics. The returned frame is the
# maintained table itself, compacted. Oracle-checked r6-r10 under its
# own name; round 11 CONSOLIDATED it into x02's 'stream' branch (its
# answer is definitionally x02's latest-per-user state, so one oracle
# query proves batch window-dedup == the whole maintenance loop ==
# DuckDB) — the freed slot oracle-promoted w14. UNREGISTERED function
# since then (x02's branch and the restart/out-of-order pytests call it
# directly, the x22 precedent).
# --------------------------------------------------------------------------
def w10_cdc_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    from pathlib import Path

    from ..operators.cdc import read_current_state, run_cdc_merge_stream

    base = Path(tempfile.mkdtemp(prefix="w10_"))
    src, table, ckpt = str(base / "src"), str(base / "table"), str(base / "ckpt")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    ev.repartition(4).write.parquet(src)  # 4 files -> 4 micro-batches

    with _state_partitions(spark):
        q = run_cdc_merge_stream(
            spark,
            src,
            "event_id long, user_id long, event_type string, "
            "ts timestamp_ntz, value double",
            table,
            ckpt,
            keys=["user_id"],
            ts_col="ts",
            tiebreak="event_id",
        )
        _drain(q)
    out = (
        read_current_state(spark, table)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
            F.round("value", 2).alias("value"),
        )
        .orderBy("user_id")
    )
    return _localized(spark, out, base)


# --------------------------------------------------------------------------
# w11 — stream enrichment from the maintained CDC state (the engine's
# end-to-end CDC story in one query): the EVEN-id half of the events
# stream builds the current-state table via the w10 merge; the ODD-id
# half then streams through a per-batch left join against that table,
# every event enriched with its user's state (or NULL dims for users
# never seen). ORACLE-CHECKED since round 10 (the parity split replaced
# the approxQuantile median precisely so DuckDB can reproduce it): the
# oracle rebuilds the dimension as latest-per-user over even events
# (row_number by ts DESC, event_id DESC — run_cdc_merge_stream's
# ordering) and left-joins the odd events; the == batch-left-join
# equivalence also stays pinned in tests/test_streaming.py.
# --------------------------------------------------------------------------
@register(
    "w11_stream_enrichment",
    oracle="""
    WITH dim AS (
      SELECT user_id, event_id AS dim_event_id, value AS dim_value
      FROM (
        SELECT *, row_number() OVER (
                    PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_id % 2 = 0
      ) WHERE rn = 1
    ),
    sec AS (SELECT * FROM events WHERE event_id % 2 = 1)
    SELECT sec.event_type,
           count(*)                                       AS n_events,
           CAST(sum(CASE WHEN dim.dim_event_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT)    AS n_enriched,
           count(DISTINCT sec.user_id)                    AS n_users,
           CAST(sum(CAST(round(dim.dim_value * 100) AS BIGINT))
                AS BIGINT)                                AS dim_cents_sum
    FROM sec LEFT JOIN dim USING (user_id)
    GROUP BY sec.event_type
    ORDER BY event_type
    """,
    doc="per-batch dimension lookup from the continuously-maintained CDC "
    "current-state table: odd-id events enriched with latest even-id "
    "user state; per-type match census (oracle-checked since r10)",
)
def w11_stream_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    from pathlib import Path

    from ..operators.cdc import run_cdc_merge_stream
    from ..streaming.pipeline import enrich_stream

    base = Path(tempfile.mkdtemp(prefix="w11_"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    schema = (
        "event_id long, user_id long, event_type string, "
        "ts timestamp_ntz, value double"
    )
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.repartition(2).write.parquet(str(base / "dim_src"))
    second.repartition(2).write.parquet(str(base / "ev_src"))

    with _state_partitions(spark):
        q = run_cdc_merge_stream(
            spark,
            str(base / "dim_src"),
            schema,
            str(base / "state"),
            str(base / "dim_ckpt"),
            keys=["user_id"],
            ts_col="ts",
            tiebreak="event_id",
        )
        _drain(q)
        q2 = enrich_stream(
            spark,
            str(base / "ev_src"),
            schema,
            str(base / "state"),
            str(base / "out"),
            str(base / "ev_ckpt"),
            key="user_id",
        )
        _drain(q2)
    enriched = spark.read.parquet(str(base / "out"))
    out = (
        enriched.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("dim_event_id").isNotNull().cast("long")).alias("n_enriched"),
            F.countDistinct("user_id").alias("n_users"),
            # Exact integer aggregate (per-row cent-scaling, then a long
            # sum): a rounded FLOAT sum is order-dependent in its last
            # ulps, and two engines summing ~1e5 doubles in different
            # orders can round to different 2-decimal values right at a
            # .005 boundary — the x54/x36 comparability rule.
            F.sum(F.round(F.col("dim_value") * 100).cast("long")).alias(
                "dim_cents_sum"
            ),
        )
        .orderBy("event_type")
    )
    return _localized(spark, out, base)


# --------------------------------------------------------------------------
# w12 — streaming SEMANTIC decontamination: x49's embedding-space
# cross-split overlap run incrementally against a PERSISTED test-set
# index (operators/vector_index.py build_ivf_index — cell-partitioned
# unit vectors + centroids-in-meta), the w09 band-store discipline with
# the state roles flipped (static test history, streamed train batches).
# ORACLE-CHECKED since round 13 (slot freed by w06→x01): the registered
# index is built with DETERMINISTIC one-hot axis centroids (the x31
# hyperplane-cells precedent), so the cell of a vector is pure argmax
# arithmetic — assign_cells' score v̂·c − ||c||²/2 degenerates to
# v̂[i] − 1/2, whose argmax over the first 8 components equals the raw
# components' argmax (monotone under the positive-norm division), ties
# to the lowest cell on BOTH sides (np.argmax first-hit ==
# list_position first-match). The per-batch flags are batch-split
# invariant given the static index (test-pinned), so the stream's
# landed census is a pure function of the corpus: DuckDB replays the
# cell assignment, the within-cell cosine (rounded 6 dp BEFORE the
# argmax, exactly like the Arrow kernel), the argmax tie-break and the
# threshold — the x49 oracle construction with the k-means blocking
# swapped for the replayable one. The default k-means form stays
# exercised in tests/test_streaming.py (batch-split invariance +
# one-shot equality).
# --------------------------------------------------------------------------
@register(
    "w12_semantic_decontam_stream",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_position(embedding[1:8],
                           list_max(embedding[1:8])) - 1 AS cell
      FROM embeddings
      WHERE embedding IS NOT NULL
        AND list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0),
    pairs AS (
      SELECT tr.cell AS block, tr.vec_id AS train_id, te.vec_id AS test_id,
             round(list_cosine_similarity(tr.v, te.v), 6) AS cos_sim
      FROM e tr JOIN e te ON tr.cell = te.cell
      WHERE tr.vec_id % 5 <> 0 AND te.vec_id % 5 = 0),
    flags AS (
      SELECT block, train_id, test_id, cos_sim
      FROM (SELECT *, row_number() OVER (PARTITION BY train_id
                                         ORDER BY cos_sim DESC, test_id) AS rn
            FROM pairs)
      WHERE rn = 1 AND cos_sim >= 0.35)
    SELECT block,
           count(*)                 AS n_flagged,
           count(DISTINCT test_id)  AS n_test_hit,
           round(max(cos_sim), 6)   AS max_sim,
           min(train_id)            AS first_train
    FROM flags GROUP BY block ORDER BY block
    """,
    doc="streaming semantic decontamination vs a persisted test-set IVF "
    "index (deterministic one-hot-axis cells): per-batch cell-pruned "
    "TRAIN x TEST GEMM, flags landed across micro-batches; DuckDB "
    "replays cells + blocked cosine + argmax + threshold end to end",
)
def w12_semantic_decontam_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    from pathlib import Path

    from ..operators.vector_index import build_ivf_index
    from ..streaming.pipeline import run_semantic_decontam_stream

    base = Path(tempfile.mkdtemp(prefix="w12_"))
    emb = load_table(spark, sf_dir, "embeddings")
    test = emb.filter(F.col("vec_id") % 5 == 0)
    train = emb.filter(F.col("vec_id") % 5 != 0)
    dim = len(
        emb.select("embedding").filter(F.col("embedding").isNotNull()).first()[0]
    )
    one_hot = [
        [1.0 if j == i else 0.0 for j in range(dim)] for i in range(8)
    ]
    build_ivf_index(
        spark, test, str(base / "test_idx"), n_cells=8, centroids=one_hot
    )
    train.select("vec_id", "embedding").repartition(3).write.parquet(
        str(base / "train_src")
    )
    with _state_partitions(spark):
        q = run_semantic_decontam_stream(
            spark,
            str(base / "train_src"),
            "vec_id long, embedding array<float>",
            str(base / "test_idx"),
            str(base / "out"),
            str(base / "ckpt"),
            threshold=0.35,
        )
        _drain(q)
    flags = spark.read.parquet(str(base / "out"))
    out = (
        flags.groupBy("block")
        .agg(
            F.count("*").alias("n_flagged"),
            F.countDistinct("test_id").alias("n_test_hit"),
            F.round(F.max("cos_sim"), 6).alias("max_sim"),
            F.min("train_id").alias("first_train"),
        )
        .orderBy("block")
    )
    return _localized(spark, out, base)


# --------------------------------------------------------------------------
# w13 — incremental streaming duplicated-SPAN scrubbing: x51's substring-
# granular dedup run continuously against the persisted gram-census store
# (registered append roots + driver bloom negative-lookup — grams hash
# uniformly, so the bloom, not bucket pruning, is what keeps a mostly-new
# batch from reading the store at all). Batch 1 replays the documents
# corpus; batch 2 replays twins that each PREPEND a unique marker to a
# verbatim copy of their original's text — so every twin's copied region
# is a historical repeat that only the store can flag (its grams appear
# once within the batch). ORACLE-CHECKED since round 11 (slot freed by
# x38→x21): the per-batch operator is PREFIX-REPLAY-EXACT by contract
# (== one-shot duplicated_spans over every doc seen so far, restricted
# to the batch; pinned in pytest), so the stream's landed flags are a
# pure function of the two replay corpora — DuckDB runs x51's
# positioned-gram + island pipeline TWICE (suffix-0 over the originals
# = batch-1 flags, suffix-1 over originals ∪ prefixed twins restricted
# to twin ids = batch-2 flags vs history) and re-derives the cohort
# census. HAVING count(*) > 0 mirrors groupBy emitting no row for an
# unflagged cohort. Gram keys: Spark xxhash64 vs the oracle's gram
# string — identical spans barring a 2^-64 collision (x51's contract).
# --------------------------------------------------------------------------
def _w13_span_ctes(sfx: str, corpus: str, k: int = 5) -> str:
    """x51's positioned-gram census + island-merge pipeline as suffixed
    CTE blocks (min_docs = 2, no df cap — w13's operator parameters),
    reusable twice in one WITH clause over different corpora."""
    tokens = (
        "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), "
        "t -> t <> '')"
    )
    return f"""
    tok{sfx} AS (SELECT doc_id, {tokens} AS tok FROM {corpus}),
    g{sfx} AS (SELECT doc_id,
                 unnest(list_transform(
                     range(1, greatest(len(tok) - {k} + 1, 0) + 1),
                     i -> array_to_string(list_slice(tok, i, i + {k - 1}), ' '))) AS gram,
                 unnest(range(0, greatest(len(tok) - {k} + 1, 0))) AS pos
          FROM tok{sfx}),
    census{sfx} AS (SELECT gram FROM g{sfx} GROUP BY gram
                    HAVING count(DISTINCT doc_id) >= 2),
    hits{sfx} AS (SELECT doc_id, pos FROM g{sfx}
                  SEMI JOIN census{sfx} USING (gram)),
    isl{sfx} AS (SELECT doc_id, pos,
                   sum(CASE WHEN prev IS NULL OR pos - prev > {k}
                            THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM (SELECT doc_id, pos,
                         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                  FROM hits{sfx})),
    spans{sfx} AS (SELECT doc_id,
                          max(pos) + {k} - min(pos) AS n_tokens
                   FROM isl{sfx} GROUP BY doc_id, island)"""


@register(
    "w13_span_scrub_stream",
    oracle=f"""
    WITH orig AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
    uni AS (SELECT doc_id, text FROM orig
            UNION ALL
            SELECT doc_id + 1000000,
                   'zzuniq' || CAST(doc_id + 1000000 AS VARCHAR)
                   || ' ' || text
            FROM documents WHERE doc_id < 300),
    {_w13_span_ctes('0', 'orig')},
    {_w13_span_ctes('1', 'uni')}
    SELECT 'original' AS cohort,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_flagged,
           CAST(count(*) AS BIGINT)               AS n_spans,
           CAST(sum(n_tokens) AS BIGINT)          AS tokens_flagged
    FROM spans0 HAVING count(*) > 0
    UNION ALL
    SELECT 'twin',
           CAST(count(DISTINCT doc_id) AS BIGINT),
           CAST(count(*) AS BIGINT),
           CAST(sum(n_tokens) AS BIGINT)
    FROM spans1 WHERE doc_id >= 1000000 HAVING count(*) > 0
    ORDER BY cohort
    """,
    doc="incremental streaming duplicated-span scrub against a persisted "
    "gram-census store: per-cohort flagged-span census after a "
    "verbatim-copy replay == DuckDB's dual one-shot span pipeline "
    "(prefix-replay-exact contract; history must flag every twin's "
    "copied region)",
)
def w13_span_scrub_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    from pathlib import Path

    from ..streaming.pipeline import run_span_scrub_stream

    base = Path(tempfile.mkdtemp(prefix="w13_"))
    src = base / "src"
    src.mkdir()
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 300)
    )
    twins = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000).withColumn(
        "text",
        F.concat(F.lit("zzuniq"), F.col("doc_id").cast("string"), F.lit(" "), F.col("text")),
    )
    for i, b in enumerate((docs, twins)):
        staged = base / f"stage{i}"
        b.coalesce(1).write.parquet(str(staged))
        part = next(f for f in os.listdir(staged) if f.startswith("part-"))
        dst = src / f"batch-{i}.parquet"
        os.rename(staged / part, dst)
        os.utime(dst, (1_000_000_000 + i * 10, 1_000_000_000 + i * 10))

    with _state_partitions(spark):
        q = run_span_scrub_stream(
            spark,
            str(src),
            "doc_id long, text string",
            str(base / "out"),
            str(base / "store"),
            str(base / "ckpt"),
            k=5,
            min_docs=2,
        )
        _drain(q)
    spans = spark.read.parquet(str(base / "out"))
    out = (
        spans.withColumn(
            "cohort",
            F.when(F.col("doc_id") >= 1_000_000, F.lit("twin")).otherwise(
                F.lit("original")
            ),
        )
        .groupBy("cohort")
        .agg(
            F.countDistinct("doc_id").alias("n_docs_flagged"),
            F.count("*").alias("n_spans"),
            F.sum("n_tokens").alias("tokens_flagged"),
        )
        .orderBy("cohort")
    )
    return _localized(spark, out, base)


# --------------------------------------------------------------------------
# w14 — streaming per-domain TOKEN quota: the stateful twin of x39's
# token-budget branch (cap_domain_tokens). Two replay batches; each
# domain's running token total is one LONG of state, consumed in doc_id
# order within a batch and arrival order across batches — docs after a
# domain's budget exhausts drop. ORACLE-CHECKED since round 11 (slot
# freed by the w10->x02 'stream'-branch fold): the registered replay
# splits batches ON doc_id, so cross-batch arrival order IS id order
# and the stream's kept set equals the batch cumsum — which DuckDB
# replays exactly as an id-ordered window running sum with the same
# inclusive running <= budget keep rule as x39's token_quota oracle.
# The == batch-operator == python-replay equalities (and the
# cross-chunk Arrow ordering test) stay pinned in test_streaming.py.
# --------------------------------------------------------------------------
@register(
    "w14_token_quota_stream",
    oracle="""
    WITH d AS (
      SELECT doc_id, source AS host, CAST(n_chars AS BIGINT) AS n_tokens
      FROM documents WHERE doc_id < 2000),
    c AS (
      SELECT host, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY host ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS running
      FROM d)
    SELECT host,
           CAST(count(*) AS BIGINT)      AS n_kept,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
           max(doc_id)                   AS last_kept_doc
    FROM c WHERE running <= 30000
    GROUP BY host ORDER BY host
    """,
    doc="streaming per-domain token quota (stateful running total, one "
    "LONG per domain): per-domain kept-doc/token census after a two-batch "
    "id-ordered replay == the batch cumsum == DuckDB's id-ordered window "
    "running sum (oracle-checked since r11)",
)
def w14_token_quota_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    from pathlib import Path

    from ..streaming.pipeline import run_token_quota_stream

    base = Path(tempfile.mkdtemp(prefix="w14_"))
    src = base / "src"
    src.mkdir()
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.col("source").alias("host"),
            F.col("n_chars").cast("long").alias("n_tokens"),
        )
        .filter(F.col("doc_id") < 2000)
    )
    # two batches split on doc_id so the cross-batch arrival order IS
    # doc_id order (the equality-with-batch-cumsum replay convention)
    for i, b in enumerate(
        (docs.filter(F.col("doc_id") < 1000), docs.filter(F.col("doc_id") >= 1000))
    ):
        staged = base / f"stage{i}"
        b.coalesce(1).write.parquet(str(staged))
        part = next(f for f in os.listdir(staged) if f.startswith("part-"))
        dst = src / f"batch-{i}.parquet"
        os.rename(staged / part, dst)
        os.utime(dst, (1_000_000_000 + i * 10, 1_000_000_000 + i * 10))

    with _state_partitions(spark):
        q = run_token_quota_stream(
            spark,
            str(src),
            "doc_id long, host string, n_tokens long",
            str(base / "out"),
            str(base / "ckpt"),
            budget=30_000,
        )
        _drain(q)
    kept = spark.read.parquet(str(base / "out"))
    out = (
        kept.groupBy("host")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
            F.max("doc_id").alias("last_kept_doc"),
        )
        .orderBy("host")
    )
    return _localized(spark, out, base)


# --------------------------------------------------------------------------
# w15 — streaming BM25 index maintenance (round 10): the persisted
# postings index tracks a document stream — first batch builds, later
# batches append, each fold exactly-once via the batch id riding the
# index meta swap. The returned top-10 comes from the MAINTAINED index.
# ORACLE-CHECKED since round 11 (slot freed by q06→q01): BM25 has no
# frozen structures, so the maintained index's answer must be
# bit-identical to the from-scratch recomputation over the full corpus
# whatever the append history — the oracle IS x32's BM25 SQL
# (extensions.X32_BM25_SQL, shared verbatim). A lost/duplicated posting,
# doc length, or corpus stat (df/avgdl/n_docs) from any stream batch
# shifts a score and goes red. The == one-shot equality and the
# crash-replay no-op stay pinned in tests/test_retrieval.py.
# --------------------------------------------------------------------------
@register(
    "w15_bm25_index_stream",
    oracle=X32_BM25_SQL,
    doc="streaming BM25 postings-index maintenance: build + exactly-once "
    "appends (batch id on the meta swap); top-10 from the maintained "
    "index == DuckDB's from-scratch BM25 over the full corpus (x32's "
    "SQL, shared)",
)
def w15_bm25_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    from pathlib import Path

    from ..operators.retrieval import bm25_topk_indexed
    from ..streaming.pipeline import run_bm25_index_stream
    from .extensions import X32_QUERY_TERMS

    base = Path(tempfile.mkdtemp(prefix="w15_"))
    src = base / "src"
    src.mkdir()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for i in range(3):
        b = docs.filter(F.col("doc_id") % 3 == i)
        staged = base / f"stage{i}"
        b.coalesce(1).write.parquet(str(staged))
        part = next(f for f in os.listdir(staged) if f.startswith("part-"))
        dst = src / f"batch-{i}.parquet"
        os.rename(staged / part, dst)
        os.utime(dst, (1_000_000_000 + i * 10, 1_000_000_000 + i * 10))

    with _state_partitions(spark):
        q = run_bm25_index_stream(
            spark,
            str(src),
            "doc_id long, text string",
            str(base / "bm25"),
            str(base / "ckpt"),
            n_buckets=32,
        )
        _drain(q)
    out = bm25_topk_indexed(spark, str(base / "bm25"), X32_QUERY_TERMS, k=10)
    return _localized(spark, out, base)
