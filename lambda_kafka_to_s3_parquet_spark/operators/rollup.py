"""Materialized time rollups (continuous aggregates) — SURVEY.md §2.9
family: the hypertable-rollup pattern (TimescaleDB continuous aggregates,
Druid ingestion rollup) re-expressed Spark-first.

At 100 TB you do not re-scan raw events for every dashboard query: a
scheduled job folds the raw stream into an hourly rollup table (orders of
magnitude smaller), and coarser granularities (day, month) re-aggregate
the rollup, never the raw data.

The design contract is **mergeability**: the rollup stores only aggregates
that compose associatively — count, sum, min, max (and HLL sketches for
distincts). Averages are NEVER stored; they are derived (sum/count) at
query time, because an avg of avgs is wrong under uneven bucket sizes.
The pytest/oracle checks pin exactly that: daily answers derived from the
hourly rollup must equal direct aggregation over raw events.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .metafile import _glob, _read_text, _write_in_place

#: THE mergeable-aggregate spec — the one place the rollup schema contract
#: lives. Each column name maps to (build, merge):
#:   * build(raw events)     -> the per-bucket partial  (hourly_rollup)
#:   * merge(partial column) -> the associative re-merge (reaggregate and
#:     merge_rollup_batch both derive their agg lists from here, so the
#:     build and merge paths cannot drift apart).
_AGG_SPEC: dict = {
    "n_events": (lambda: F.count("*"), lambda c: F.sum(c).cast("bigint")),
    "sum_value": (lambda: F.sum("value"), F.sum),
    "min_value": (lambda: F.min("value"), F.min),
    "max_value": (lambda: F.max("value"), F.max),
}

#: The opt-in mergeable-distinct column (DataSketches HLL binary); built
#: with ``hll_sketch_agg`` and merged with ``hll_union_agg`` wherever it
#: is present in a rollup frame.
_HLL_COL = "distinct_hll"


def _merge_aggs(cols) -> list:
    """Merge-side agg list derived from _AGG_SPEC for the columns present."""
    aggs = [merge(name).alias(name) for name, (_, merge) in _AGG_SPEC.items()]
    if _HLL_COL in cols:
        aggs.append(F.hll_union_agg(_HLL_COL).alias(_HLL_COL))
    return aggs


def hourly_rollup(events: DataFrame, distinct_col: str | None = None) -> DataFrame:
    """Fold raw events into the hour × event_type rollup (mergeable aggs).

    One shuffle on (hour, event_type) with map-side partial aggregation;
    the output is what a scheduled materialization job would append to the
    rollup table, partitioned by date at scale.

    ``distinct_col`` opts in the mergeable-distinct column: an HLL sketch
    (``hll_sketch_agg``, Apache DataSketches binary) stored per bucket.
    Exact distinct counts do NOT compose across buckets — storing them
    would repeat the avg-of-avgs mistake — but sketches union losslessly,
    so a year of hourly sketches re-aggregates to daily/monthly distincts
    without ever touching raw data. ~KB per bucket at any cardinality.
    """
    aggs = [build().alias(name) for name, (build, _) in _AGG_SPEC.items()]
    if distinct_col is not None:
        aggs.append(F.hll_sketch_agg(distinct_col).alias(_HLL_COL))
    return events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "event_type",
    ).agg(*aggs)


def materialize_hourly(
    events: DataFrame, path: str, distinct_col: str | None = None
) -> None:
    """Land the hourly rollup as a date-partitioned parquet table.

    ``distinct_col`` passes through to :func:`hourly_rollup`, opting in
    the mergeable HLL distinct-sketch column."""
    (
        hourly_rollup(events, distinct_col=distinct_col)
        .withColumn("d", F.to_date("hour"))
        .repartition("d")
        .write.mode("overwrite")
        .partitionBy("d")
        .parquet(path)
    )


def reaggregate(rollup: DataFrame, granularity: str = "day") -> DataFrame:
    """Coarser granularity FROM the rollup — raw data is never touched.

    count/sum/min/max merge associatively across the finer buckets;
    avg_value is derived from merged sum/count (never averaged averages);
    a ``distinct_hll`` column (when present) merges via ``hll_union_agg``
    and surfaces as ``approx_distinct`` — union of sketches over buckets
    is byte-identical to sketching the raw data directly.
    """
    out = rollup.groupBy(
        F.date_trunc(granularity, F.col("hour")).alias("bucket"),
        "event_type",
    ).agg(*_merge_aggs(rollup.columns))
    if _HLL_COL in out.columns:
        out = out.withColumn(
            "approx_distinct", F.hll_sketch_estimate(_HLL_COL)
        )
    return out.withColumn("avg_value", F.col("sum_value") / F.col("n_events"))


# --------------------------------------------------------------------------
# Streaming maintenance: the CONTINUOUS aggregate.
# --------------------------------------------------------------------------


def merge_rollup_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    distinct_col: str | None = None,
    commit_protocol: str = "inplace",
    commit_meta: dict | None = None,
) -> None:
    """Fold one micro-batch of raw events into the stored hourly rollup.

    Mergeability does all the work: the batch's partial hourly aggregate
    unions with the STORED buckets of the affected dates only (a semi-join
    on ``d`` — no driver-side partition listing) and re-merges with the
    same associative aggregates (derived from ``_AGG_SPEC``, plus
    ``hll_union_agg`` when the sketch column is present — so the
    continuously-maintained table keeps mergeable distincts too); dynamic
    partition overwrite then rewrites only the date partitions present in
    that output. Cost per batch is proportional to the batch's time span,
    never to the rollup's history — the property that makes the continuous
    aggregate viable at 100 TB of raw events.

    Committer contract (``commit_protocol="inplace"``, the default): the
    merged frame lazily READS ``path`` and the same job dynamic-partition-
    overwrites ``path``. With the default V1 staging FileOutputCommitter
    the read completes against the old files before the rename-commit
    swaps partitions, which is what the tests pin. Direct-write committers
    (e.g. the S3A magic committer) or a failure mid-commitJob can leave
    partitions partially replaced, and the documented retry would then
    double-count the partitions that already committed. For such storage
    pass ``commit_protocol="snapshot"``: the merge then reads the current
    MANIFEST-resolved snapshot and commits fresh files via the atomic
    pointer swap (``operators/snapshots.py``) — no read/write race by
    construction, crash-before-swap changes nothing, and every pre-merge
    snapshot stays readable (read the maintained table with
    ``snapshot_read`` in that mode).
    """
    if commit_protocol not in ("inplace", "snapshot"):
        raise ValueError(f"unknown commit_protocol: {commit_protocol!r}")
    # null-ts events roll into a NULL hour/date bucket; drop them here so
    # the Hive default partition never exists — a semi-join on d could not
    # retain stored NULL-date rows (NULL never equals NULL) and dynamic
    # overwrite would clobber that partition on every later null batch.
    # Corrupt timestamps belong in the ingest path's _corrupt_record flow,
    # not silently in a rollup bucket.
    part = (
        hourly_rollup(batch, distinct_col=distinct_col)
        .filter(F.col("hour").isNotNull())
        .withColumn("d", F.to_date("hour"))
    )
    # Bootstrap ONLY when the table is genuinely absent or empty, checked
    # explicitly through the FileSystem API — an AnalysisException from the
    # read must surface (schema corruption, permission, bad footer), never
    # be silently reinterpreted as "first materialization".
    if commit_protocol == "snapshot":
        from .snapshots import (
            current_version,
            snapshot_append,
            snapshot_overwrite_partitions,
            snapshot_read,
        )

        if current_version(spark, path) == 0:
            # Refuse to bootstrap OVER an existing in-place rollup (its
            # d=... partitions would silently vanish from snapshot_read)
            # — flipping protocols is an explicit migration.
            _guard_no_inplace_data(spark, path)
            # snapshot_append no-ops on an empty partial (e.g. an all-
            # null-ts first batch), staying at v0 so the NEXT batch still
            # takes the bootstrap path instead of reading an empty v1.
            snapshot_append(spark, path, part, ["d"], meta=commit_meta)
            return
        existing = snapshot_read(spark, path)
    elif _is_absent_or_empty(spark, path):
        # overwrite, not errorIfExists: the directory may exist-but-empty
        # (e.g. a crashed bootstrap left the bare dir or a stray marker).
        part.write.mode("overwrite").partitionBy("d").parquet(path)
        return
    else:
        existing = spark.read.parquet(path)
    if (_HLL_COL in existing.columns) != (_HLL_COL in part.columns):
        raise ValueError(
            f"rollup at {path} and this stream disagree on the '{_HLL_COL}' "
            "column: pass the same distinct_col the table was built with "
            "(a silent unionByName failure here would halt maintenance with "
            "a schema error mid-batch instead of at plan time)"
        )
    affected = part.select("d").distinct()
    touched = existing.join(affected, "d", "left_semi")
    merged = (
        touched.unionByName(part)
        .groupBy("hour", "event_type", "d")
        .agg(*_merge_aggs(part.columns))
    )
    if commit_protocol == "snapshot":
        snapshot_overwrite_partitions(spark, path, merged, ["d"], meta=commit_meta)
        return
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("d")
        .parquet(path)
    )


def _is_absent_or_empty(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` does not exist or holds no data files.

    Hidden/underscore entries (``_last_merged_batch.json``, ``_SUCCESS``,
    ``.crc``) don't count as data — Spark's parquet reader ignores them
    too, so this matches exactly the set of files a read would load.
    """
    return all(name.startswith(("_", ".")) for name in _glob(spark, path, "*"))


def _guard_no_inplace_data(spark: SparkSession, path: str) -> None:
    """Raise when ``path`` holds in-place (bucket=N / d=...) data but no
    snapshot metadata: flipping a stream to commit_protocol='snapshot'
    must be an explicit migration, never a silent restart from empty."""
    for name in _glob(spark, path, "*"):
        if not name.startswith(("_", ".")) and name != "data":
            raise ValueError(
                f"{path} holds an existing in-place table (found {name!r}); "
                "bootstrapping it as a snapshot table would silently drop "
                "that data. Migrate explicitly: snapshot_append the current "
                "state into a fresh path (or rebuild), then point the "
                "stream there."
            )


def _read_marker_state(spark: SparkSession, marker: str, checkpoint: str) -> dict | None:
    """The high-water-mark state dict, or None only when the marker
    genuinely does not exist. A marker that exists but cannot be read or
    parsed RAISES: treating it as absent would re-merge already-applied
    batches on retry (silent double counts) — the one failure mode worse
    than halting the maintenance query.

    Batch ids are scoped to the streaming CHECKPOINT, so the marker
    records which checkpoint issued them and this read fails fast when it
    does not match. Without the guard, deleting/relocating the checkpoint
    while the maintained table and marker persist restarts batch ids at
    0: batches <= the stale high-water mark would be silently skipped
    (data loss) and later ones re-merged (double counts). Divergence is
    an operator decision — wipe the marker WITH the table, or restore the
    paired checkpoint — never a silent guess.

    Shared by every continuously-maintained table in the engine (rollup,
    CDC current state); table-specific parameters recorded at write time
    (e.g. the CDC bucket count) ride the same dict.
    """
    txt = _read_text(spark, marker)
    if txt is None:
        return None
    state = json.loads(txt)
    _validate_state_checkpoint(state, marker, checkpoint)
    return state


def _validate_state_checkpoint(state: dict, source: str, checkpoint: str) -> None:
    if state.get("checkpoint") != checkpoint:
        raise ValueError(
            f"high-water mark {source} was written by checkpoint "
            f"{state.get('checkpoint')!r} but this stream runs from "
            f"{checkpoint!r}; batch ids are not comparable across "
            "checkpoints (risk: silent skips AND double-merges). Restore "
            "the original checkpoint, or rebuild the maintained table and "
            "marker together."
        )


def _maintenance_state(
    spark: SparkSession, table_path: str, marker: str, checkpoint: str
) -> dict | None:
    """High-water state for a continuously-maintained table.

    Snapshot-protocol tables committed since the manifest-meta upgrade
    carry it INSIDE the manifest — data + batch id publish in one atomic
    pointer swap, so there is no crash window between them. Pre-upgrade
    snapshot tables and every in-place table keep the legacy side-car
    marker. The manifest wins when both exist: after the first atomic
    commit the side-car goes stale and is never updated again (its
    batch id only falls behind, never ahead — the atomic commit happens
    before any marker write ever would). The same checkpoint-identity
    guard applies to either source."""
    from .snapshots import is_snapshot_table, snapshot_meta

    if is_snapshot_table(spark, table_path):
        meta = snapshot_meta(spark, table_path)
        if "batch_id" in meta:
            _validate_state_checkpoint(
                meta, f"{table_path} (snapshot manifest meta)", checkpoint
            )
            return meta
    return _read_marker_state(spark, marker, checkpoint)


def _read_last_batch_id(spark: SparkSession, marker: str, checkpoint: str) -> int:
    state = _read_marker_state(spark, marker, checkpoint)
    return -1 if state is None else int(state["batch_id"])


def _write_last_batch_id(
    spark: SparkSession,
    marker: str,
    batch_id: int,
    checkpoint: str,
    extra: dict | None = None,
) -> None:
    # In place, never replaced: a crash inside a replace's overwrite
    # rename (a delete then a rename where the filesystem has no native
    # one) would leave the marker absent, which reads as "no batch
    # applied" and re-merges every batch; a torn marker fails stop
    # instead.
    _write_in_place(
        spark,
        marker,
        json.dumps({"batch_id": batch_id, "checkpoint": checkpoint, **(extra or {})}),
    )


def run_rollup_stream(
    spark: SparkSession,
    events_dir: str,
    events_schema: str,
    rollup_path: str,
    checkpoint: str,
    max_files_per_trigger: int | None = 1,
    distinct_col: str | None = None,
    commit_protocol: str = "inplace",
    maintain_live_commits: int | None = None,
) -> StreamingQuery:
    """Continuously maintain the hourly rollup from an event stream.

    ``foreachBatch`` hands each micro-batch to :func:`merge_rollup_batch`.
    The merge is NOT naturally idempotent (re-merging a batch would double
    its counts), and foreachBatch is at-least-once on retry, so a tiny
    batch-id high-water mark next to the rollup table (written through the
    Hadoop FileSystem API, so it lives wherever the table lives — local,
    hdfs, or s3a) skips already-merged batches (single maintenance writer
    per rollup table, which a scheduled materialization job satisfies by
    construction). The marker also records WHICH checkpoint issued the
    batch ids and the stream fails fast on mismatch — see
    :func:`_read_last_batch_id`.

    ``distinct_col`` opts the maintained table into the mergeable HLL
    distinct column exactly like :func:`hourly_rollup` — each batch's
    sketch partial unions into the stored buckets, so "daily unique X
    from the continuously-maintained table" never touches raw events.

    Consistency contract. ``commit_protocol="inplace"``: merge and marker
    write are two steps, so a crash BETWEEN them re-merges that one batch
    on restart — the residual at-least-once window of any non-
    transactional two-step sink (clean stop/restart is exactly-once,
    which the restart test pins). ``commit_protocol="snapshot"``:
    EXACTLY-ONCE even across crashes — the batch id rides INSIDE the
    snapshot manifest (``snapshot_meta``), so data + high-water mark
    publish in one atomic pointer swap and a replayed batch is skipped
    no matter where the previous attempt died (the kill-anywhere restart
    test pins this). Pre-upgrade snapshot tables with a side-car marker
    migrate transparently: the first new commit moves the state into the
    manifest (see :func:`_maintenance_state`).

    ``maintain_live_commits=N`` (snapshot mode only) wires the rewrite
    cadence INTO the stream: after each merge the handler calls
    :func:`.snapshots.snapshot_maintain`, a manifest-read no-op until
    the live snapshot references > N commit directories, then one
    rewrite + expire. Without it, every micro-batch adds a commit to
    each touched date partition and a week-old maintained table reads a
    week of manifest entries and small files on every read. The scan
    count is bounded by read signature, not by this cadence: commits
    that touched the same set of dates share one scan (a date value
    stands for itself in the signature). Safe mid-stream by
    construction: the rewrite/expire maintenance commits INHERIT the
    manifest meta, so the batch-id high-water mark rides through the
    fold and a batch replayed across the rewrite is still skipped
    (test-pinned); a crash between merge and maintenance just defers
    the fold to the next batch. Note expire bounds time travel to
    ``snapshot_maintain``'s ``keep_last`` — an incremental consumer of
    this table must keep its lag inside that retention (the standard
    CDC-retention contract).
    """
    marker = os.path.join(rollup_path, "_last_merged_batch.json")
    if maintain_live_commits is not None and commit_protocol != "snapshot":
        raise ValueError(
            "maintain_live_commits is the snapshot-table rewrite cadence; "
            "the in-place layout has no commit history to bound"
        )

    def land(batch_df: DataFrame, batch_id: int) -> None:
        from .snapshots import is_snapshot_table

        state = _maintenance_state(spark, rollup_path, marker, checkpoint)
        stored_proto = state.get("commit_protocol", "inplace") if state else None
        if (state is not None and stored_proto != commit_protocol) or (
            commit_protocol == "inplace"
            and state is None
            and is_snapshot_table(spark, rollup_path)
        ):
            raise ValueError(
                f"rollup table {rollup_path} was maintained with "
                f"commit_protocol={stored_proto or 'snapshot'!r} but this "
                f"stream runs {commit_protocol!r}; the physical layouts "
                "are incompatible — migrate the table explicitly"
            )
        if (state is not None and batch_id <= int(state["batch_id"])) or batch_df.isEmpty():
            return
        merge_rollup_batch(
            spark,
            batch_df,
            rollup_path,
            distinct_col=distinct_col,
            commit_protocol=commit_protocol,
            commit_meta={
                "batch_id": batch_id,
                "checkpoint": checkpoint,
                "commit_protocol": commit_protocol,
            },
        )
        if commit_protocol == "inplace":
            # snapshot mode publishes the id atomically with the merge
            # (commit_meta above); only the in-place layout still needs
            # the two-step side-car marker.
            _write_last_batch_id(
                spark, marker, batch_id, checkpoint,
                extra={"commit_protocol": commit_protocol},
            )
        elif maintain_live_commits is not None:
            from .snapshots import snapshot_maintain

            snapshot_maintain(
                spark, rollup_path, ["d"],
                max_live_commits=maintain_live_commits,
            )

    reader = spark.readStream.schema(events_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    events = reader.parquet(events_dir)
    return (
        events.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
