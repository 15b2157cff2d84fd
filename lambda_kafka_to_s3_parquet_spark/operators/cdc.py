"""Streaming CDC upsert: continuously-maintained current-state table.

The reference's topics are CDC change streams (lndcdc* — README.md:20,
configure_lambda_triggeres.sh:13-23) and it lands RAW change rows; every
downstream consumer then wants "current state per key", which the batch
path answers with :func:`..operators.dedup.latest_by_key` (x02/i01). This
module maintains that answer CONTINUOUSLY — the MERGE/upsert half of a
lakehouse, expressed with stock Spark:

* the current-state table is partitioned by ``bucket = pmod(xxhash64(key),
  n_buckets)`` — a stable hash of the key, so a batch only ever touches
  the buckets its keys fall in;
* per micro-batch: compact the batch to latest-per-key, semi-join the
  stored table on the affected buckets (partition-pruned read), re-run
  latest-per-key over stored ∪ batch — correct under ANY arrival order
  because max-by-(ts, tiebreak) is associative and commutative, unlike
  the near-dup store's first-arrival semantics — and dynamic-partition-
  overwrite only those buckets;
* cost per batch ∝ batch keys × bucket width, never table history. At
  100 TB, ``n_buckets`` is sized so a bucket ≈ a few GB (the same
  knob as Delta/Iceberg file-level clustering on merge keys).

Exactly-once: the merge is not idempotent under replay only in the sense
that re-merging is WASTED work (latest-of-latest is unchanged) — but the
batch-id high-water mark is still kept (shared with the rollup's marker
machinery, checkpoint-identity guard included) so restarts skip applied
batches instead of re-reading table buckets per replayed batch.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .dedup import latest_by_key

# Shared maintenance plumbing (FS-API marker + emptiness probe): one
# implementation for every continuously-maintained table in the engine.
from .metafile import _fs_path, _jclass, _read_text
from .rollup import (
    _guard_no_inplace_data,
    _is_absent_or_empty,
    _maintenance_state,
    _write_last_batch_id,
)


def merge_cdc_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: list[str],
    ts_col: str,
    tiebreak: str,
    n_buckets: int = 16,
    commit_protocol: str = "inplace",
    commit_meta: dict | None = None,
) -> None:
    """Upsert one micro-batch of CDC rows into the current-state table.

    Commutative merge: compacting the batch first (latest per key within
    the batch) bounds the union at |stored affected| + |batch keys| rows,
    and re-running the same deterministic latest-per-key over the union
    gives the global latest regardless of how changes were split across
    batches. Same committer contract as the rollup merge (read-then-
    dynamic-overwrite of the same path: V1 staging committer). On
    direct-write storage pass ``commit_protocol="snapshot"`` — same
    manifest/marker protocol as the rollup's snapshot mode
    (``operators/snapshots.py``): fresh files + atomic publish, no
    read/write race, pre-merge snapshots stay readable via
    ``snapshot_read``.
    """
    if commit_protocol not in ("inplace", "snapshot"):
        raise ValueError(f"unknown commit_protocol: {commit_protocol!r}")
    bucket = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")
    part = (
        latest_by_key(batch, keys, ts_col, tiebreak)
        .drop("n_copies")
        .withColumn("bucket", bucket)
    )
    if commit_protocol == "snapshot":
        from .snapshots import (
            current_version,
            snapshot_append,
            snapshot_meta,
            snapshot_overwrite_partitions,
            snapshot_read,
        )

        # every snapshot-mode commit records the bucketing CONTRACT —
        # key list (exact order: xxhash64(k1, k2) != xxhash64(k2, k1))
        # and n_buckets — so lookup_current_state can fail fast on a
        # probe that would compute wrong buckets and silently miss.
        # Explicit key-merge over the prior meta preserves the
        # inheritance a bare commit_meta=None would have had.
        commit_meta = {
            **snapshot_meta(spark, path),
            **(commit_meta or {}),
            "merge_keys": list(keys),
            "n_buckets": n_buckets,
        }
        if current_version(spark, path) == 0:
            # Refuse to bootstrap OVER an existing in-place table: its
            # bucket=N data would silently vanish from snapshot_read.
            # (A crashed first snapshot commit leaves only data/ and
            # _snapshots/ — those don't count as in-place data.)
            _guard_no_inplace_data(spark, path)
            snapshot_append(spark, path, part, ["bucket"], meta=commit_meta)
            return
        existing = snapshot_read(spark, path)
    elif _is_absent_or_empty(spark, path):
        part.write.mode("overwrite").partitionBy("bucket").parquet(path)
        return
    else:
        existing = spark.read.parquet(path)
    affected = part.select("bucket").distinct()
    touched = existing.join(affected, "bucket", "left_semi")
    merged = latest_by_key(touched.unionByName(part), keys, ts_col, tiebreak).drop(
        "n_copies"
    )
    if commit_protocol == "snapshot":
        snapshot_overwrite_partitions(spark, path, merged, ["bucket"], meta=commit_meta)
        return
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )


def run_cdc_merge_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    table_path: str,
    checkpoint: str,
    keys: list[str],
    ts_col: str,
    tiebreak: str,
    n_buckets: int = 16,
    max_files_per_trigger: int | None = 1,
    commit_protocol: str = "inplace",
    maintain_live_commits: int | None = None,
    views: list[dict] | None = None,
) -> StreamingQuery:
    """Continuously maintain the CDC current-state table from a stream.

    ``foreachBatch`` → :func:`merge_cdc_batch`, with the same batch-id
    high-water mark + checkpoint-identity guard as the rollup stream
    (single maintenance writer per table). The result at any quiesce
    point equals ``latest_by_key`` over every change row ever streamed —
    pinned against x02's batch answer in tests, including out-of-order
    arrival and checkpoint restart.

    ``commit_protocol="snapshot"`` is exactly-once across crashes: the
    batch id rides inside the snapshot manifest, so merge + high-water
    mark are one atomic pointer swap (see ``run_rollup_stream`` for the
    full contract; in-place mode keeps the documented one-batch
    crash-replay residual of its two-step marker).

    ``maintain_live_commits=N`` (snapshot mode only) is the same
    in-stream rewrite cadence as ``run_rollup_stream``'s: each touched
    bucket gains a commit-dir entry per micro-batch, so a long-running
    merge stream otherwise accumulates manifest entries and small files
    without bound (not scans: commits with one read signature share a
    scan, and every bucket value has the same ``int`` type token);
    :func:`.snapshots.snapshot_maintain` no-ops below N live commits
    and folds + expires above it, with the high-water mark inherited
    through the maintenance commits (replay across the fold stays
    skipped — test-pinned). Expire bounds ``read_state_as_of`` /
    ``snapshot_row_changes`` retention to ``keep_last`` — size N and
    consumer lag together.

    ``views`` (snapshot mode only) maintains DERIVED aggregate tables
    from the same stream: after each merge, every spec
    (``{"path", "group_by", "sums"?, "n_buckets"?,
    "maintain_live_commits"?}``) gets one
    :func:`.ivm.incremental_view_refresh` poll — the retraction-applied
    refresh whose cost is ∝ the batch's changed rows, never ∝ state
    size. Each view's exactly-once is INDEPENDENT of the stream's: its
    consumed-version mark rides its own manifest, so refreshes run on
    EVERY handler invocation — including replayed batches the merge
    itself skips — making a crash between the merge commit and the view
    refresh self-healing (the replay's refresh catches the view up; a
    current view is a no-op version check). Refreshing in-stream also
    keeps each view's lag at zero polls, safely inside the
    ``maintain_live_commits`` expire retention; an EXTERNAL view poller
    on an expiring table must manage that lag itself. Views see the
    state table raw — tombstone rows count until purged (the
    maintained-table contract).
    """
    marker = os.path.join(table_path, "_last_merged_batch.json")
    if maintain_live_commits is not None and commit_protocol != "snapshot":
        raise ValueError(
            "maintain_live_commits is the snapshot-table rewrite cadence; "
            "the in-place layout has no commit history to bound"
        )
    if views and commit_protocol != "snapshot":
        raise ValueError(
            "views are maintained from the snapshot change feed; the "
            "in-place layout has no versions to diff"
        )

    def land(batch_df: DataFrame, batch_id: int) -> None:
        from .snapshots import is_snapshot_table

        state = _maintenance_state(spark, table_path, marker, checkpoint)
        # Bucket-count drift guard: the stored rows sit in pmod(hash, N)
        # partitions for the N the table was built with; merging with a
        # different N would semi-join the wrong buckets and leave stale
        # twins of every updated key (two "current" rows per key,
        # forever). Resizing is a rebuild, not a knob flip — fail fast.
        if state is not None and state.get("n_buckets") != n_buckets:
            raise ValueError(
                f"current-state table {table_path} was built with "
                f"n_buckets={state.get('n_buckets')} but this stream runs "
                f"n_buckets={n_buckets}; bucket assignment is part of the "
                "table layout — rebuild the table to resize"
            )
        stored_proto = state.get("commit_protocol", "inplace") if state else None
        if (state is not None and stored_proto != commit_protocol) or (
            commit_protocol == "inplace"
            and state is None
            and is_snapshot_table(spark, table_path)
        ):
            raise ValueError(
                f"current-state table {table_path} was maintained with "
                f"commit_protocol={stored_proto or 'snapshot'!r} but this "
                f"stream runs {commit_protocol!r}; the physical layouts "
                "are incompatible — migrate the table explicitly"
            )
        def _refresh_views() -> None:
            if not views:
                return
            from .ivm import incremental_view_refresh

            for v in views:
                incremental_view_refresh(
                    spark, table_path, v["path"], keys, v["group_by"],
                    v.get("sums"), n_buckets=v.get("n_buckets", 16),
                    maintain_live_commits=v.get("maintain_live_commits"),
                )

        if (state is not None and batch_id <= int(state["batch_id"])) or batch_df.isEmpty():
            # a replayed batch skips the merge, but its views may still
            # lag (crash landed between the merge commit and the view
            # refresh) — refreshing here is what makes that window
            # self-healing; current views no-op on a version check
            _refresh_views()
            return
        merge_cdc_batch(
            spark,
            batch_df,
            table_path,
            keys,
            ts_col,
            tiebreak,
            n_buckets,
            commit_protocol=commit_protocol,
            commit_meta={
                "batch_id": batch_id,
                "checkpoint": checkpoint,
                "n_buckets": n_buckets,
                "commit_protocol": commit_protocol,
            },
        )
        if commit_protocol == "inplace":
            # snapshot mode publishes the id atomically with the merge
            # (commit_meta above, inside the manifest).
            _write_last_batch_id(
                spark,
                marker,
                batch_id,
                checkpoint,
                extra={
                    "n_buckets": n_buckets,
                    "merge_keys": list(keys),
                    "commit_protocol": commit_protocol,
                },
            )
            return
        # views refresh BEFORE the maintenance fold: the fold's expire
        # keeps only keep_last versions, and a view whose mark still
        # points at the pre-merge version would find it expired and
        # wedge — refreshing first advances every mark to the post-merge
        # version, which expire always retains
        _refresh_views()
        if maintain_live_commits is not None:
            from .snapshots import snapshot_maintain

            snapshot_maintain(
                spark, table_path, ["bucket"],
                max_live_commits=maintain_live_commits,
            )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_current_state(
    spark: SparkSession,
    path: str,
    op_col: str | None = None,
    delete_ops: tuple[str, ...] = ("d", "delete"),
) -> DataFrame:
    """The maintained table, without its physical bucket column.

    When the change rows carry an operation column (Debezium-style
    ``c/u/d``; a Kafka compacted-topic tombstone decodes to the same
    shape — i03 surfaces null-value records exactly so callers can tag
    them as deletes), pass ``op_col``: a key whose LATEST change is a
    delete is absent from the result.

    Tombstones are filtered HERE, at read time — the merge deliberately
    keeps the latest change row per key even when it is a delete. Dropping
    tombstones at merge time would lose the ordering evidence: an
    out-of-order older upsert arriving in a later batch would re-run
    latest-per-key against nothing and silently resurrect the deleted key.
    Stored tombstones make the merge order-independent for deletes exactly
    as it is for upserts; :func:`purge_tombstones` reclaims the space once
    a retention watermark makes late arrivals impossible.
    """
    from .snapshots import is_snapshot_table, snapshot_read

    raw = (
        snapshot_read(spark, path)
        if is_snapshot_table(spark, path)
        else spark.read.parquet(path)
    )
    state = raw.drop("bucket")
    if op_col is not None:
        state = state.filter(~F.col(op_col).isin(*delete_ops))
    return state


def lookup_current_state(
    spark: SparkSession,
    path: str,
    keys: list[str],
    values: list,
    n_buckets: int = 16,
    op_col: str | None = None,
    delete_ops: tuple[str, ...] = ("d", "delete"),
) -> DataFrame:
    """POINT LOOKUP into the maintained table: the current rows for
    specific key tuples, reading ONLY their buckets — the serving-path
    primitive ("give me user 42's current row") that
    :func:`read_current_state` answers with a full-table scan.

    Each probe's bucket is the same ``pmod(xxhash64(keys), n_buckets)``
    the merge assigns, built from LITERALS — Catalyst constant-folds it,
    so the bucket comparison reaches the scan as a partition filter and
    only the probed buckets' files are listed/read (at a few GB per
    bucket, a point lookup costs one bucket, never the table). Key
    equality is then applied on the rows, tombstones filtered exactly
    like ``read_current_state``.

    ``values``: a list of key tuples (bare scalars accepted for a
    single-column key). ``n_buckets`` MUST match the value the table is
    maintained with — bucket assignment is part of the table contract
    (the stream guard enforces it per checkpoint); a snapshot-mode
    table's manifest meta records it, and a mismatch fails fast here
    rather than silently missing rows."""
    from .snapshots import is_snapshot_table, snapshot_meta, snapshot_read

    if not values:
        raise ValueError("lookup_current_state needs at least one probe")
    probes = [v if isinstance(v, (tuple, list)) else (v,) for v in values]
    if any(len(p) != len(keys) for p in probes):
        raise ValueError(
            f"every probe must carry {len(keys)} value(s) for keys {keys}"
        )
    snap = is_snapshot_table(spark, path)
    recorded = None
    recorded_keys = None
    if snap:
        m = snapshot_meta(spark, path)
        recorded = m.get("n_buckets")
        recorded_keys = m.get("merge_keys")
    if recorded is None:
        # inplace-protocol tables (and pre-meta snapshot tables) record
        # n_buckets in the side-car marker's extra fields — read it raw
        # (no checkpoint-identity guard: the lookup only needs the
        # bucket contract, not the batch high-water mark)
        txt = _read_text(
            spark, os.path.join(path, "_last_merged_batch.json")
        )
        if txt is not None:
            marker = json.loads(txt)
            recorded = marker.get("n_buckets")
            recorded_keys = marker.get("merge_keys")
    if recorded is not None and int(recorded) != int(n_buckets):
        raise ValueError(
            f"{path} is maintained with n_buckets={recorded} but the "
            f"lookup assumed {n_buckets}; bucket assignment is part "
            "of the table contract — pass the recorded value"
        )
    # key IDENTITY and ORDER are part of the same contract: the bucket
    # is pmod(xxhash64(*keys), n) over the maintainer's exact column
    # sequence — a lookup probing the same keys in another order (or a
    # subset/superset) computes wrong buckets and silently returns
    # empty/missing rows, the precise failure the n_buckets guard
    # exists to prevent
    if recorded_keys is not None and list(recorded_keys) != list(keys):
        raise ValueError(
            f"{path} is maintained with merge keys {list(recorded_keys)} "
            f"but the lookup probed {list(keys)}; the bucket hash is "
            "order-sensitive — pass the recorded key list verbatim"
        )
    raw = snapshot_read(spark, path) if snap else spark.read.parquet(path)
    # probe literals MUST hash with the stored key columns' exact types:
    # xxhash64 is physical-type-sensitive (int 42 and bigint 42 hash
    # differently), and a python int literal defaults to IntegerType —
    # an uncast probe would compute a WRONG bucket and silently miss
    ktypes = {f.name: f.dataType for f in raw.schema.fields}
    missing = [k for k in keys if k not in ktypes]
    if missing:
        raise ValueError(f"key column(s) {missing} not in {path}")
    bucket_pred = None
    key_pred = None
    for p in probes:
        lits = [F.lit(v).cast(ktypes[k]) for k, v in zip(keys, p)]
        b = F.pmod(F.xxhash64(*lits), F.lit(n_buckets)).cast("int")
        bp = F.col("bucket") == b  # constant-folded -> partition filter
        kp = None
        for k, v in zip(keys, lits):
            t = (F.col(k) == v) if kp is None else kp & (F.col(k) == v)
            kp = t
        bucket_pred = bp if bucket_pred is None else bucket_pred | bp
        key_pred = kp if key_pred is None else key_pred | kp
    state = raw.filter(bucket_pred).filter(key_pred).drop("bucket")
    if op_col is not None:
        state = state.filter(~F.col(op_col).isin(*delete_ops))
    return state


def purge_tombstones(
    spark: SparkSession,
    path: str,
    op_col: str,
    ts_col: str,
    older_than: str,
    delete_ops: tuple[str, ...] = ("d", "delete"),
) -> int:
    """Drop tombstone rows older than a retention watermark; returns the
    number purged.

    A stored tombstone only exists to out-vote change rows that arrive
    AFTER it but are timestamped BEFORE it (see
    :func:`read_current_state`). Once the pipeline's lateness bound
    guarantees no change older than ``older_than`` can still arrive —
    the same reasoning as a streaming watermark, and the same contract
    as Kafka compaction's ``delete.retention.ms`` — tombstones below it
    are dead weight and this compaction rewrites exactly the buckets
    holding one (dynamic partition overwrite; untouched buckets keep
    their files). Run it from the single maintenance writer at a quiesce
    point, like any other merge step.

    On a snapshot-protocol table the purge commits through
    ``snapshot_overwrite_all`` instead: one full-set commit whose
    manifest simply omits buckets left with no survivors — no in-place
    bucket rewrites, no FS-level directory deletes.
    """
    from .snapshots import is_snapshot_table, snapshot_overwrite_all, snapshot_read

    expired_pred = F.col(op_col).isin(*delete_ops) & (F.col(ts_col) < F.lit(older_than))
    if is_snapshot_table(spark, path):
        existing = snapshot_read(spark, path)
        n_purged = existing.filter(expired_pred).count()
        if n_purged == 0:
            return 0
        snapshot_overwrite_all(spark, path, existing.filter(~expired_pred), ["bucket"])
        return n_purged
    existing = spark.read.parquet(path)
    expired = expired_pred
    # One int per affected bucket — bounded by n_buckets, driver-safe.
    affected_ids = [
        r["bucket"] for r in existing.filter(expired).select("bucket").distinct().collect()
    ]
    if not affected_ids:
        return 0
    touched = existing.filter(F.col("bucket").isin(affected_ids))
    n_purged = touched.filter(expired).count()
    survivors = touched.filter(~expired)
    surviving_ids = {
        r["bucket"] for r in survivors.select("bucket").distinct().collect()
    }
    (
        survivors.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )
    # Dynamic overwrite only replaces partitions PRESENT in the written
    # data — a bucket whose every row expired produces none and would keep
    # its old file forever. Drop those bucket dirs through the FS API.
    fs, _ = _fs_path(spark, path)
    jpath = _jclass(spark, "org.apache.hadoop.fs.Path")
    for b in set(affected_ids) - surviving_ids:
        fs.delete(jpath(os.path.join(path, f"bucket={b}")), True)
    return n_purged


def read_state_as_of(
    spark: SparkSession,
    history_path: str,
    as_of: str,
    keys: list[str],
    ts_col: str,
    tiebreak: str | None = None,
    op_col: str | None = None,
    delete_ops: tuple[str, ...] = ("d", "delete"),
) -> DataFrame:
    """Point-in-time ("time travel") state from an append-only change
    history: the latest change per key with ``ts_col <= as_of``, deletes
    applied.

    The current-state table (:func:`run_cdc_merge_stream`) answers "now";
    this answers "as of T" from the raw landed change log — the other
    half of the lakehouse pair (Delta/Iceberg call it time travel; here
    the history IS the ingest sink's append-only output, so no extra
    storage format is needed). The timestamp filter lands on the scan
    (pushed to parquet row groups, and to partition pruning when the
    history is date-partitioned — the engine's default sink layout);
    the latest-per-key compaction is the same single-shuffle
    :func:`~..dedup.latest_by_key` the batch path (x02/i01) uses.

    ``tiebreak`` names the column that orders same-timestamp changes
    (a sequence/LSN column when the log has one). Without it, ties are
    broken by a hash of all non-key payload columns — arbitrary but
    DETERMINISTIC, so the state as of T never flips between re-runs the
    way a bare ``ts desc, ts desc`` ordering would under parallelism
    (the engine's survivor contract, see ``dedup.exact_dedup``).
    ``op_col`` applies Debezium-style delete semantics exactly as
    :func:`read_current_state`.
    """
    h = spark.read.parquet(history_path).filter(F.col(ts_col) <= F.lit(as_of))
    if tiebreak is None:
        payload = [c for c in h.columns if c not in keys and c != ts_col]
        h = h.withColumn("_tiebreak", F.xxhash64(*payload) if payload else F.lit(0))
        tiebreak = "_tiebreak"
    state = latest_by_key(h, keys, ts_col, tiebreak).drop("_tiebreak", "n_copies")
    if op_col is not None:
        state = state.filter(~F.col(op_col).isin(*delete_ops))
    return state
