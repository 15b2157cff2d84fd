"""Incremental view maintenance (IVM) from the snapshot change feed —
SURVEY.md §2.9 family: the Delta-CDF / Materialize-style derived table,
closing the change-data loop the snapshot layer opened.

The reference pipeline recomputes downstream shapes from the landed
parquet on every invocation (`lambda_function.py:59-66` re-reads and
re-writes whole objects); a maintained table's consumers deserve better:
`snapshot_row_changes` already emits exact keyed deltas (insert / delete
/ update pre+post images), so an additive aggregate view can be REFRESHED
by applying those deltas with signed multiplicity — ``+1`` for
``insert``/``update_postimage``, ``-1`` for ``delete``/``update_preimage``
— instead of re-aggregating the source. Per poll the cost is
∝ changed rows + the affected view buckets, never ∝ source size: the
100 TB contract that makes a derived table cheaper than a dashboard
query.

Scope — RETRACTABLE aggregates only: ``count(*)`` and ``sum`` (avg is
derived sum/count downstream, the rollup rule). ``min``/``max``/
``count(distinct)`` are NOT retractable — a delete of the current
minimum needs a rescan of the group — so this module refuses them by
construction (the spec only expresses counts and sums). Retraction
arithmetic is EXACT for integer and decimal columns; float sums can
drift by ulps under add-then-subtract (document per view; the oracle
checks use BIGINT sums).

Exactly-once: the consumed source version rides the VIEW manifest's
meta on the same atomic swap as the refreshed buckets
(``snapshot_overwrite_partitions(meta=...)``), so a crash anywhere
commits both or neither and a replayed poll is a no-op — the same
contract as ``snapshot_consume_changes``. Full retraction (every row of
a group deleted) drops the group, and a bucket whose LAST group
vanishes is dropped via ``drop_partitions`` in the same commit — the
dynamic-overwrite blind spot absence-from-frame cannot express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_RESERVED = {"n_rows", "vbucket", "_change_type"}


def _sign():
    """Signed multiplicity of a change row: how many copies of the image
    the state gained (+1) or lost (-1) — the algebra that makes
    count/sum views maintainable from deltas alone. (A function, not a
    module constant: building a Column requires an active session.)"""
    return F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))


def _vbucket(group_by: list[str], n_buckets: int):
    return (
        F.pmod(F.xxhash64(*group_by), F.lit(n_buckets))
        .cast("int")
        .alias("vbucket")
    )


def _full_agg(df: DataFrame, group_by: list[str], sums: list[str]) -> DataFrame:
    return df.groupBy(*group_by).agg(
        F.count("*").alias("n_rows"),
        *[F.sum(c).alias(f"sum_{c}") for c in sums],
    )


def incremental_view_refresh(
    spark: SparkSession,
    source: str,
    view: str,
    keys: list[str],
    group_by: list[str],
    sums: list[str] | None = None,
    n_buckets: int = 16,
    maintain_live_commits: int | None = None,
) -> dict:
    """ONE refresh poll of an aggregate view over a maintained snapshot
    table. First poll bootstraps: full aggregate of the source state,
    committed as a ``vbucket``-partitioned snapshot table (bucket =
    ``pmod(xxhash64(group_by), n_buckets)``). Every later poll applies
    the row-level change feed since the last consumed version:

    1. ``snapshot_row_changes(source, keys, last, cur)`` — scans pruned
       to the manifest delta (∝ data the range rewrote);
    2. per-group signed partials: ``Δn = Σ sign``, ``Δsum_c = Σ sign·c``
       (one shuffle on ``group_by``, map-side combined);
    3. merge with the CURRENT view rows of the AFFECTED buckets only
       (partition-pruned read — untouched buckets are never scanned,
       the rollup 'touched dates' pattern applied to hash buckets);
    4. groups whose merged ``n_rows`` hits 0 vanish; one atomic
       ``snapshot_overwrite_partitions`` of the affected buckets (with
       ``drop_partitions`` for buckets left empty) publishes data + the
       new high-water mark together.

    ``keys`` must be unique per source snapshot (the maintained-table
    contract — CDC current-state and rollup tables hold it). The view's
    spec (``group_by``/``sums``/``n_buckets``) is recorded in its meta
    and a later poll with a different spec fails fast: bucket
    assignment and column meaning are part of the table layout, exactly
    like the CDC stream's ``n_buckets`` guard.

    ``maintain_live_commits=N`` bounds the VIEW's own commit history:
    every refresh adds a commit to the view table (one per micro-batch
    when wired into a stream — the same unbounded-manifest disease the
    state tables' rewrite cadence cures), so above N live commit dirs
    the refresh runs ``snapshot_maintain`` on the view after its
    overwrite; the consumed-version mark inherits through the fold.
    The cadence bounds manifest size and file count; the view's read
    already costs one scan per read signature, not one per commit.

    A range that yields zero change rows (pure compaction / consume
    marks) advances the mark with a meta-only commit, so it is never
    re-diffed. Single maintenance writer per view. TOTAL retraction
    (every group of every bucket vanishing in one poll) fail-stops —
    an empty committed snapshot is unreadable by the snapshot layer's
    own rule; the poll self-heals once the source holds rows again,
    since the next refresh diffs across both the deletes and the new
    inserts in one range.

    Returns ``{"from", "to", "mode": "bootstrap"|"delta"|"none",
    "view_version"}``.
    """
    from .snapshots import (
        _commit,
        current_version,
        is_snapshot_table,
        snapshot_append,
        snapshot_meta,
        snapshot_overwrite_partitions,
        snapshot_read,
        snapshot_row_changes,
    )

    sums = list(sums or ())
    bad = (_RESERVED & set(group_by)) | {c for c in sums if f"sum_{c}" in group_by}
    if bad:
        raise ValueError(f"group_by collides with view columns: {sorted(bad)}")
    spec = {"group_by": list(group_by), "sums": sums, "n_buckets": n_buckets}

    cur = current_version(spark, source)
    vmeta = snapshot_meta(spark, view) if is_snapshot_table(spark, view) else {}
    last = int(vmeta.get("source_version", 0))
    stored = vmeta.get("view_spec")
    if stored is not None and stored != spec:
        raise ValueError(
            f"view {view} was built with spec {stored} but this refresh "
            f"runs {spec}; bucket assignment and aggregate meaning are "
            "part of the view layout — rebuild the view to change them"
        )
    if cur <= last:
        return {"from": last, "to": last, "mode": "none",
                "view_version": current_version(spark, view)}
    new_meta = {**vmeta, "source_version": cur, "view_spec": spec}

    if last == 0:
        out = _full_agg(snapshot_read(spark, source), group_by, sums)
        out = out.select(_vbucket(group_by, n_buckets), "*")
        v = snapshot_append(spark, view, out, ["vbucket"], meta=new_meta)
        # an EMPTY source state appends nothing and the mark cannot
        # advance without a commit (an empty v1 manifest would poison
        # later reads — the snapshot_append contract); the next poll
        # simply re-bootstraps, which over an empty state is free
        return {"from": 0, "to": cur, "mode": "bootstrap", "view_version": v}

    delta = snapshot_row_changes(spark, source, keys, last, to_version=cur)
    sgn = _sign()
    d = (
        delta.groupBy(*group_by)
        .agg(
            F.sum(sgn).alias("n_rows"),
            *[F.sum(sgn * F.col(c)).alias(f"sum_{c}") for c in sums],
        )
        .select(_vbucket(group_by, n_buckets), "*")
    )
    # The per-group partial is ∝ changed groups; pin it once — the merge
    # below uses it twice (affected-bucket list + the union), and
    # recomputing would re-run the pruned diff join.
    d = d.localCheckpoint(eager=True)
    affected = sorted(r[0] for r in d.select("vbucket").distinct().collect())
    if not affected:
        v = _commit(spark, view, "view_mark", {}, meta=new_meta)
        return {"from": last, "to": cur, "mode": "delta", "view_version": v}

    touched = snapshot_read(spark, view).filter(F.col("vbucket").isin(affected))
    merged = (
        touched.unionByName(d)
        .groupBy("vbucket", *group_by)
        .agg(
            F.sum("n_rows").alias("n_rows"),
            *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sums],
        )
        .filter(F.col("n_rows") != 0)
    )
    v = snapshot_overwrite_partitions(
        spark, view, merged, ["vbucket"], meta=new_meta,
        drop_partitions=[f"vbucket={b}" for b in affected],
    )
    if maintain_live_commits is not None:
        from .snapshots import snapshot_maintain

        snapshot_maintain(
            spark, view, ["vbucket"], max_live_commits=maintain_live_commits
        )
        v = current_version(spark, view)
    return {"from": last, "to": cur, "mode": "delta", "view_version": v}


def read_view(spark: SparkSession, view: str) -> DataFrame:
    """The view's current content without the physical ``vbucket``
    column (derive averages downstream as ``sum_c / n_rows`` — the
    rollup rule: never store an avg)."""
    from .snapshots import snapshot_read

    return snapshot_read(spark, view).drop("vbucket")
