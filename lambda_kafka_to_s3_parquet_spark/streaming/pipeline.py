"""Structured Streaming wrap of the ingest pipeline (SURVEY.md §2.5, M3).

The reference's streaming semantics are implicit in its Lambda plumbing:
micro-batches = event-source-mapping batch size, offsets = implicit commit
on success (at-least-once — a retry after a successful S3 put duplicates
the file), late data = none (wall-clock partitioning). This module makes
them explicit and stronger:

* **micro-batching**: file-source trigger knobs (``maxFilesPerTrigger`` /
  ``Trigger.AvailableNow``) stand in for ``maxOffsetsPerTrigger`` against
  a broker — the transform stack is source-agnostic, so swapping in
  ``spark.readStream.format("kafka")`` changes ONE line;
* **exactly-once**: checkpointed source offsets + the parquet sink's
  commit log upgrade the reference's at-least-once behavior — a restart
  reprocesses nothing (test-proven);
* **event time**: windowed aggregations run on the Kafka record timestamp
  with a watermark bounding state and late data, instead of ignoring it.

The decode stage (Arrow-batched mapInPandas) and partitioned sink are the
same objects the batch path uses — ``foreachBatch`` hands each micro-batch
to the identical batch writer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.sink import PARTITION_COLS, with_partition_columns, write_partitioned
from ..sources.avro_codec import SchemaProvider, decode_stage
from ..sources.kafka_replay import stream_lambda_events


def run_ingest_stream(
    spark: SparkSession,
    input_dir: str,
    output_path: str,
    checkpoint: str,
    topic: str,
    provider: SchemaProvider | None = None,
    max_files_per_trigger: int | None = None,
    commit_protocol: str = "inplace",
) -> StreamingQuery:
    """Envelope files -> decode -> partitioned parquet, exactly-once.

    ``Trigger.AvailableNow``: drains everything currently available in
    bounded micro-batches, then stops — the CI-friendly trigger that still
    exercises real checkpoint/commit machinery. Long-running deployments
    use the same code with a processing-time trigger.

    ``commit_protocol="snapshot"`` lands each micro-batch as one snapshot
    APPEND (``operators/snapshots.py``) whose manifest CARRIES the batch-id
    high-water mark: readers of the landed table (``snapshot_read``)
    never see a half-written batch — the gap the reference's
    file-per-invocation landing has (``lambda_function.py:59``) and the
    plain append sink narrows but can't close on non-atomic-listing
    object stores. Because data + batch id publish in one atomic pointer
    swap, a replayed foreachBatch (at-least-once on retry, no matter
    where the previous attempt crashed) is skipped instead of
    double-appended — exactly-once landing, crash-proven in tests.

    One Spark job per land: the micro-batch frame is the Python (Arrow)
    decode of :func:`decode_stage`, and the write is its only action. An
    empty batch commits nothing under either protocol — no snapshot
    version, no batch-id mark, no data file — because each writer is its
    own emptiness test. Never probe the batch first with a
    short-circuiting action (``isEmpty``, ``first``, ``take``, ``head``,
    ``limit(n).collect``): the probe re-runs the decode, and it stops
    reading its Python worker part-way, so Spark discards that worker and
    the write forks a fresh one. Measured on 500-record snapshot lands
    (median of 24; 2 worker threads, C1 JIT, 4-vCPU host): with an
    ``isEmpty`` probe, 2 jobs and 1811 ms per land, a new Python worker
    every land, the write job 856 ms; without, 1 job and 996 ms, one
    worker for all 24 lands, the write job 408 ms.
    """
    if commit_protocol not in ("inplace", "snapshot"):
        raise ValueError(f"unknown commit_protocol: {commit_protocol!r}")
    kafka_shaped = stream_lambda_events(spark, input_dir, max_files_per_trigger)
    decoded = decode_stage(kafka_shaped, provider or SchemaProvider(), topic)
    marker = os.path.join(output_path, "_last_landed_batch.json")

    def land(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch hands over a *batch* DataFrame: the observed
        # partitioned writer is reused verbatim from the batch path.
        from ..operators.rollup import _guard_no_inplace_data, _maintenance_state
        from ..operators.snapshots import is_snapshot_table

        # Protocol-flip guard, BOTH directions (same contract as the
        # rollup/CDC maintenance streams): restarting a snapshot-landed
        # sink as inplace would write topic=... dirs beside data/ that
        # snapshot_read never sees (and that break a plain root read);
        # the reverse flip would commit a v1 holding only the new batch,
        # silently hiding everything landed before it.
        state = _maintenance_state(spark, output_path, marker, checkpoint)
        stored_proto = state.get("commit_protocol", "inplace") if state else None
        if (state is not None and stored_proto != commit_protocol) or (
            commit_protocol == "inplace"
            and state is None
            and is_snapshot_table(spark, output_path)
        ):
            raise ValueError(
                f"ingest sink {output_path} was landed with commit_protocol="
                f"{stored_proto or 'snapshot'!r} but this stream runs "
                f"{commit_protocol!r}; the physical layouts are incompatible "
                "— migrate the table explicitly"
            )
        # Each writer below is its own emptiness test; no probe runs first
        # (see the docstring).
        if commit_protocol == "snapshot":
            from ..operators.snapshots import current_version, snapshot_append

            if state is not None and batch_id <= int(state["batch_id"]):
                return
            if current_version(spark, output_path) == 0:
                # first snapshot commit: refuse to bootstrap OVER an
                # existing in-place-landed sink (its topic=... data would
                # silently vanish from snapshot_read)
                _guard_no_inplace_data(spark, output_path)
            # the batch id rides the manifest — append + high-water mark
            # are ONE atomic publish (no side-car marker step to crash
            # between); an empty batch writes no partition dir, so nothing
            # commits
            snapshot_append(
                spark,
                output_path,
                with_partition_columns(batch_df),
                list(PARTITION_COLS),
                meta={
                    "batch_id": batch_id,
                    "checkpoint": checkpoint,
                    "commit_protocol": "snapshot",
                },
            )
        else:
            write_partitioned(with_partition_columns(batch_df), output_path)

    return (
        decoded.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(events: DataFrame, keys: list[str], watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup bounded by a watermark.

    ``dropDuplicatesWithinWatermark``: state for a key is kept only until
    the watermark passes its event time, so memory is bounded while
    duplicates arriving within the watermark horizon (the realistic
    at-least-once redelivery window) are suppressed — the streaming twin
    of ``operators.dedup.exact_dedup``.
    """
    events = _instant_ts(events)
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def _instant_ts(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Watermarks reject TIMESTAMP_NTZ; cast the wall-clock event time to an
    instant at the streaming boundary. The engine session pins UTC
    (session.get_spark), where the cast is the identity on the wall value."""
    if dict(events.dtypes).get(ts_col) == "timestamp_ntz":
        events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return events


def windowed_event_counts(
    events: DataFrame,
    watermark: str = "10 minutes",
    window_len: str = "1 hour",
) -> DataFrame:
    """Event-time tumbling window counts with a watermark (streaming-safe).

    In append mode a window is emitted exactly once, when the watermark
    passes its end — late events beyond the watermark are dropped and
    state is bounded by (watermark / window) windows per key.
    """
    events = _instant_ts(events)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def run_windowed_stream(
    spark: SparkSession,
    events_dir: str,
    events_schema: str,
    checkpoint: str,
    query_name: str = "windowed_counts",
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source streaming window aggregation into an in-memory sink.

    Append output mode: only watermark-finalized windows appear in the
    sink table — the semantics tests/test_streaming.py pins down.
    """
    reader = spark.readStream.schema(events_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    events = reader.parquet(events_dir)
    agg = windowed_event_counts(events, watermark=watermark)
    return (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    within: str = "10 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: same key, event times within ``within``.

    Both sides are unbounded, so matching needs buffered state; without
    bounds that state grows forever. Two constraints make it droppable
    (Spark refuses a stream-stream join that lacks them):

    * a **watermark on both inputs** — how late either side may arrive;
    * a **time-range join condition** — how far apart matching events may
      be. State for an event is freed once the other side's watermark
      passes its time plus ``within``.

    ``how`` extends to the watermarked OUTER joins (``left_outer`` /
    ``right_outer`` / ``full_outer``): an unmatched row is emitted with
    NULLs on the other side, but only once the watermark proves no match
    can still arrive — so outer results trail the watermark by design
    (the reason the outer-join tests drain with availableNow plus a
    final high-watermark batch).

    Left columns keep their names; right columns get a ``r_`` prefix
    (the self-join case would otherwise collide). At 100 TB the state
    store holds only (watermark + within) of data per side — the
    micro-batch analog of the bucketed interval join in
    ``operators/ranges.py``.
    """
    lt, rt = ts_col, f"r_{ts_col}"
    lw = _instant_ts(left, ts_col).withWatermark(ts_col, watermark)
    rw = _instant_ts(right, ts_col)
    rw = rw.select([F.col(c).alias(f"r_{c}") for c in rw.columns]).withWatermark(
        rt, watermark
    )
    cond = (
        (F.col(key) == F.col(f"r_{key}"))
        & (F.col(rt) >= F.col(lt) - F.expr(f"INTERVAL {within}"))
        & (F.col(rt) <= F.col(lt) + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, how)


def run_neardup_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    output_path: str,
    store_path: str,
    checkpoint: str,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> StreamingQuery:
    """Continuous near-dup corpus dedup: file-source batches -> survivors.

    The streaming form of :func:`..operators.dedup.incremental_neardup`:
    every micro-batch is deduplicated against the signature store of all
    prior survivors (first arrival wins) and against itself (greedy by
    id), survivors land at ``output_path`` and their signatures append to
    the store. State never contains document text — only fixed-width
    MinHash vectors — so the store grows at ~n_bands·K·8 bytes/survivor
    regardless of document size.

    The store is the PERSISTED TWO-PART BAND STORE (``append_band_store``):
    slim ``(id, band_sig)`` rows under ``bands/band=<b>/pfx=<band_sig mod
    n_pfx>`` dirs for candidate generation, plus one ``(id, sigs)`` row
    per survivor under id-bucketed ``sigs/spfx=`` dirs for verification.
    Each batch's history lookup statically prunes the band table to its
    own (band, pfx) buckets and fetches sigs only for its candidates'
    id-buckets (``read_band_store`` / ``read_sig_store``), so per-batch
    cost is ∝ batch + touched buckets — never a full-store scan or a
    per-batch rebuild of the store's band table. Bootstrap is
    probed through the FileSystem API — a read error (corrupt footer,
    permissions, transient storage failure) must surface, never be
    silently treated as "no history": that would dedup the batch only
    against itself and permanently land near-dups of every prior
    survivor (same reasoning as the rollup bootstrap). Keep dir sizes
    bounded as the corpus grows with ``rebucket_band_store`` from the
    maintenance window (an interrupted rebucket swap is completed
    automatically by the bootstrap probe — ``_recover_rebucket``).

    RESTART COMPATIBILITY: a stream that previously ran against the
    pre-banded flat ``(id, sigs)`` store fails fast here ("has no
    band-store meta file") rather than silently dropping history —
    upgrade explicitly with ``operators.dedup.migrate_band_store``
    (one pass: legacy signatures re-band into a fresh banded store),
    then point ``store_path`` at the migrated store.

    Exactly-once caveat (same boundary as the rollup merge's two-step
    commit): the survivor land and the store append are two writes; a
    crash between them replays the batch whose survivors then collide
    with... nothing (the store append is what's missing), landing them
    twice. A transactional table format (Delta/Iceberg) closes the
    window by making land+append one commit; on plain parquet, run
    compaction (exact_dedup on id) over ``output_path`` after a crashed
    batch, or accept at-least-once landing.
    """
    from ..operators.dedup import append_band_store, incremental_neardup_banded

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        surv = incremental_neardup_banded(
            spark,
            batch_df,
            store_path,
            threshold,
            id_col=id_col,
            text_col=text_col,
            hash_family=hash_family,
        )
        # two actions below (land + store append): persist so the
        # candidate joins + greedy walk run once, not twice
        surv = surv.persist()
        try:
            surv.drop("sigs").write.mode("append").parquet(output_path)
            with_sigs = surv.filter(F.col("sigs").isNotNull()).select(id_col, "sigs")
            if not with_sigs.isEmpty():
                append_band_store(
                    spark, store_path, with_sigs, id_col=id_col, hash_family=hash_family
                )
        finally:
            surv.unpersist()

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def enrich_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    state_table: str,
    output_path: str,
    checkpoint: str,
    key: str,
    state_prefix: str = "dim_",
) -> StreamingQuery:
    """Per-batch dimension lookup: enrich a stream from the maintained
    CDC current-state table.

    The slowly-changing-dimension pattern that closes the engine's CDC
    loop: :func:`..operators.cdc.run_cdc_merge_stream` keeps the
    current-state table fresh; this query LEFT-joins every micro-batch
    against that table (re-read per batch, so each batch sees the state
    as of its own processing time — the semantics a broadcast/static
    join would freeze at stream start). State columns land under
    ``state_prefix`` so enrichment never collides with event columns;
    unmatched keys pass through with NULL dims (no event is dropped by
    a missing dimension row).

    At 100 TB the per-batch state read is the bucket-pruned scan the
    current-state layout was built for (the join keys' buckets only,
    when AQE turns the join's build side into a dynamic filter) and the
    join broadcasts whichever side is small — both left to the planner.
    """
    from ..operators.cdc import read_current_state

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        state = read_current_state(spark, state_table)
        dims = state.select(
            F.col(key), *[F.col(c).alias(f"{state_prefix}{c}") for c in state.columns if c != key]
        )
        batch_df.join(dims, key, "left").write.mode("append").parquet(output_path)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_semantic_decontam_stream(
    spark: SparkSession,
    train_dir: str,
    schema: str,
    test_index_path: str,
    output_path: str,
    checkpoint: str,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Continuous SEMANTIC decontamination: stream TRAIN embeddings,
    flag those with a >= ``threshold`` cosine test-set neighbor.

    The embedding twin of :func:`run_neardup_stream`, with the state
    roles flipped: the near-dup stream's history GROWS per batch; here
    the "history" is the STATIC test set, persisted once as an IVF index
    (``vector_index.build_ivf_index``) whose centroid list lives in its
    meta. Each micro-batch assigns its vectors to the index's cells and
    reads only those cell directories
    (``vector_index.semantic_decontaminate_batch``) — per-batch cost
    ∝ batch, exactly the band-store discipline. Flags append to
    ``output_path``; because the test set is static, batches are
    independent and the result is batch-split invariant (test-pinned
    mirroring w09's invariance test). The plain append sink carries the
    usual at-least-once caveat on crash replay (dedup flags on
    (train_id) downstream, or land via snapshot_append).
    """
    from ..operators.vector_index import semantic_decontaminate_batch

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        flags = semantic_decontaminate_batch(
            spark, batch_df, test_index_path, threshold, id_col, vec_col
        )
        flags.write.mode("append").parquet(output_path)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(train_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_span_scrub_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    output_path: str,
    store_path: str,
    checkpoint: str,
    k: int = 5,
    min_docs: int = 2,
    max_gram_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Continuous duplicated-SPAN scrubbing: file-source batches →
    flagged spans, each batch checked against the persisted gram-census
    store of ALL prior batches plus itself (the scrub-as-you-ingest
    contract: early docs keep their text, later verbatim repeats flag).

    The per-batch operator is
    :func:`..operators.dedup.incremental_duplicated_spans` — prefix-
    replay-exact (== the one-shot ``duplicated_spans`` over every doc
    seen so far, restricted to the batch; test-pinned) — with the
    streaming ``batch_id`` recorded on the append entry in the same
    atomic meta swap: a crash AFTER the census fold published but BEFORE
    the checkpoint committed replays the batch, the operator sees its
    batch_id already registered, SKIPS the fold (no double count), and
    re-emits the identical flags by reading history minus its own prior
    append. A crash before the fold replays against the same store state
    (orphaned dir invisible). Flags are deterministic either way; the
    land is mode-append, giving the usual at-least-once landing boundary
    (dedup the output on (doc_id, span_start) after a crashed batch, or
    land into a snapshot table). Keep dir counts bounded with
    ``compact_gram_store`` from the maintenance window — only while the
    stream is quiesced (it retires the per-append replay marks)."""
    from ..operators.dedup import incremental_duplicated_spans

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spans = incremental_duplicated_spans(
            spark, store_path, batch_df, k=k, min_docs=min_docs,
            max_gram_df=max_gram_df, id_col=id_col, text_col=text_col,
            batch_id=batch_id,
        )
        spans.write.mode("append").parquet(output_path)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_bm25_index_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    index_path: str,
    checkpoint: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
) -> StreamingQuery:
    """Continuously maintain a persisted BM25 postings index from a
    document stream: the first micro-batch builds the index
    (:func:`..operators.retrieval.build_bm25_index`), every later batch
    appends its postings (:func:`..operators.retrieval.
    append_to_bm25_index`) — and ``bm25_topk_indexed`` over the
    maintained index equals the from-scratch ``bm25_topk`` over every
    document seen so far, bit-for-bit (nothing in bm25 is frozen: df,
    n_docs, avgdl all update exactly; test-pinned).

    Exactly-once: the micro-batch id rides the index meta on the same
    atomic swap as the data (``base_batch_id`` for the build, a
    registry-entry ``batch_id`` per append), so a batch replayed after a
    crash between the meta swap and the checkpoint commit is recognized
    and skipped — double-counted postings are impossible at any crash
    point. Same single-maintainer contract as every index writer.

    ``compact_every=N`` wires the maintenance cadence INTO the stream:
    once the append registry holds ≥ N entries, the handler folds them
    via :func:`..operators.retrieval.compact_bm25_index` and sweeps
    superseded/orphaned dirs via :func:`..operators.vector_index.
    vacuum_index` — inside ``foreachBatch`` the handler IS the single
    maintainer at a quiesce point, so both contracts hold by
    construction. Compaction advances ``base_batch_id`` to the max
    folded id (a ``<=`` high-water mark), so a pre-compaction batch
    replayed after any crash stays a no-op; steady state is then
    ≤ N+1 roots per query and a bounded registry, forever — without it
    a week of micro-batches means a week of append dirs per query.

    At 100 TB this is how the retrieval index tracks an ingest stream
    without rebuild storms: per batch the tokenize+explode cost is
    ∝ batch, the write is one bucketed append dir, and queries keep
    paying only their terms' buckets across base + appends.
    """
    from ..operators.retrieval import (
        append_to_bm25_index,
        build_bm25_index,
        compact_bm25_index,
    )
    from ..operators.vector_index import _read_index_meta, vacuum_index

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        meta = _read_index_meta(spark, index_path)
        if meta is None:
            # a tf/ dir without meta is an orphan from a build that
            # crashed before its meta swap — invisible to every reader,
            # safe to clear under the single-maintainer contract (and
            # the build's errorifexists would otherwise wedge the replay)
            from ..operators.metafile import _fs_path

            fs, tfp = _fs_path(spark, f"{index_path}/tf")
            if fs.exists(tfp):
                fs.delete(tfp, True)
            build_bm25_index(
                spark, batch_df, index_path, n_buckets=n_buckets,
                id_col=id_col, text_col=text_col, batch_id=batch_id,
            )
            return
        append_to_bm25_index(
            spark, batch_df, index_path, id_col=id_col, text_col=text_col,
            batch_id=batch_id,
        )
        if compact_every is not None:
            meta = _read_index_meta(spark, index_path)
            if len(meta.get("appends", [])) >= compact_every:
                compact_bm25_index(spark, index_path)
                vacuum_index(spark, index_path)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_token_quota_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    output_path: str,
    checkpoint: str,
    budget: int,
    domain_col: str = "host",
    weight_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """Streaming per-domain TOKEN quota: the stateful twin of
    :func:`..operators.webfilter.cap_domain_tokens`. Each domain's
    running token total rides ``applyInPandasWithState`` (one LONG per
    key — O(domains) state regardless of corpus size); a document is
    kept iff the total including it stays within the budget, consuming
    in ``id_col`` order within each micro-batch and in arrival order
    across batches. Equals the batch operator whenever the replay
    presents documents in ``id_col`` order (the file-source replay
    convention every streaming twin here uses; test-pinned). Kept rows
    land mode-append — at-least-once like the other landing twins."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{domain_col} STRING, {id_col} LONG, {weight_col} LONG"

    def update(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (domain,) = key
        (used,) = state.get if state.exists else (0,)
        # Concat the group's Arrow chunks BEFORE sorting: a domain whose
        # micro-batch slice spans multiple record batches must consume in
        # GLOBAL id order, not per-chunk order (round-9 advice finding —
        # per-chunk sort_values broke the pinned batch-cumsum equality
        # once a group exceeded arrow.maxRecordsPerBatch). Group data is
        # already executor-resident under applyInPandasWithState, so the
        # concat adds no new memory class. The cumsum IS the batch rule:
        # `used + w <= budget` with pre-row `used` == post-row running
        # total <= budget; the total counts EVERY arrival
        # (stop-at-exhaustion), matching cap_domain_tokens' window cumsum.
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(id_col)
            cum = used + pdf[weight_col].astype("int64").cumsum()
            kept = pdf[cum <= budget]
            used = int(cum.iloc[-1])
            if len(kept):
                yield pd.DataFrame(
                    {
                        domain_col: domain,
                        id_col: kept[id_col].astype("int64").to_numpy(),
                        weight_col: kept[weight_col]
                        .astype("int64")
                        .to_numpy(),
                    }
                )
        state.update((used,))

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
        .filter(F.col(domain_col).isNotNull())
        .groupBy(domain_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType="used LONG",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
