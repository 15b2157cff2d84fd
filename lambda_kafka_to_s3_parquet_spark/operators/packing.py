"""Sequence packing for LLM training-data prep (SURVEY.md §2.9 family).

Training pipelines concatenate documents in a deterministic order and cut
the stream into fixed-length context windows ("packs"). Assigning each
document to the pack where it STARTS requires the exclusive prefix sum of
token counts over the whole corpus — the textbook distributed-scan
problem. A single global ``Window.orderBy(...)`` computes it on ONE task
over ALL rows, which is exactly the shape that dies at 100 TB, so this
operator uses the classic two-level scan instead:

1. rows bucket by ``floor(order_key / bucket_size)`` — deterministic
   arithmetic, not ``repartitionByRange`` (whose sampled boundaries would
   make pack ids differ run-to-run);
2. within-bucket running sums via a window PARTITIONED by bucket — every
   bucket scans in parallel;
3. per-bucket totals (a groupBy producing #buckets rows) get an exclusive
   running sum via a window over that TINY aggregate — the only serial
   step touches thousands of rows, not billions — and broadcast-join back.

``prefix = bucket_offset + within_bucket_cumsum - weight`` is then exact,
global, and reproducible on any cluster size or partitioning. The same
two-level scan is how file-offset assignment and deterministic global row
numbering are done at scale; ``pack_id = prefix div pack_len`` is just one
consumer of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .metafile import _create_atomic


def with_global_prefix_sum(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    bucket_size: int = 100_000,
    out_col: str = "prefix_sum",
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Exclusive prefix sum of ``weight_col`` in ``order_col`` order.

    ``order_col`` must be a numeric total-order key (dense-ish ids keep
    buckets balanced; gaps only make some buckets smaller). Adds
    ``out_col`` = sum of weights of all STRICTLY EARLIER rows. Two
    shuffles (bucket window + tiny aggregate), no global single-task scan.

    ``partition_cols`` restarts the scan per group (one independent
    prefix sum per partition key — the per-domain token-quota shape,
    ``..webfilter.cap_domain_tokens_scaled``): every window/aggregate
    gains the group key, the offsets join stays a plain shuffle join
    there (groups × buckets rows need not fit a broadcast) and matches
    NULL group keys null-safely (a NULL group is an ordinary group, as
    in SQL window semantics — an equi-join would silently drop its
    rows), while the ungrouped form keeps its tiny broadcast.

    The within-bucket window uses an explicit ROWS frame: the default
    RANGE frame gives order-key PEERS the same inclusive sum, which
    breaks the stop-at-exhaustion consumers on duplicate keys. With
    duplicate ``order_col`` values the scan is only defined up to peer
    order (Spark's within-partition tie order) — the contract remains a
    UNIQUE total-order key, as pack_sequences' determinism claim
    requires.
    """
    pcols = list(partition_cols or [])
    b = F.floor(F.col(order_col) / F.lit(bucket_size)).alias("_bucket")
    bucketed = df.withColumn("_bucket", b)
    w_in = (
        Window.partitionBy(*pcols, "_bucket")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bucketed.withColumn("_cum", F.sum(weight_col).over(w_in))
    totals = bucketed.groupBy(*pcols, "_bucket").agg(
        F.sum(weight_col).alias("_btot")
    )
    w_b = (
        Window.partitionBy(*pcols)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *pcols,
        "_bucket",
        F.coalesce(F.sum("_btot").over(w_b), F.lit(0)).alias("_boff"),
    )
    if not pcols:
        joined = cum.join(F.broadcast(offsets), ["_bucket"])
    else:
        off = offsets.select(
            *[F.col(c).alias(f"_o_{c}") for c in pcols],
            F.col("_bucket").alias("_o_bucket"),
            "_boff",
        )
        cond = [cum["_bucket"] == off["_o_bucket"]] + [
            cum[c].eqNullSafe(off[f"_o_{c}"]) for c in pcols
        ]
        joined = cum.join(off, cond).drop(
            "_o_bucket", *[f"_o_{c}" for c in pcols]
        )
    return (
        joined.withColumn(
            out_col, (F.col("_boff") + F.col("_cum") - F.col(weight_col))
        ).drop("_bucket", "_cum", "_boff")
    )


def pack_sequences(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    pack_len: int,
    bucket_size: int = 100_000,
) -> DataFrame:
    """Assign each row to the fixed-size pack where its tokens start.

    Concat-then-chunk semantics: documents are laid out in ``order_col``
    order and the stream is cut every ``pack_len`` tokens; a document
    belongs to the pack containing its first token (long documents simply
    continue into the next window, as training loaders do). Adds
    ``pack_id`` (bigint). Deterministic on any partitioning — the pack
    layout of a 100 TB corpus is reproducible bit-for-bit.
    """
    out = with_global_prefix_sum(df, order_col, weight_col, bucket_size)
    return out.withColumn(
        "pack_id", F.floor(F.col("prefix_sum") / F.lit(pack_len)).cast("bigint")
    ).drop("prefix_sum")


def pack_token_ids(
    encoded: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
    bucket_size: int = 100_000,
) -> DataFrame:
    """Materialize the packed training rows themselves:
    (seq_id, token_ids[<=seq_len], n_docs, n_filled, doc_spans).

    :func:`pack_sequences` assigns docs to windows; this goes the rest of
    the way for real id sequences (``operators.bpe.encode_corpus``
    output): concatenate every document's ids in ``id_col`` order and cut
    the stream every ``seq_len`` tokens, exactly what a pretraining
    loader consumes. ``doc_spans`` records (doc_id, start, len) for each
    document fragment inside the row — the attention/loss-mask boundary
    information packing must not lose. The last row may be short
    (``n_filled < seq_len``); loaders pad it.

    Scale shape: the global token offset of each doc comes from the same
    two-level scan as :func:`with_global_prefix_sum` (never a one-task
    window); each doc then explodes to the WINDOWS IT OVERLAPS — a
    ceil(n/seq_len)+1-row fan-out per doc, NOT per token — carrying the
    ``slice`` of its ids that lands in that window; one groupBy(seq_id)
    reassembles rows. Deterministic bit-for-bit on any partitioning."""
    src = encoded.withColumn("_n", F.size(ids_col)).filter(F.col("_n") > 0)
    pre = with_global_prefix_sum(src, id_col, "_n", bucket_size, out_col="_off")
    L = F.lit(seq_len)
    n = F.col("_n")
    spans = pre.select(
        id_col,
        ids_col,
        "_n",
        "_off",
        F.explode(
            F.sequence(
                F.floor(F.col("_off") / L),
                F.floor((F.col("_off") + n - 1) / L),
            )
        ).alias("seq_id"),
    )
    lo = F.greatest(F.lit(0), F.col("seq_id") * L - F.col("_off"))  # local start
    hi = F.least(n, (F.col("seq_id") + 1) * L - F.col("_off"))
    frag = spans.select(
        "seq_id",
        F.struct(
            # offset inside the window orders fragments; cast keeps struct
            # comparison cheap and the schema stable
            F.greatest(F.lit(0), F.col("_off") - F.col("seq_id") * L)
            .cast("int")
            .alias("start"),
            F.slice(ids_col, lo + 1, hi - lo).alias("ids"),
            F.col(id_col).cast("long").alias("doc_id"),
        ).alias("f"),
    )
    return (
        frag.groupBy("seq_id")
        .agg(F.array_sort(F.collect_list("f")).alias("fs"))
        .select(
            "seq_id",
            F.flatten(F.col("fs.ids")).alias("token_ids"),
            F.size("fs").alias("n_docs"),
            F.transform(
                "fs",
                lambda f: F.struct(
                    f["doc_id"].alias("doc_id"),
                    f["start"].alias("start"),
                    F.size(f["ids"]).alias("len"),
                ),
            ).alias("doc_spans"),
        )
        .withColumn("n_filled", F.size("token_ids"))
    )


def export_shards(
    df: DataFrame,
    path: str,
    order_col: str,
    weight_col: str,
    max_per_shard: int,
    bucket_size: int = 100_000,
) -> dict:
    """Materialize the corpus as deterministic, size-bounded training
    SHARDS — the delivery endpoint a pretraining loader mounts (cf. the
    reference's one-object-per-invocation landing,
    ``lambda_function.py:59-66``, which bounds neither size nor order).

    Rows are laid out in ``order_col`` order and greedily cut every
    ``max_per_shard`` ``weight_col`` units (the :func:`pack_sequences`
    rule, shared kernel — a row belongs to the shard containing its
    first unit, so one oversized row never splits). Each shard lands as
    EXACTLY ONE parquet file under ``path/shard_id=N/`` — rows hash to
    one task per shard via ``repartition(shard_id)``, so a 100 TB
    export fans out across the cluster while every shard stays one
    sequential read for the loader. A ``_shards.json`` manifest records
    per-shard row counts and unit totals plus the order contract, and
    is written LAST (manifest-present ⇒ data complete — the loader's
    crash boundary). Shard ids may be SPARSE (an oversized row spans
    windows that then hold no shard of their own): the manifest's
    ``shards`` list is authoritative — mount those dirs, never
    ``range(n_shards)``.

    Deterministic on any input partitioning: same corpus → same shard
    boundaries, same file contents. Returns the manifest dict.
    """
    import json as _json

    # one lineage materialization for the three consumers below (max-id
    # action, write, stats collect) — without it the prefix-sum pipeline
    # (full scan + two shuffles) would execute three times end-to-end
    assigned = (
        pack_sequences(df, order_col, weight_col, max_per_shard, bucket_size)
        .withColumnRenamed("pack_id", "shard_id")
        .localCheckpoint()
    )
    max_id = assigned.agg(F.max("shard_id")).first()[0]
    if max_id is None:
        raise ValueError("export_shards: empty input")
    (
        # sort by (shard_id, order_col): this IS the ordering the dynamic-
        # partition writer requires, so Spark inserts no sort of its own —
        # a writer-inserted Sort(shard_id) would not be stable on
        # order_col across spill-run merges, silently breaking the
        # loader's sequential-read contract inside large shards
        assigned.repartition(int(max_id) + 1, "shard_id")
        .sortWithinPartitions("shard_id", order_col)
        .write.mode("errorifexists")
        .partitionBy("shard_id")
        .parquet(path)
    )
    stats = [
        {
            "shard_id": r["shard_id"],
            "n_rows": r["n"],
            "units": r["units"],
        }
        for r in assigned.groupBy("shard_id")
        .agg(F.count("*").alias("n"), F.sum(weight_col).alias("units"))
        .orderBy("shard_id")
        .collect()
    ]
    manifest = {
        "order_col": order_col,
        "weight_col": weight_col,
        "max_per_shard": max_per_shard,
        # shard ids can be SPARSE: a row heavier than max_per_shard spans
        # several windows, and the windows it covers get no shard of
        # their own — `shards` is the authoritative list of the dirs
        # that exist; never iterate range(n_shards)
        "n_shards": len(stats),
        "max_shard_id": int(max_id),
        "shards": stats,
    }
    # fresh-name create: the dir is new (errorifexists), so a crash
    # leaves either no manifest or a whole one, never a torn one
    _create_atomic(df.sparkSession, f"{path}/_shards.json", _json.dumps(manifest))
    return manifest
