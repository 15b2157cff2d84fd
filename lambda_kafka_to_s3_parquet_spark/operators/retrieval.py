"""Keyword retrieval over the document corpus (SURVEY.md §2.9 family):
BM25 scoring and corpus-wide n-gram census.

Why this lives in the engine: every large-scale curation pipeline ends up
needing lexical search over its corpus — "find the documents that mention
these terms" for decontamination audits, targeted sampling, and eval-set
construction — and at 100 TB that must be a distributed scoring plan, not
an external index round-trip.

Scale design:

* **Shared tokenizer**: both operators ride :func:`..functions.text.tokens`
  (the same codegen'd kernel x03-x05 and the shingle-based dedup family
  use), so the lexical contract is single-sourced across the engine and
  its DuckDB oracles.
* **Filter-before-shuffle**: BM25 only aggregates postings for the query
  terms, so the shuffled stream is ``|docs containing a query term|``
  rows, not the full posting list. Document length/count statistics are
  tiny aggregates (one row, |terms| rows) and broadcast.
* **No driver round-trips**: corpus size N and average doc length join in
  as a broadcast 1-row aggregate (a bounded broadcast-nested-loop, the
  same shape the probe-set joins use), never a ``.collect()``.
* **Distributed top-k**: every final ranking is ``orderBy().limit(k)`` —
  Spark's TakeOrderedAndProject (per-partition partial top-k + tiny
  driver merge) — so no full result set ever funnels through a
  single-partition sort or window.

The reference engine has no search surface (its scope ends at landing
parquet — README.md:18-21); this extends the corpus-analysis family
(x03-x05) the same way the dedup/similarity operators do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokens, word_ngrams


def postings(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One (doc_id, term) row per token occurrence — the shared narrow pass."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact BM25 top-k documents for a bag of query terms.

    Robertson/Sparck-Jones BM25 with the standard non-negative idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``. Score per doc = sum over query
    terms of ``idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``.

    Plan: per-doc lengths as a narrow ``size(tokens(text))`` expression
    (no explode, rides the scan) → one exploded pass filtered to the
    query terms BEFORE its groupBy, so tf/df aggregation shuffles only
    matching rows (tf checkpointed once for its two consumers) → df and
    the 1-row (N, avgdl) statistic broadcast back onto the filtered
    postings → sum per doc, distributed top-k over the scored set. Ties
    break on doc_id ascending for determinism.
    """
    if not query_terms:
        raise ValueError("bm25_topk needs at least one query term")
    # Per-doc length WITHOUT the explode: size(tokens(text)) is a narrow
    # per-row expression that rides the scan — the full posting list is
    # never materialized just to count it. The corpus statistic (1 row)
    # derives from that same narrow pass.
    # dl > 0 keeps the statistic identical to the exploded formulation
    # (a doc with no tokens produced no posting rows, so it never counted
    # toward N or avgdl — and it can't score anyway)
    doclen = docs.select(
        F.col(id_col).alias("doc_id"), F.size(tokens(F.col(text_col))).alias("dl")
    ).filter(F.col("dl") > 0)
    stats = doclen.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    terms = [t.lower() for t in query_terms]
    # The exploded pass runs ONCE, filtered to query terms before its
    # shuffle; tf is then checkpointed because both df_ and the scoring
    # join consume it — without the boundary the tokenize+explode would
    # re-execute per consumer (the same re-execution class fixed in
    # connected_components). tf is small by construction: docs containing
    # a query term x terms.
    tf = (
        postings(docs, id_col, text_col)
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint()
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))

    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    contrib = idf * (F.col("tf") * (k1 + 1.0)) / denom

    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(stats))  # 1 row: bounded broadcast nested loop
        .join(doclen, "doc_id")
        .withColumn("_c", contrib)
        .groupBy("doc_id")
        .agg(F.round(F.sum("_c"), 6).alias("score"), F.count("*").alias("n_terms_hit"))
    )
    # orderBy().limit(k) compiles to TakeOrderedAndProject — a per-
    # partition partial top-k plus a tiny driver merge — so no single-
    # partition sort over the full scored set ever happens; the rank
    # window then numbers only the k survivors.
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "score", "n_terms_hit")
    )


def heavy_hitters(
    docs: DataFrame,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Exact corpus-wide top-k most frequent word n-grams.

    The "what is my corpus full of?" census behind boilerplate discovery
    and contamination triage. N-grams come from the same JVM-side
    :func:`..functions.text.word_ngrams` kernel the repetition signals
    use (WITH multiplicity), exploded, then counted with the two-phase
    aggregate (map-side partial_count before the one exchange). The final
    ordering is TakeOrderedAndProject over the aggregated n-gram
    dictionary — never a single-partition sort of it. At 100 TB that
    dictionary is the thing to cap, and the standard cap (a minimum-
    frequency HAVING after the aggregate, or a count-min pre-pass)
    composes in front; the exact census stays the oracle twin.

    Ties break lexicographically on the n-gram for determinism.
    """
    if n < 1:
        raise ValueError("n-gram size must be >= 1")
    tok = tokens(F.col(text_col))
    w = Window.orderBy(F.desc("freq"), F.asc("gram"))
    return (
        docs.select(F.explode(word_ngrams(tok, n)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("gram"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "gram", "freq")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k_rrf: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion of N rankings over the same id space:
    ``score(d) = Σ_r 1 / (k_rrf + rank_r(d))`` (Cormack et al.'s RRF,
    the standard hybrid-retrieval combiner — rank-based, so lexical BM25
    scores and cosine similarities need no calibration against each
    other).

    Each input needs only (id, rank); an id absent from a ranking simply
    contributes nothing. The fuse is one union + one groupBy on the id —
    input rankings are already top-k-sized, so this never touches a
    corpus. ``n_lists`` reports how many rankings surfaced each id
    (2 == found by both modalities).
    """
    from functools import reduce

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    tagged = [
        r.select(
            F.col(id_col).alias("doc_id"),
            (1.0 / (k_rrf + F.col(rank_col))).alias("_rrf"),
        )
        for r in rankings
    ]
    fused = (
        reduce(lambda a, b: a.unionByName(b), tagged)
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("_rrf"), 6).alias("rrf_score"),
            F.count("*").cast("bigint").alias("n_lists"),
        )
    )
    w = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    out = fused.withColumn("rank", F.row_number().over(w).cast("bigint"))
    if top_k is not None:
        out = out.filter(F.col("rank") <= top_k)
    return out.select("rank", "doc_id", "rrf_score", "n_lists")


# ---------------------------------------------------------------------------
# Persisted BM25 postings index — the lexical member of the engine's
# index-artifact family (vector_index.py holds the embedding members;
# all share the meta/registry/fingerprint plumbing).
# ---------------------------------------------------------------------------


def build_bm25_index(
    spark,
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int | None = None,
) -> dict:
    """Tokenize + aggregate the corpus ONCE into a term-hash-bucketed
    postings store; queries then read only their terms' buckets.

    Layout: ``tf/bucket=<xxhash64(term) mod n_buckets>/`` rows of
    ``(term, doc_id, tf, dl)`` — the per-doc length rides every posting
    row, so scoring needs NO corpus-sized doclen join (the one join in
    the from-scratch ``bm25_topk`` that touches all documents); the
    1-row corpus statistic (n_docs, avgdl) and the populated-bucket
    registry land in the meta (atomic, written LAST — same commit
    protocol as the vector indexes). At 100 TB the tokenize+explode is
    the expensive pass, and a query should pay |matching postings|, not
    re-pay it — this is that artifact.

    ``batch_id`` stamps the meta (``base_batch_id``) for streaming
    maintainers: the meta is the commit witness, so a micro-batch
    replayed after a crash-between-commit-and-checkpoint can recognize
    its own completed build (see
    :func:`..streaming.pipeline.run_bm25_index_stream`)."""
    from .vector_index import _corpus_fingerprint, _read_index_meta, _write_index_meta

    if _read_index_meta(spark, path) is not None:
        raise ValueError(f"{path} already holds an index")
    doclen = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).alias("dl"),
    ).filter(F.col("dl") > 0)
    stats = doclen.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        F.sum("dl").alias("sum_dl"),
    ).first()
    tf = (
        postings(docs, id_col, text_col)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .join(doclen, "doc_id")
        .withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        )
    )
    (
        tf.repartition("bucket")
        .write.mode("errorifexists")
        .partitionBy("bucket")
        .parquet(f"{path}/tf")
    )
    buckets = sorted(r["bucket"] for r in tf.select("bucket").distinct().collect())
    meta = {
        "kind": "bm25",
        "n_buckets": int(n_buckets),
        "n_docs": int(stats["n_docs"]),
        "avgdl": float(stats["avgdl"]),
        # exact integer, so post-append avgdl (= sum_dl/n_docs) equals a
        # from-scratch F.avg over the union bit-for-bit (int sums are
        # exact in double far past any real corpus; avg is one division)
        "sum_dl": int(stats["sum_dl"]),
        "id_col": id_col,
        "id_type": docs.schema[id_col].dataType.simpleString(),
        "text_col": text_col,
        "buckets_present": buckets,
        # fingerprint spans ALL docs with non-null (id, text) — a superset
        # of n_docs' dl>0 population, deliberately: check_index_fresh
        # recomputes the same aggregate over the raw corpus (it reads the
        # column names from this meta), and token-empty docs can't affect
        # postings, so the wider net only ever errs toward rebuilding
        **_corpus_fingerprint(docs, id_col, text_col),
    }
    if batch_id is not None:
        meta["base_batch_id"] = int(batch_id)
    _write_index_meta(spark, path, meta)
    return meta


def bm25_topk_indexed(
    spark,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k against the PERSISTED postings index: identical scores,
    ranks, and tie-breaks to the from-scratch :func:`bm25_topk`
    (test-pinned), paying only the query terms' buckets — listing-level
    dir pruning + an in-bucket term filter; df derives from the pruned
    rows, (n_docs, avgdl) from the meta. The query-term bucket hash is
    computed by the same JVM xxhash64 the build used (a |terms|-row
    frame, collected — bounded by the query size)."""
    from .vector_index import _read_index_meta

    if not query_terms:
        raise ValueError("bm25_topk_indexed needs at least one query term")
    meta = _read_index_meta(spark, path)
    if meta is None:
        raise ValueError(f"{path} has no index meta file (crashed build?)")
    if meta.get("kind") != "bm25":
        raise ValueError(f"{path} holds a {meta.get('kind')!r} index, not bm25")
    terms = [t.lower() for t in query_terms]
    n_buckets = meta["n_buckets"]
    tdf = spark.createDataFrame([(t,) for t in terms], "term string")
    wanted = sorted(
        r["bucket"]
        for r in tdf.select(
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("bucket")
        )
        .distinct()
        .collect()
    )
    # pruned read across the base root AND every registered append root
    # (each with its own basePath); an orphaned append dir — a crashed
    # append that never republished the meta — is invisible by design
    from .vector_index import _base_root

    roots = [(f"{_base_root(path, meta)}/tf", set(meta["buckets_present"]))] + [
        (f"{path}/appends/{a['id']}/tf", set(a["buckets_present"]))
        for a in meta.get("appends", [])
    ]
    parts = []
    for root, live in roots:
        dirs = [f"{root}/bucket={bk}" for bk in wanted if bk in live]
        if dirs:
            parts.append(
                spark.read.option("basePath", root)
                .parquet(*dirs)
                .filter(F.col("term").isin(terms))
                .select("doc_id", "term", "tf", "dl")
            )
    out_schema = (
        f"rank int, doc_id {meta.get('id_type', 'long')}, score double, "
        "n_terms_hit bigint"
    )
    if not parts:
        return spark.createDataFrame([], out_schema)
    tf = parts[0]
    for p in parts[1:]:
        tf = tf.unionByName(p)
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = float(meta["n_docs"])
    # exact post-append statistic when the build recorded sum_dl;
    # pre-sum_dl metas (never appended to) keep their stored avgdl
    avgdl = (
        meta["sum_dl"] / meta["n_docs"] if "sum_dl" in meta
        else float(meta["avgdl"])
    )
    idf = F.log(
        F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
    contrib = idf * (F.col("tf") * (k1 + 1.0)) / denom
    scored = (
        tf.join(F.broadcast(df_), "term")
        .withColumn("_c", contrib)
        .groupBy("doc_id")
        .agg(F.round(F.sum("_c"), 6).alias("score"), F.count("*").alias("n_terms_hit"))
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "score", "n_terms_hit")
    )


def append_to_bm25_index(
    spark,
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int | None = None,
) -> dict:
    """Append ``docs``'s postings to the persisted BM25 index at ``path``
    — incremental maintenance with SNAPSHOT semantics (the same protocol
    as ``vector_index.append_to_index``: data under
    ``<path>/appends/<uuid>/``, meta republished LAST with the append's
    bucket registry; orphaned dirs from crashed appends stay invisible).

    Unlike pq/ivf, NOTHING in bm25 is frozen: df derives from the pruned
    postings at query time, and (n_docs, avgdl) update exactly — n_docs
    and sum_dl are integers, xor-fold fingerprints compose — so
    ``bm25_topk_indexed`` after N appends equals ``bm25_topk`` over the
    full union corpus bit-for-bit (test-pinned), not approximately.
    Caller contract: appended doc ids are NEW (a re-appended id would
    double-count its postings — same contract as the band store's
    first-arrival batches). Single-maintainer; a concurrent append is
    detected at publish time and the loser's data stays orphaned.

    ``batch_id`` makes the append EXACTLY-ONCE for streaming
    maintainers: the id rides the registry entry on the same meta swap
    as the data, so replaying an already-folded micro-batch (crash
    between the swap and the checkpoint commit) is a NO-OP returning the
    current meta — double-counted postings are impossible.
    """
    from .vector_index import _corpus_fingerprint, _read_index_meta, _write_index_meta

    meta = _read_index_meta(spark, path)
    if meta is None:
        raise ValueError(f"{path} has no index meta file")
    if meta.get("kind") != "bm25":
        raise ValueError(f"{path} holds a {meta.get('kind')!r} index, not bm25")
    if meta.get("id_col") != id_col or meta.get("text_col") != text_col:
        raise ValueError(
            f"index at {path} was built over "
            f"({meta.get('id_col')}, {meta.get('text_col')}), not "
            f"({id_col}, {text_col}); rebuild to change columns"
        )
    if "sum_dl" not in meta:
        raise ValueError(
            f"index at {path} predates exact-statistic metas (no sum_dl); "
            "rebuild once to enable appends"
        )
    if batch_id is not None and (
        (meta.get("base_batch_id") is not None
         and int(batch_id) <= int(meta["base_batch_id"]))
        or any(a.get("batch_id") == int(batch_id)
               for a in meta.get("appends", []))
    ):
        # replay of a batch whose fold already committed: the meta swap
        # was the commit witness — nothing to write. base_batch_id is a
        # HIGH-WATER mark (<=, not ==): compact_bm25_index folds the
        # append registry away and records the max folded batch id
        # there, so a replay of any pre-compaction batch stays a no-op
        # (micro-batch ids are monotonic — the foreachBatch contract).
        return meta
    n_buckets = meta["n_buckets"]
    seen = [a["id"] for a in meta.get("appends", [])]
    import uuid as _uuid

    append_id = _uuid.uuid4().hex
    root = f"{path}/appends/{append_id}"

    doclen = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).alias("dl"),
    ).filter(F.col("dl") > 0)
    stats = doclen.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).first()
    tf = (
        postings(docs, id_col, text_col)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .join(doclen, "doc_id")
        .withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        )
    )
    (
        tf.repartition("bucket")
        .write.mode("errorifexists")
        .partitionBy("bucket")
        .parquet(f"{root}/tf")
    )
    buckets = sorted(r["bucket"] for r in tf.select("bucket").distinct().collect())
    fp = _corpus_fingerprint(docs, id_col, text_col)

    current = _read_index_meta(spark, path)
    if current is None or [a["id"] for a in current.get("appends", [])] != seen:
        raise ValueError(
            f"concurrent append detected on {path}: the append registry "
            f"changed during this append; this writer's data ({append_id}) "
            "is orphaned and invisible — retry"
        )
    entry = {
        "id": append_id,
        "buckets_present": buckets,
        "n_docs": int(stats["n_docs"] or 0),
    }
    if batch_id is not None:
        entry["batch_id"] = int(batch_id)
    meta = {
        **current,
        "appends": current.get("appends", []) + [entry],
        "n_docs": current["n_docs"] + int(stats["n_docs"] or 0),
        "sum_dl": current["sum_dl"] + int(stats["sum_dl"] or 0),
        "avgdl": (current["sum_dl"] + int(stats["sum_dl"] or 0))
        / max(current["n_docs"] + int(stats["n_docs"] or 0), 1),
        "n_vectors": current["n_vectors"] + fp["n_vectors"],
        "id_xor_hash": current["id_xor_hash"] ^ fp["id_xor_hash"],
    }
    _write_index_meta(spark, path, meta)
    return meta


def compact_bm25_index(spark, path: str, clean: bool = True) -> dict:
    """Fold every registered postings append into ONE fresh bucketed
    base — the maintenance step :func:`append_to_bm25_index`'s protocol
    needs to stay sound per-month: ``run_bm25_index_stream`` lands one
    ``appends/<uuid>`` root per micro-batch forever, so without
    compaction every query reads base + N roots and every meta swap
    rewrites a growing registry (``dedup.compact_gram_store``'s LSM
    contract, applied here).

    Pure data movement — postings rows, corpus statistics (n_docs,
    sum_dl), and fingerprints are untouched, so ``bm25_topk_indexed``
    after compaction is bit-identical to before (test-pinned). The
    merged rows land under a FRESH ``<path>/base-<uuid>/tf`` (never
    inside a dir a reader of the current meta could be scanning); the
    meta republishes LAST with the new base, an EMPTY append registry,
    and ``base_batch_id`` advanced to the MAX folded batch id — the
    high-water mark that keeps a replayed pre-compaction micro-batch a
    no-op (exactly-once survives the fold). A crash before the swap
    leaves an orphaned dir and an intact index; after the swap the
    superseded dirs are deleted best-effort (``clean=False`` keeps
    them). Single-maintainer, run at a quiesce point (a reader of the
    PREVIOUS meta may still scan the old dirs). No appends = no-op."""
    from .metafile import _fs_path
    from .vector_index import _base_root, _read_index_meta, _write_index_meta

    meta = _read_index_meta(spark, path)
    if meta is None:
        raise ValueError(f"{path} has no index meta file")
    if meta.get("kind") != "bm25":
        raise ValueError(f"{path} holds a {meta.get('kind')!r} index, not bm25")
    appends = meta.get("appends", [])
    if not appends:
        return meta
    seen = [a["id"] for a in appends]
    import uuid as _uuid

    old_base = _base_root(path, meta)
    new_base = f"base-{_uuid.uuid4().hex}"
    roots = [f"{old_base}/tf"] + [
        f"{path}/appends/{a['id']}/tf" for a in appends
    ]
    parts = [
        spark.read.option("basePath", r).parquet(r) for r in roots
    ]
    tf = parts[0]
    for p in parts[1:]:
        tf = tf.unionByName(p)
    (
        tf.repartition("bucket")
        .write.mode("errorifexists")
        .partitionBy("bucket")
        .parquet(f"{path}/{new_base}/tf")
    )
    buckets = sorted(
        set(meta["buckets_present"]).union(
            *[a["buckets_present"] for a in appends]
        )
    )
    folded_ids = [a["batch_id"] for a in appends if "batch_id" in a]
    if meta.get("base_batch_id") is not None:
        folded_ids.append(int(meta["base_batch_id"]))

    current = _read_index_meta(spark, path)
    if (
        current is None
        or [a["id"] for a in current.get("appends", [])] != seen
        or current.get("base") != meta.get("base")
    ):
        raise ValueError(
            f"concurrent maintenance detected on {path}: the registry "
            f"changed during this compaction; the new base ({new_base}) "
            "is orphaned and invisible — retry"
        )
    new_meta = dict(current)
    new_meta["base"] = new_base
    new_meta["appends"] = []
    new_meta["buckets_present"] = buckets
    if folded_ids:
        new_meta["base_batch_id"] = max(folded_ids)
    _write_index_meta(spark, path, new_meta)
    if clean:
        fs, _ = _fs_path(spark, path)
        if old_base != path:
            _, oldp = _fs_path(spark, old_base)
            if fs.exists(oldp):
                fs.delete(oldp, True)
        else:
            _, oldd = _fs_path(spark, f"{path}/tf")
            if fs.exists(oldd):
                fs.delete(oldd, True)
        for a in appends:
            _, ap = _fs_path(spark, f"{path}/appends/{a['id']}")
            if fs.exists(ap):
                fs.delete(ap, True)
    return new_meta


# ---------------------------------------------------------------------------
# Count-min sketch — the sublinear frequency structure the heavy-hitters
# census names as its scale pre-pass (cap the exact census to keys the
# sketch already says are frequent). Fully relational: build = one
# groupBy shuffle of depth×N narrow rows; estimate = a broadcast join.
# ---------------------------------------------------------------------------


def countmin_table(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 2048,
    seed: int = 42,
) -> DataFrame:
    """Build a depth×width count-min sketch over ``col`` (one counter row
    per populated (row_idx, bucket)): ``counter[i][h_i(x) mod width] +=
    1`` for each of the ``depth`` independent hash rows.

    Hashes ride :func:`..functions.splits.hash_bucket`'s md5 arithmetic
    (row i salts the value with ``chr(31) + str(seed + i)``) — portable,
    so an independent engine replays the sketch bit-for-bit (test-
    pinned). Plan: explode depth rows per input row (depth is 3-5; the
    exploded stream is narrow ints) → ONE combine-shuffle groupBy. The
    sketch is ``depth × width`` counters regardless of input cardinality
    — the point: a 100 TB column's frequency structure in kilobytes,
    mergeable across partitions/days by adding counters."""
    from ..functions.splits import hash_bucket

    rows = F.array(*[F.lit(i) for i in range(depth)])
    salted = df.select(F.col(col).alias("_v")).select(
        "_v", F.explode(rows).alias("row_idx")
    )
    bucket = hash_bucket(
        F.concat_ws("\x1f", F.col("_v"), F.col("row_idx").cast("string"),
                    F.lit(str(seed))),
        width,
    )
    return (
        salted.select("row_idx", bucket.alias("bucket"))
        .groupBy("row_idx", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def countmin_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
    seed: int = 42,
) -> DataFrame:
    """Point-estimate each key's frequency from the sketch: min over the
    depth rows of its counters — always >= the true count (collisions
    only ADD), within εN with the standard (width, depth) guarantees.
    The sketch is broadcast (depth×width bounded); the keys stream stays
    distributed, so estimating a million keys is one narrow join."""
    from ..functions.splits import hash_bucket

    rows = F.array(*[F.lit(i) for i in range(depth)])
    probes = keys.select(F.col(key_col).alias("key")).distinct().select(
        "key", F.explode(rows).alias("row_idx")
    )
    bucket = hash_bucket(
        F.concat_ws("\x1f", F.col("key"), F.col("row_idx").cast("string"),
                    F.lit(str(seed))),
        width,
    )
    return (
        probes.select("key", "row_idx", bucket.alias("bucket"))
        .join(F.broadcast(sketch), ["row_idx", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )
