"""Persisted vector-index artifacts: build ANN indexes once, reuse.

The reference has no vector search at all (its 714 lines are a
Lambda/boto3 decode-and-land pipeline — ``lambda_function.py``); the
engine's PQ (``similarity.train_pq_codebooks``/``pq_encode``) and IVF
(``similarity._kmeans_cells``) paths previously retrained their index
structures on EVERY invocation — fine for a registered benchmark query,
wrong for the 100 TB deployment, where codebook training + full-corpus
encoding cost hours and the index is then queried thousands of times.

This module is the persisted-index pattern the near-dup band store
(``operators/dedup.py`` ``append_band_store``) established, applied to
embeddings:

* a tiny JSON **meta file** is the commit witness and the registry: it
  is written LAST (build crash => no meta => loader fail-stop, never a
  partial index read) and atomically (tmp + rename); it carries the
  training params, the codebooks/centroids themselves (driver-sized by
  the same bounded-sample contract that trains them), the list of
  populated cell dirs (IVF), and a corpus **fingerprint**;
* the corpus-sized artifact (PQ codes / IVF cell assignments) is plain
  parquet — IVF partitioned by cell so a query's ``nprobe`` cells read
  with listing-level pruning (explicit dirs + ``basePath``), the exact
  ∝-probe read discipline the band store proved out;
* **staleness** is detected, not guessed: the fingerprint is one
  order-independent aggregate over the corpus ids
  (``count + bit_xor(xxhash64(id))``), recomputed on demand by
  :func:`check_index_fresh` — a changed corpus raises instead of
  silently serving neighbors from a stale index;
* **param drift** rejects at load: a caller expecting different
  (m, n_codes)/(n_cells)/vec_col than the index was built with gets an
  error, mirroring the band store's ``_check_store_params``.

Query semantics are NOT duplicated here: the indexed searches feed the
loaded structures back into ``topk_pq_adc`` / ``topk_ivf``, so indexed
and in-memory results are byte-identical by construction (test-pinned).
"""

from __future__ import annotations

import json
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .metafile import _fs_path, _read_text, _replace_text
from .similarity import _kmeans_cells, pq_encode, topk_ivf, topk_pq_adc, train_pq_codebooks

#: meta filename — underscore-prefixed so parquet readers ignore it
VECTOR_INDEX_META = "_vector_index_meta.json"


def _read_index_meta(spark: SparkSession, path: str) -> dict | None:
    txt = _read_text(spark, f"{path}/{VECTOR_INDEX_META}")
    return None if txt is None else json.loads(txt)


def _write_index_meta(spark: SparkSession, path: str, meta: dict) -> None:
    """Atomic publish (tmp + overwrite rename), written AFTER the data —
    the meta IS the commit: no meta, no index (same protocol as the band
    store's meta and the snapshot manifests)."""
    _replace_text(spark, f"{path}/{VECTOR_INDEX_META}", json.dumps(meta))


def _base_root(path: str, meta: dict) -> str:
    """The index's CURRENT base data root. Fresh builds use ``path``
    itself (``<path>/codes|cells|tf``); after :func:`compact_index` /
    ``retrieval.compact_bm25_index`` the base lives under a versioned
    ``<path>/base-<uuid>/`` the meta names — compaction can then publish
    a NEW base without ever writing into a directory a reader of the
    previous meta could be scanning (same fresh-dir rule as snapshot
    commits)."""
    return path if "base" not in meta else f"{path}/{meta['base']}"


def _corpus_fingerprint(
    corpus: DataFrame, id_col: str, vec_col: str
) -> dict:
    """Order/partitioning-independent corpus identity: row count and a
    64-bit xor-fold of the id hashes, restricted to rows an index build
    would actually consume (non-null id and vector). One narrow
    aggregate — cheap enough to recompute as a freshness check."""
    row = (
        corpus.filter(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
        .agg(
            F.count("*").alias("n"),
            F.expr(f"bit_xor(xxhash64({id_col}))").alias("h"),
        )
        .first()
    )
    return {"n_vectors": int(row["n"]), "id_xor_hash": int(row["h"] or 0)}


def check_index_fresh(
    spark: SparkSession, path: str, corpus: DataFrame,
    id_col: str | None = None, vec_col: str | None = None,
) -> None:
    """Raise when ``corpus`` no longer matches the fingerprint the index
    at ``path`` was built from — serving ANN results from a stale index
    is the silent failure mode; rebuilding is the caller's decision.

    The fingerprint's column pair comes FROM THE META by default (every
    build records ``id_col`` plus ``vec_col``/``text_col``), so the same
    call works against pq/ivf/bm25 indexes alike — a caller re-supplying
    the wrong pair used to get a guaranteed-stale error instead of a
    freshness check. Pass explicit names only to fingerprint a corpus
    whose columns were renamed since the build."""
    meta = _read_index_meta(spark, path)
    if meta is None:
        raise ValueError(f"{path} has no vector-index meta file")
    id_col = id_col or meta.get("id_col", "vec_id")
    vec_col = vec_col or meta.get("vec_col") or meta.get("text_col") or "embedding"
    now = _corpus_fingerprint(corpus, id_col, vec_col)
    was = {"n_vectors": meta["n_vectors"], "id_xor_hash": meta["id_xor_hash"]}
    if now != was:
        raise ValueError(
            f"vector index at {path} is STALE: built over "
            f"{was['n_vectors']} vectors (id hash {was['id_xor_hash']}), "
            f"corpus now has {now['n_vectors']} (id hash "
            f"{now['id_xor_hash']}); rebuild the index or query the "
            "corpus it was built from"
        )


def _check_params(meta: dict, path: str, expect: dict) -> None:
    drift = {k: (meta.get(k), v) for k, v in expect.items() if meta.get(k) != v}
    if drift:
        raise ValueError(
            f"vector index at {path} was built with "
            f"{ {k: m for k, (m, _) in drift.items()} } but this caller "
            f"expects { {k: w for k, (_, w) in drift.items()} }; index "
            "parameters are part of the artifact — rebuild to change them"
        )


# ---------------------------------------------------------------------------
# PQ: codebooks (meta) + codes (parquet)
# ---------------------------------------------------------------------------


def build_pq_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    m: int = 16,
    n_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_limit: int = 16384,
    n_iter: int = 10,
) -> dict:
    """Train codebooks + encode the corpus ONCE, persist both.

    The codes table is the 16-bytes-per-vector artifact ADC scans; the
    codebooks (m × n_codes × d/m doubles — a few thousand floats under
    the driver-sized training contract) ride the meta file so a loader
    needs exactly one small read before scanning codes. Refuses an
    existing index (rebuild = new path or delete first: an index is an
    immutable artifact of (corpus, params))."""
    if _read_index_meta(spark, path) is not None:
        raise ValueError(f"{path} already holds a vector index")
    books = train_pq_codebooks(
        corpus, m, n_codes, vec_col, seed, train_limit, n_iter
    )
    codes = pq_encode(corpus, books, id_col, vec_col)
    codes.write.mode("errorifexists").parquet(f"{path}/codes")
    meta = {
        "kind": "pq",
        "m": int(m),
        "n_codes": int(n_codes),
        "dim": int(books.shape[0] * books.shape[2]),
        "seed": int(seed),
        "train_limit": int(train_limit),
        "n_iter": int(n_iter),
        "id_col": id_col,
        "id_type": corpus.schema[id_col].dataType.simpleString(),
        "vec_col": vec_col,
        "codebooks": books.tolist(),
        **_corpus_fingerprint(corpus, id_col, vec_col),
    }
    _write_index_meta(spark, path, meta)
    return meta


def load_pq_index(
    spark: SparkSession, path: str, expect: dict | None = None
):
    """(codes_df, codebooks, meta) — fail-stop on missing meta (a crashed
    build never half-loads) and on param drift vs ``expect``."""
    meta = _read_index_meta(spark, path)
    if meta is None:
        raise ValueError(
            f"{path} has no vector-index meta file (crashed build, or not "
            "an index)"
        )
    if meta.get("kind") != "pq":
        raise ValueError(f"{path} holds a {meta.get('kind')!r} index, not pq")
    if expect:
        _check_params(meta, path, expect)
    roots = [f"{_base_root(path, meta)}/codes"] + [
        f"{path}/appends/{a['id']}/codes" for a in meta.get("appends", [])
    ]
    codes = spark.read.parquet(*roots)
    return codes, np.asarray(meta["codebooks"]), meta


def topk_pq_indexed(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    corpus: DataFrame | None = None,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k against the PERSISTED index — byte-identical to the
    in-memory ``topk_pq_adc`` chain (test-pinned): no retraining, no
    re-encode, one codes scan. Pass ``corpus`` for the exact-rerank
    refine step exactly as in the in-memory path."""
    codes, books, meta = load_pq_index(
        spark, path, expect={"id_col": id_col, "vec_col": vec_col}
    )
    return topk_pq_adc(
        codes, queries, books, corpus=corpus, k=k, shortlist=shortlist,
        id_col=id_col, vec_col=vec_col,
    )


# ---------------------------------------------------------------------------
# IVF: centroids (meta) + cell-partitioned assignments (parquet)
# ---------------------------------------------------------------------------


def build_ivf_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> dict:
    """K-means cells trained + assignments persisted partitioned-by-cell,
    so a query's ``nprobe`` cells read with listing-level dir pruning.
    The populated-cell list rides the meta (registry — zero listing calls
    to resolve which dirs exist, the band store's bitmap idea at n_cells
    scale).

    ``centroids`` (round 13) skips the k-means fit and partitions by the
    GIVEN cell centers (``assign_cells``' argmin rule, ties to the
    lowest cell) — the deterministic-blocking escape hatch an
    oracle-replayable pipeline needs (e.g. one-hot axis centroids, whose
    assignment is pure argmax arithmetic any engine reproduces), and the
    standard shape for sharing one trained cell model across indexes."""
    if _read_index_meta(spark, path) is not None:
        raise ValueError(f"{path} already holds a vector index")
    if centroids is not None:
        from ..functions.vectors import to_double, unit

        if len(centroids) != n_cells:
            raise ValueError(
                f"{len(centroids)} centroids given for n_cells={n_cells}"
            )
        uq = corpus.select(
            F.col(id_col).alias("id"), unit(to_double(vec_col)).alias("_uvec")
        ).filter(F.col("_uvec").isNotNull())
        assigned = assign_cells(uq, centroids)
        centroids = [[float(x) for x in c] for c in centroids]
    else:
        assigned, centroids = _kmeans_cells(
            corpus, n_cells, id_col, vec_col, seed
        )
    (
        assigned.repartition("cell")
        .write.mode("errorifexists")
        .partitionBy("cell")
        .parquet(f"{path}/cells")
    )
    cells_present = sorted(
        r["cell"] for r in assigned.select("cell").distinct().collect()
    )
    meta = {
        "kind": "ivf",
        "n_cells": int(n_cells),
        "seed": int(seed),
        "id_col": id_col,
        "id_type": corpus.schema[id_col].dataType.simpleString(),
        "vec_col": vec_col,
        "centroids": centroids,
        "cells_present": cells_present,
        **_corpus_fingerprint(corpus, id_col, vec_col),
    }
    _write_index_meta(spark, path, meta)
    return meta


def _ivf_cells_present(meta: dict) -> list[int]:
    """Union of the base build's populated cells and every registered
    append's — the full registry readers resolve dirs from."""
    cells = set(meta["cells_present"])
    for a in meta.get("appends", []):
        cells.update(a["cells_present"])
    return sorted(cells)


def _read_ivf_cells(
    spark: SparkSession, path: str, meta: dict, wanted: list[int]
) -> DataFrame | None:
    """Read ``wanted`` cells' rows across the base root AND every
    registered append root, each with its own ``basePath`` (listing-level
    dir pruning per root; an unregistered/orphaned append dir — a crashed
    append that never published its meta — is invisible by construction).
    Returns None when no wanted cell is populated anywhere."""
    parts = []
    roots = [(f"{_base_root(path, meta)}/cells", set(meta["cells_present"]))] + [
        (f"{path}/appends/{a['id']}/cells", set(a["cells_present"]))
        for a in meta.get("appends", [])
    ]
    cols = ("id", "codes", "cell") if meta.get("kind") == "ivfpq" else (
        "id", "_uvec", "cell")
    for root, live in roots:
        dirs = [f"{root}/cell={c}" for c in wanted if c in live]
        if dirs:
            parts.append(
                spark.read.option("basePath", root)
                .parquet(*dirs)
                .select(*cols)
            )
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def assign_cells(
    uvecs: DataFrame, centroids: list[list[float]], vec_col: str = "_uvec"
) -> DataFrame:
    """Tag each (already unit-normalized) vector with its NEAREST
    centroid's cell — MLlib k-means' own assignment rule (min squared
    euclidean; ties to the lowest cell id) via
    ``argmin ||v - c||² = argmax (v·c − ||c||²/2)``, computed as ONE
    Arrow-batched GEMM against broadcast centroids. This is how a NEW
    batch joins a persisted cell partition without the model object —
    the index meta's centroid list is the whole model.

    Why not centroid-literal JVM expressions: at n_cells=80 the literal
    array (n_cells × dim lits + n_cells interpreted dot folds) cost a
    measured ~6 s of driver analysis PER ACTION using the expression —
    the create_map-in-the-plan trap ``bpe.encode_corpus`` documents. The
    broadcast keeps the plan O(1); ``np.argmax`` ties to the first
    (= lowest) cell, matching the rule."""
    C = np.asarray(centroids, dtype=np.float64)
    half = (C * C).sum(axis=1) / 2.0
    bc = uvecs.sparkSession.sparkContext.broadcast((C, half))
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in uvecs.schema.fields
    ) + ", cell int"
    cols = [f.name for f in uvecs.schema.fields]

    def tag(batches):
        Cb, hb = bc.value
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            best = (V @ Cb.T - hb[None, :]).argmax(axis=1)
            pdf = pdf[cols].copy()
            pdf["cell"] = best.astype("int32")
            yield pdf

    return uvecs.mapInPandas(tag, out_schema)


def semantic_decontaminate_batch(
    spark: SparkSession,
    batch: DataFrame,
    test_index_path: str,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One TRAIN batch against the PERSISTED test-set index — the
    incremental/streaming form of
    ``similarity.cross_split_semantic_overlap`` (x49), shaped like the
    near-dup band store's per-batch lookup:

    * the TEST split is persisted ONCE as an IVF index
      (:func:`build_ivf_index` — cell-partitioned unit vectors +
      centroid list in the meta);
    * each batch assigns its vectors to the SAME cells via the meta's
      centroids (:func:`assign_cells` — no model object, no refit) and
      reads ONLY its cells' directories from the index;
    * the within-cell TRAIN×TEST GEMM and the deterministic argmax
      neighbor are ``cross_split_semantic_overlap``'s own Arrow kernel,
      so per-batch flags equal the one-shot batch run with the same
      blocking — batch-split invariant by construction (test-pinned).

    Per-batch cost ∝ batch cells' test vectors, never the whole test
    set; same recall contract as every blocked method here (cross-cell
    pairs invisible). Returns ``(block, train_id, test_id, cos_sim)``.
    """
    from ..functions.vectors import to_double, unit
    from .similarity import cross_split_semantic_overlap

    meta = _read_index_meta(spark, test_index_path)
    if meta is None:
        raise ValueError(f"{test_index_path} has no vector-index meta file")
    if meta.get("kind") != "ivf":
        raise ValueError(
            f"{test_index_path} holds a {meta.get('kind')!r} index, not the "
            "ivf layout the test-set store uses"
        )
    uq = (
        batch.select(
            F.col(id_col).alias("id"), unit(to_double(vec_col)).alias("_uvec")
        )
        .filter(F.col("_uvec").isNotNull())
    )
    # materialize once: the prune-key collect AND the GEMM union both
    # consume the assigned batch (micro-batch-sized by construction)
    train = assign_cells(uq, meta["centroids"]).localCheckpoint()
    cells_needed = sorted(
        r["cell"] for r in train.select("cell").distinct().collect()
    )
    test = _read_ivf_cells(spark, test_index_path, meta, cells_needed)
    if test is None:
        # id types derived, not hardcoded: train side from the batch
        # schema, test side from the index meta (falls back to the batch
        # type for pre-id_type metas) — the populated branch gets both
        # from the data, so the empty branch must match
        tid_t = batch.schema[id_col].dataType.simpleString()
        xid_t = meta.get("id_type", tid_t)
        return spark.createDataFrame(
            [], f"block int, train_id {tid_t}, test_id {xid_t}, cos_sim double"
        )
    both = train.withColumn("_sp", F.lit("train")).unionByName(
        test.withColumn("_sp", F.lit("test"))
    )
    return cross_split_semantic_overlap(
        both,
        F.col("_sp"),
        threshold=threshold,
        id_col="id",
        vec_col="_uvec",
        block_col="cell",
    )


def probe_cell_union(
    queries: DataFrame,
    meta: dict,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """Union of the cells the queries would probe — the dirs an indexed
    search reads. Per-query probe choice is ``rank_probe_cells``'s
    broadcast-centroid Arrow GEMM — the SAME kernel ``topk_ivf`` ranks
    with (dot desc, cell asc, top ``nprobe``), so the dir union always
    covers the cells the search will join; the collect is bounded by
    ``n_cells`` ints. (The centroid-literal expression this replaced cost
    ~6 s of driver plan analysis per query at n_cells=80 — the hot path
    this module exists to make cheap.)"""
    if nprobe >= meta["n_cells"]:
        return _ivf_cells_present(meta)
    from ..functions.vectors import to_double, unit
    from .similarity import rank_probe_cells

    uq = queries.select(
        F.col(id_col).alias("query_id"), unit(to_double(vec_col)).alias("_qvec")
    )
    return sorted(
        r["cell"]
        for r in rank_probe_cells(uq, meta["centroids"], nprobe)
        .select("cell")
        .distinct()
        .collect()
    )


def topk_ivf_indexed(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k against the PERSISTED index: centroids come from the
    meta, and ONLY the union of the queries' probed cells is read from
    disk (explicit dirs + ``basePath`` — a root read would list every
    cell first). Probe choice per query, ranking, and scores are
    ``topk_ivf``'s own code over the loaded index, so results are
    byte-identical to the in-memory path (test-pinned).

    The probed-cell union collect is bounded by ``n_cells`` ints — the
    same driver-side bound class as the band store's prune keys."""
    meta = _read_index_meta(spark, path)
    if meta is None:
        raise ValueError(
            f"{path} has no vector-index meta file (crashed build, or not "
            "an index)"
        )
    if meta.get("kind") != "ivf":
        raise ValueError(f"{path} holds a {meta.get('kind')!r} index, not ivf")
    _check_params(meta, path, {"id_col": id_col, "vec_col": vec_col})
    centroids = meta["centroids"]
    n_cells = meta["n_cells"]
    probe_cells = probe_cell_union(queries, meta, nprobe, id_col, vec_col)
    assigned = _read_ivf_cells(spark, path, meta, probe_cells)
    if assigned is None:
        # derive the id type (meta first, queries as the pre-id_type-meta
        # fallback) so the zero-probed-cells branch returns the same
        # schema as the populated branch for non-long id columns
        id_t = meta.get(
            "id_type", queries.schema[id_col].dataType.simpleString()
        )
        assigned = spark.createDataFrame(
            [], f"id {id_t}, _uvec array<double>, cell int"
        )
    return topk_ivf(
        corpus=None,
        queries=queries,
        k=k,
        n_cells=n_cells,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        _index=(assigned, centroids),
    )


# ---------------------------------------------------------------------------
# Incremental maintenance: append a batch to a persisted index without a
# rebuild — the index-artifact family's version of the band store's
# append path, but with SNAPSHOT semantics instead of in-place appends.
# ---------------------------------------------------------------------------


def append_to_index(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Append ``batch``'s vectors to the pq/ivf index at ``path``.

    The trained structures are FROZEN — PQ codebooks / IVF centroids are
    never refit (that is what makes this an append, not a rebuild): the
    batch is encoded (``pq_encode``) or cell-assigned
    (:func:`assign_cells`, the broadcast-centroid Arrow GEMM) with the
    meta's own structures, so queries after N appends equal a one-shot
    build that had used the same frozen structures over the whole corpus
    (test-pinned). Recall drifts only as far as the data distribution
    drifts from the training sample — re-train by rebuilding.

    Protocol (snapshot semantics, unlike the band store's in-place
    ``mode("append")``):

    * data lands under ``<path>/appends/<uuid>/`` — never inside a live
      directory, so concurrent readers see either the whole append or
      none of it;
    * the meta republishes LAST (atomic tmp+rename) with the append
      registered in ``meta["appends"]`` (id + its populated-cell
      registry) — a crash before publish leaves an orphaned dir that
      every reader ignores by construction (readers resolve dirs from
      the meta registry only);
    * the corpus fingerprint updates EXACTLY without touching old data:
      xor-folds compose over disjoint row sets, so
      ``n += n_batch; hash ^= hash_batch`` is the fingerprint of the
      union — :func:`check_index_fresh` against the grown corpus passes;
    * single-maintainer contract (same as the band store / rollup
      markers): a concurrent append is detected at publish time by
      re-reading the meta (append-registry drift ⇒ ValueError, the
      loser's data dir stays orphaned and invisible).
    """
    meta = _read_index_meta(spark, path)
    if meta is None:
        raise ValueError(f"{path} has no vector-index meta file")
    kind = meta.get("kind")
    if kind not in ("pq", "ivf", "ivfpq"):
        raise ValueError(
            f"{path} holds a {kind!r} index; append_to_index handles "
            "pq/ivf/ivfpq (bm25 appends via retrieval.append_to_bm25_index)"
        )
    _check_params(meta, path, {"id_col": id_col, "vec_col": vec_col})
    seen = [a["id"] for a in meta.get("appends", [])]
    append_id = uuid.uuid4().hex
    root = f"{path}/appends/{append_id}"
    entry: dict = {"id": append_id}

    if kind == "pq":
        books = np.asarray(meta["codebooks"])
        codes = pq_encode(batch, books, id_col, vec_col)
        codes.write.mode("errorifexists").parquet(f"{root}/codes")
    elif kind == "ivfpq":
        # frozen codebooks encode, frozen centroids assign — the batch
        # lands cell-partitioned like the base, (id, codes) inside
        from ..functions.vectors import to_double, unit

        books = np.asarray(meta["codebooks"])
        codes = pq_encode(batch, books, id_col, vec_col)
        uvecs = batch.select(
            F.col(id_col).alias("id"), unit(to_double(vec_col)).alias("_uvec")
        ).filter(F.col("_uvec").isNotNull())
        assigned = codes.join(
            assign_cells(uvecs, meta["centroids"]).select("id", "cell"), "id"
        )
        (
            assigned.repartition("cell")
            .write.mode("errorifexists")
            .partitionBy("cell")
            .parquet(f"{root}/cells")
        )
        entry["cells_present"] = sorted(
            r["cell"] for r in assigned.select("cell").distinct().collect()
        )
    else:
        from ..functions.vectors import to_double, unit

        uvecs = batch.select(
            F.col(id_col).alias("id"), unit(to_double(vec_col)).alias("_uvec")
        ).filter(F.col("_uvec").isNotNull())
        assigned = assign_cells(uvecs, meta["centroids"])
        (
            assigned.repartition("cell")
            .write.mode("errorifexists")
            .partitionBy("cell")
            .parquet(f"{root}/cells")
        )
        entry["cells_present"] = sorted(
            r["cell"] for r in assigned.select("cell").distinct().collect()
        )

    fp = _corpus_fingerprint(batch, id_col, vec_col)
    entry["n_vectors"] = fp["n_vectors"]

    current = _read_index_meta(spark, path)
    if current is None or [a["id"] for a in current.get("appends", [])] != seen:
        raise ValueError(
            f"concurrent append detected on {path}: the append registry "
            "changed during this append; this writer's data "
            f"({append_id}) is orphaned and invisible — retry"
        )
    meta = {
        **current,
        "appends": current.get("appends", []) + [entry],
        "n_vectors": current["n_vectors"] + fp["n_vectors"],
        "id_xor_hash": current["id_xor_hash"] ^ fp["id_xor_hash"],
    }
    _write_index_meta(spark, path, meta)
    return meta


def build_ivfpq_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    m: int = 16,
    n_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> dict:
    """Persist the IVF-PQ index — the production ANN layout: PQ codes
    partitioned BY CELL, so a query's probed cells read with
    listing-level dir pruning AND every row inside costs m bytes, not a
    float vector. Centroids and codebooks (both driver-sized by their
    training contracts) ride the atomic meta like every other index
    artifact here; :func:`append_to_index` grows it with the frozen
    structures; :func:`topk_ivfpq_indexed` feeds the loaded pieces back
    through ``similarity.topk_ivfpq`` so results are byte-identical to
    the in-memory path (test-pinned)."""
    from .similarity import _kmeans_cells, pq_encode, train_pq_codebooks

    if _read_index_meta(spark, path) is not None:
        raise ValueError(f"{path} already holds a vector index")
    assigned, centroids = _kmeans_cells(corpus, n_cells, id_col, vec_col, seed)
    books = train_pq_codebooks(
        corpus, m=m, n_codes=n_codes, vec_col=vec_col, seed=seed
    )
    rows = pq_encode(corpus, books, id_col, vec_col).join(
        assigned.select("id", "cell"), "id"
    )
    (
        rows.repartition("cell")
        .write.mode("errorifexists")
        .partitionBy("cell")
        .parquet(f"{path}/cells")
    )
    cells_present = sorted(
        r["cell"] for r in rows.select("cell").distinct().collect()
    )
    meta = {
        "kind": "ivfpq",
        "n_cells": int(n_cells),
        "m": int(m),
        "n_codes": int(n_codes),
        "seed": int(seed),
        "id_col": id_col,
        "id_type": corpus.schema[id_col].dataType.simpleString(),
        "vec_col": vec_col,
        "centroids": centroids,
        "codebooks": np.asarray(books).tolist(),
        "cells_present": cells_present,
        **_corpus_fingerprint(corpus, id_col, vec_col),
    }
    _write_index_meta(spark, path, meta)
    return meta


def topk_ivfpq_indexed(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    nprobe: int = 6,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ search against the PERSISTED index: centroids + codebooks
    come from the meta, ONLY the queries' probed cells are read from
    disk (explicit dirs + basePath per registered root), each row read
    is m code bytes, and the exact rerank rescans nothing but the
    Q×shortlist shortlist against ``corpus`` (the live vector table —
    codes alone cannot rerank). Probe choice, ADC math, tie rules, and
    the rerank are ``similarity.topk_ivfpq``'s own code over the loaded
    structures — byte-identical to the in-memory path (test-pinned)."""
    from .similarity import topk_ivfpq

    meta = _read_index_meta(spark, path)
    if meta is None:
        raise ValueError(
            f"{path} has no vector-index meta file (crashed build, or not "
            "an index)"
        )
    if meta.get("kind") != "ivfpq":
        raise ValueError(f"{path} holds a {meta.get('kind')!r} index, not ivfpq")
    _check_params(meta, path, {"id_col": id_col, "vec_col": vec_col})
    probe_cells = probe_cell_union(queries, meta, nprobe, id_col, vec_col)
    codes_cells = _read_ivf_cells(spark, path, meta, probe_cells)
    if codes_cells is None:
        id_t = meta.get(
            "id_type", queries.schema[id_col].dataType.simpleString()
        )
        codes_cells = spark.createDataFrame(
            [], f"id {id_t}, codes array<int>, cell int"
        )
    return topk_ivfpq(
        corpus=corpus,
        queries=queries,
        k=k,
        n_cells=meta["n_cells"],
        nprobe=nprobe,
        shortlist=shortlist,
        id_col=id_col,
        vec_col=vec_col,
        _index=(codes_cells, meta["centroids"], np.asarray(meta["codebooks"])),
    )


def compact_index(spark: SparkSession, path: str, clean: bool = True) -> dict:
    """Fold every registered append into ONE fresh base — the LSM
    maintenance step (``dedup.compact_gram_store``'s contract) the
    append protocol needs to stay sound per-month, not just per-batch:
    without it a streaming maintainer lands one ``appends/<uuid>`` root
    per micro-batch FOREVER, every query reads base + N roots, and every
    meta swap rewrites a growing registry.

    Pure data movement: the trained structures (codebooks/centroids),
    corpus fingerprint, and per-row content are untouched, so indexed
    search after compaction is byte-identical to before (test-pinned).
    Protocol (snapshot semantics): the merged rows land under a FRESH
    ``<path>/base-<uuid>/`` — never inside a directory a reader of the
    current meta could be scanning — and the meta republishes LAST with
    the new base and an EMPTY append registry; a crash before the swap
    leaves an orphaned dir and a fully intact index. After a successful
    swap the superseded base + append dirs are deleted best-effort
    (``clean=False`` to keep them); single-maintainer contract, run at a
    quiesce point like ``snapshot_expire`` (an in-flight reader of the
    PREVIOUS meta may still be scanning the old dirs). Concurrent
    appends are detected at publish (registry drift ⇒ the new base is
    orphaned, retry). A no-op (nothing appended) returns the meta
    unchanged. BM25 indexes compact via
    ``retrieval.compact_bm25_index`` (same protocol + batch-id
    high-water mark)."""
    meta = _read_index_meta(spark, path)
    if meta is None:
        raise ValueError(f"{path} has no vector-index meta file")
    kind = meta.get("kind")
    if kind not in ("pq", "ivf", "ivfpq"):
        raise ValueError(
            f"{path} holds a {kind!r} index; compact_index handles "
            "pq/ivf/ivfpq (bm25 compacts via retrieval.compact_bm25_index)"
        )
    appends = meta.get("appends", [])
    if not appends:
        return meta
    seen = [a["id"] for a in appends]
    old_base = _base_root(path, meta)
    new_base = f"base-{uuid.uuid4().hex}"
    new_meta = dict(meta)
    new_meta["base"] = new_base
    new_meta["appends"] = []

    if kind == "pq":
        roots = [f"{old_base}/codes"] + [
            f"{path}/appends/{a['id']}/codes" for a in appends
        ]
        spark.read.parquet(*roots).write.mode("errorifexists").parquet(
            f"{path}/{new_base}/codes"
        )
    else:
        rows = _read_ivf_cells(spark, path, meta, _ivf_cells_present(meta))
        (
            rows.repartition("cell")
            .write.mode("errorifexists")
            .partitionBy("cell")
            .parquet(f"{path}/{new_base}/cells")
        )
        # the merged registry IS the union of the input registries —
        # rows are moved, never dropped, so no rescan is needed
        new_meta["cells_present"] = _ivf_cells_present(meta)

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
    _write_index_meta(spark, path, new_meta)
    if clean:
        fs, oldp = _fs_path(spark, old_base)
        if old_base != path and fs.exists(oldp):
            fs.delete(oldp, True)
        else:
            # legacy layout: the old base is <path>/codes|cells itself
            sub = "codes" if kind == "pq" else "cells"
            _, oldd = _fs_path(spark, f"{path}/{sub}")
            if fs.exists(oldd):
                fs.delete(oldd, True)
        for a in appends:
            _, ap = _fs_path(spark, f"{path}/appends/{a['id']}")
            if fs.exists(ap):
                fs.delete(ap, True)
    return new_meta


def vacuum_index(spark: SparkSession, path: str) -> dict:
    """Delete UNREFERENCED data dirs under an index root — the orphan
    sweep completing the maintenance story (``snapshot_expire``'s GC
    role, for index stores): crashed appends leave ``appends/<uuid>``
    dirs no meta references (invisible to readers by construction, but
    they accumulate storage), and :func:`compact_index` /
    ``retrieval.compact_bm25_index`` best-effort-delete their
    superseded dirs, so a crash right after the meta swap can leave the
    old base behind. Referenced = the meta's current base root plus
    every registered append id. Works for all four kinds (pq / ivf /
    ivfpq / bm25 — the registry shape is shared). Single-maintainer,
    run at a quiesce point: an in-flight append's not-yet-registered
    dir is indistinguishable from an orphan (the snapshot_expire
    contract). Returns ``{"appends_deleted": n, "bases_deleted": m}``.
    """
    meta = _read_index_meta(spark, path)
    if meta is None:
        raise ValueError(f"{path} has no index meta file")
    live_appends = {a["id"] for a in meta.get("appends", [])}
    live_base = meta.get("base")  # None = legacy layout (codes/cells/tf)
    fs, root = _fs_path(spark, path)
    n_app = n_base = 0
    _, appends_root = _fs_path(spark, f"{path}/appends")
    if fs.exists(appends_root):
        for st in fs.listStatus(appends_root):
            name = st.getPath().getName()
            if st.isDirectory() and name not in live_appends:
                fs.delete(st.getPath(), True)
                n_app += 1
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not st.isDirectory():
            continue
        if name.startswith("base-") and name != live_base:
            fs.delete(st.getPath(), True)
            n_base += 1
        elif live_base is not None and name in ("codes", "cells", "tf"):
            # legacy base superseded by a compacted one — a crash
            # between compaction's swap and its cleanup left it behind
            fs.delete(st.getPath(), True)
            n_base += 1
    return {"appends_deleted": n_app, "bases_deleted": n_base}
