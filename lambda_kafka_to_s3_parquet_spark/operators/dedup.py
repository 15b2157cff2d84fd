"""Deduplication operators (SURVEY.md §2.9): exact, CDC latest-version,
MinHash-LSH near-dup, SimHash.

Scale design (the part that matters at 100 TB):

* **exact_dedup / latest_by_key** are one hash-shuffle on the dedup key —
  the minimum possible. Survivor choice is deterministic (explicit order),
  never "whichever row the scheduler saw first" (``dropDuplicates``' pick
  is nondeterministic under parallelism, which breaks re-runs and oracles).
* **near_dup_pairs (MinHash-LSH)** is strictly bucketed: candidates come
  from ``groupBy(band, signature)`` — an equi-join on band hashes — never
  an all-pairs cross join. Cost is O(N·K) hashing + one shuffle per stage;
  the verification join only touches candidate pairs, which for a
  near-dup-sparse corpus is ≪ N².
* **simhash** reduces each document to one 64-bit value; near-dup candidacy
  becomes a band-equality join on signature chunks, same bucketed shape.

The reference's only dedup-adjacent logic is its per-batch distinct-count
*metric* (lambda_function_with_AWS_datawrangler.py:71-72); these operators
are the north-star extension of that into real data dedup.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokens, word_shingles
from .metafile import (
    _fs_path,
    _glob,
    _jclass,
    _read_bytes,
    _read_text,
    _replace_text,
    _write_in_place,
)

#: Modulus of the PORTABLE MinHash permutation family (Mersenne prime
#: 2^31 - 1). Chosen so every intermediate of ``(a*h + b) % P`` fits a
#: 64-bit signed integer with room to spare (a < 2^20, h < 2^31 →
#: product < 2^51), in BOTH engines' integer arithmetic.
PORTABLE_MINHASH_P = 2_147_483_647


def portable_perm_constants(n_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (multiplier, addend) pairs for the portable MinHash
    permutation family — derived from md5 of the position index so the
    Spark builder and a SQL oracle interpolate IDENTICAL constants with
    no runtime randomness. Multipliers are odd and nonzero in [1, 2^20);
    addends in [0, P)."""
    import hashlib

    mults, adds = [], []
    for k in range(n_hashes):
        a = int(hashlib.md5(f"minhash-a-{k}".encode()).hexdigest()[:8], 16)
        mults.append((a % (1 << 20)) | 1)
        b = int(hashlib.md5(f"minhash-b-{k}".encode()).hexdigest()[:8], 16)
        adds.append(b % PORTABLE_MINHASH_P)
    return mults, adds


def exact_dedup(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """Keep exactly one row per key, chosen by ``order_by`` (deterministic).

    One shuffle on ``keys``. Adds ``n_copies`` = group size so callers can
    report how much was deduplicated (the reference's distinct-vs-total
    metric, per group).
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    wc = Window.partitionBy(*keys)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_copies", F.count("*").over(wc))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def latest_by_key(df: DataFrame, keys: list[str], ts_col: str, tiebreak: str) -> DataFrame:
    """CDC latest-version dedup: newest row per key (ts desc, tiebreak desc).

    The standard compaction of a CDC change stream (SRC_KEY_VAL /
    SRC_COMMIT_DT_UTC in the reference's golden schema) to current state.
    """
    return exact_dedup(df, keys, [F.desc(ts_col), F.desc(tiebreak)])


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 16,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, band, band_sig) MinHash-LSH banding table.

    K = n_bands * rows_per_band minhash values per document: ``h_k(doc) =
    min over shingles of xxhash64(k, xxhash64(shingle))`` (one string hash
    per shingle, K cheap long re-hashes); each band's signature hashes its
    ``rows_per_band`` consecutive minhashes. Documents sharing
    any (band, band_sig) bucket are near-dup candidates. The default
    (16 bands × 4 rows) puts the S-curve threshold around Jaccard ≈ 0.5
    with ~0.9998 catch probability at J = 0.8.

    Plan shape: explode shingles → single groupBy(id) computing all K mins
    as independent aggregates (one shuffle) → per-row band hashing + one
    explode. No cross joins anywhere.
    """
    vecs = minhash_vectors(
        docs, id_col, text_col, n_bands, rows_per_band, shingle_n, hash_family
    )
    return sig_bands(vecs, id_col, n_bands, rows_per_band)


def minhash_vectors(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 16,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, sigs) MinHash signature vectors — K = n_bands·rows_per_band
    longs per document, the fixed-width sketch the banding table and the
    incremental-dedup signature store both derive from (~8K bytes/doc,
    corpus-size-independent).

    Deliberately explode + groupBy (one exchange) rather than the
    shuffle-free per-row ``array_min(transform(...))`` formulation: the K
    transforms run in Spark's INTERPRETED higher-order-function path and
    measured 2.4× slower end-to-end at sf0.1 (5.1 s vs 2.1 s for x07),
    while the exchange this plan pays carries only (id, 8-byte shingle
    hash) pairs with map-side partial ``min`` combine — the codegen'd
    aggregate is the cheaper side of the trade at every scale where CPU,
    not the network, is the near-dup bottleneck.

    ``hash_family`` picks the permutation family:

    * ``"xxhash64"`` (default, production): ``h_k = xxhash64(k,
      xxhash64(shingle))`` — one string hash per shingle, K cheap long
      re-hashes, proper independent permutations per k (unlike an affine
      family, whose near-monotone permutations correlate the argmins
      across k and weaken band independence).
    * ``"portable"``: base = the first 60 bits of ``md5(shingle)`` mod
      P = 2^31-1, then K affine maps ``(a_k·base + b_k) mod P`` with
      md5-derived constants (:func:`portable_perm_constants`). Every step
      is replayable in ANSI-SQL engines (md5 + integer arithmetic), which
      is what lets a DuckDB oracle re-derive the exact survivor set of
      the incremental near-dup stream (w09). Slightly weaker cross-k
      independence — the estimator stays unbiased per position, and both
      engines computing the SAME family is what correctness checks need.
    """
    n_hashes = n_bands * rows_per_band
    sh = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(tokens(text_col), shingle_n)).alias("shingle"),
    )
    if hash_family == "portable":
        mults, adds = portable_perm_constants(n_hashes)
        p = F.lit(PORTABLE_MINHASH_P)
        sh = sh.select(
            "_id",
            (
                F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long") % p
            ).alias("hbase"),
        )
        mins = sh.groupBy("_id").agg(
            *[
                F.min((F.lit(mults[k]) * F.col("hbase") + F.lit(adds[k])) % p).alias(
                    f"h{k}"
                )
                for k in range(n_hashes)
            ]
        )
    elif hash_family == "xxhash64":
        sh = sh.select("_id", F.xxhash64("shingle").alias("hbase"))
        mins = sh.groupBy("_id").agg(
            *[
                F.min(F.xxhash64(F.lit(k), F.col("hbase"))).alias(f"h{k}")
                for k in range(n_hashes)
            ]
        )
    else:
        raise ValueError(
            f"unknown minhash hash_family {hash_family!r}; expected "
            "'xxhash64' or 'portable'"
        )
    return mins.select(
        F.col("_id").alias(id_col),
        F.array(*[F.col(f"h{k}") for k in range(n_hashes)]).alias("sigs"),
    )


def sig_bands(
    vecs: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 16,
    rows_per_band: int = 4,
    keep_sigs: bool = False,
) -> DataFrame:
    """Banding table (id, band, band_sig) from signature vectors: each
    band hashes its ``rows_per_band`` consecutive minhashes.

    ``keep_sigs=True`` carries the full signature vector on every band
    row — useful for in-memory one-pass variants where candidates should
    arrive WITH their sigs; the PERSISTED store deliberately does NOT do
    this (×n_bands state duplication) and keeps sigs once per survivor
    in its id-bucketed half instead (:func:`append_band_store`)."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.element_at("sigs", b * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ]
                ).alias("band_sig"),
            )
            for b in range(n_bands)
        ]
    )
    extra = ["sigs"] if keep_sigs else []
    return vecs.select(id_col, *extra, F.explode(bands).alias("bs")).select(
        id_col,
        F.col("bs.band").alias("band"),
        F.col("bs.band_sig").alias("band_sig"),
        *extra,
    )


def sig_agreement(a, b):
    """Fraction of agreeing minhash positions — the unbiased MinHash
    estimator of Jaccard similarity, evaluated JVM-side (zip_with +
    filter + size). The verification measure wherever the original
    shingle sets are no longer available (the incremental signature
    store), trading the batch path's exact-Jaccard verify for
    fixed-width state."""
    return (
        F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v)).cast("double")
        / F.size(a)
    )


def near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n_bands: int = 16,
    rows_per_band: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    1. band table (see :func:`minhash_signatures`);
    2. candidate pairs = self-equi-join on (band, band_sig), id_a < id_b,
       distinct — the bucketed step that avoids N²;
    3. verification join back to shingle sets; exact Jaccard =
       |A ∩ B| / |A ∪ B| via array_intersect/array_union;
    4. keep pairs with jaccard >= threshold.

    Output: (doc_a, doc_b, jaccard) — false-positive-free because of the
    exact verification; false negatives bounded by the LSH S-curve.
    """
    sig = minhash_signatures(docs, id_col, text_col, n_bands, rows_per_band, shingle_n)
    a, b = sig.alias("a"), sig.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )
    shingle_sets = docs.select(
        F.col(id_col).alias("_sid"), word_shingles(tokens(text_col), shingle_n).alias("sh")
    )
    xa, xb = shingle_sets.alias("xa"), shingle_sets.alias("xb")
    inter = F.size(F.array_intersect(F.col("xa.sh"), F.col("xb.sh")))
    union = F.size(F.array_union(F.col("xa.sh"), F.col("xb.sh")))
    jac = inter.cast("double") / union
    return (
        cand.join(xa, F.col("doc_a") == F.col("xa._sid"))
        .join(xb, F.col("doc_b") == F.col("xb._sid"))
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def near_dup_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n_bands: int = 16,
    rows_per_band: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """End-to-end near-duplicate corpus dedup: keep one survivor per
    near-dup CLUSTER (the minimum id), drop the rest, pass untouched
    documents through.

    Composition of the verified building blocks: :func:`near_dup_pairs`
    (banded LSH candidates + exact-Jaccard filter) →
    :func:`connected_components` (pairs alone under-dedup transitive
    groups) → one left-anti join dropping every non-minimum cluster
    member. Documents that appear in no pair survive automatically (they
    are never in the loser set), so the join is the only extra shuffle on
    the full corpus.
    """
    pairs = near_dup_pairs(
        docs, id_col, text_col, threshold, n_bands, rows_per_band, shingle_n
    ).select("doc_a", "doc_b")
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def simhash_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    token_hash: Callable[[Column], Column] = F.xxhash64,
) -> DataFrame:
    """(id, simhash) — SimHash per document, fully JVM-side.

    Classic Charikar construction: each token votes ±1 on every bit of its
    hash; output bit j is 1 iff the summed vote is positive. Plan: explode
    tokens → one groupBy(id) computing ``bits`` vote sums as independent
    conditional aggregates (map-side partial aggregation makes the shuffle
    carry ``bits`` longs per doc, not the tokens) → per-row bit packing.
    Documents with zero tokens produce no row (no signal to hash).

    Defaults are the production variant: 64 bits over ``xxhash64``. The
    oracle-checked registry entry (x08) passes ``bits=30,
    token_hash=rolling_hash`` — the same construction over the portable
    Rabin-Karp hash, reproducible in any engine.
    """
    tokh = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("t")
    ).withColumn("h", token_hash(F.col("t")))
    votes = tokh.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    sig = None
    for j in range(bits):
        # bit 63 set == Long.MIN_VALUE in two's complement
        bit_val = (1 << j) if j < 63 else -(1 << 63)
        term = F.when(F.col(f"v{j}") > 0, F.lit(bit_val).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = term if sig is None else sig.bitwiseOR(term)
    return votes.select(F.col(id_col), sig.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures via popcount(XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    Near-dup PAIRS are not enough to deduplicate a corpus — transitive
    groups must collapse to one survivor (A~B, B~C => {A,B,C} is ONE
    cluster even if A,C were never compared). Components give each node
    the minimum reachable id as its cluster label.

    Iteration: every node adopts ``min(own label, neighbors' labels)``
    until a fixpoint — one shuffle (groupBy node) per round, converging in
    O(graph diameter) rounds. Dup clusters are small and dense (diameter
    ≤ ~3), so a handful of rounds suffice; ``localCheckpoint`` breaks the
    growing lineage each round, and the convergence check doubles as the
    materializing action. For web-scale graphs with long chains swap the
    propagation step for the large-star/small-star contraction, which
    converges in O(log n) rounds with the same per-round shape.

    Returns (node, component) for every node with at least one edge.
    """
    # Materialize the edge list ONCE: every propagation round joins
    # against it, and without this boundary each round would re-execute
    # the whole upstream pipeline that produced the edges (for near-dup
    # graphs: shingle -> minhash -> banded join -> verify — measured 8.7 s
    # for a 256-edge graph at sf0.1, ~1.1 s with the checkpoint).
    # localCheckpoint, like the per-round label checkpoints, also keeps
    # the lineage from growing.
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
        )
        # Carry the OLD label through the propagation join so the
        # convergence check below is a narrow filter over the checkpointed
        # round output — not a second (node)-keyed shuffle join per round.
        new = (
            labels.join(neigh.withColumnRenamed("a", "node"), "node", "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce("nlabel", F.col("label"))
                ).alias("new_label"),
            )
            .localCheckpoint()
        )
        changed = new.filter(F.col("new_label") != F.col("old_label")).count()
        labels = new.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:
        # A silent partial answer is worse than an error: propagation needs
        # O(diameter) rounds, so long chains must use the star variant.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds the budget); use "
            "connected_components_star for long-chain graphs"
        )
    return labels.select("node", F.col("label").alias("component"))


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction — the O(log n)-round scale path for graphs with long
    chains, where plain min-label propagation (:func:`connected_components`)
    needs O(diameter) rounds.

    Per round (two key-partitioned shuffles, no broadcasts):

    * **large-star** — each node ``u`` links every strictly larger
      neighbor to ``m = min(N(u) ∪ {u})``: long tails collapse toward
      small ids from everywhere at once;
    * **small-star** — each edge is oriented larger→smaller; each node
      links its smaller neighbors (and itself) to their minimum: the
      partial trees flatten into stars.

    The edge set converges to one star per component rooted at the
    component minimum. Published as the MapReduce CC construction of
    Kiveris et al., "Connected Components in MapReduce and Beyond"
    (SoCC'14) — reproduced here from the paper's public description as
    pure DataFrame ops. Output matches :func:`connected_components`
    exactly (asserted in tests); dup-cluster queries keep the simpler
    propagation variant because near-dup clusters have diameter ≤ ~3.
    """
    g = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    prev_count = g.count()
    for _ in range(max_iter):
        # large-star over the symmetric adjacency
        sym = g.union(g.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mn"))
            .select("a", F.least("mn", F.col("a")).alias("m"))
        )
        large = (
            sym.filter(F.col("b") > F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star over larger→smaller orientation
        d = large.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        mins_s = d.groupBy("u").agg(F.min("v").alias("m"))
        new_g = (
            d.join(mins_s, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .union(mins_s.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .distinct()
            .localCheckpoint()
        )
        # Both edge sets are .distinct(), so set equality is "same size
        # and one direction empty" — half the set-op cost of checking
        # except() both ways, and the count is a narrow scan of the
        # checkpoint. Python-side prev count avoids recounting g.
        new_count = new_g.count()
        converged = new_count == prev_count and new_g.exceptAll(g).isEmpty()
        g, prev_count = new_g, new_count
        if converged:
            break
    return (
        g.select(F.col("a").alias("node"), F.col("b").alias("component"))
        .union(g.select(F.col("b").alias("node"), F.col("b").alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Inter-document boilerplate removal: drop lines shared by many docs.

    The CCNet/RefinedWeb line-level dedup pass: a line whose trimmed form
    appears in >= ``min_docs`` DISTINCT documents is boilerplate (headers,
    nav bars, cookie banners, license blocks) and is removed from every
    document; surviving lines are reassembled in original order. Returns
    one row per input document: ``id_col``, ``n_lines`` (original),
    ``n_removed``, and ``cleaned`` (the rebuilt text, '' when every line
    was boilerplate). Empty/whitespace-only lines are never removal
    candidates (they carry formatting, not content).

    Scale shape, in shuffle counts: (1) explode lines (narrow) →
    two-level groupBy for the distinct-doc count — ``(line, doc)`` first,
    so one hot line (an ubiquitous banner) spreads across its documents
    before the per-line reduce, the standard distinct-under-skew shape —
    then (2) a left equi-join of all lines against the flagged set (AQE
    broadcasts it when the boilerplate vocabulary is small), and (3) one
    groupBy(doc) to reassemble; per-group state is bounded by document
    size. No step is all-pairs and nothing touches the driver.

    The plan reads ``docs`` twice (boilerplate census + reassembly). When
    the input is an expensive derived expression rather than a stored
    table, materialize it first (persist/localCheckpoint or land the line
    table) — at corpus scale the census output is reused by later
    curation passes anyway.
    """
    lines = docs.select(
        id_col, F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line")
    ).withColumn("nl", F.trim("line"))
    boiler = (
        lines.filter(F.col("nl") != "")
        .groupBy("nl", id_col)
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("nl")
        .agg(F.count(F.lit(1)).alias("_n_docs"))
        .filter(F.col("_n_docs") >= min_docs)
        .select("nl", F.lit(True).alias("_boiler"))
    )
    flagged = lines.join(boiler, "nl", "left")
    kept_line = F.when(F.col("_boiler").isNull(), F.struct("pos", "line"))
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("_boiler"), 1).otherwise(0)).cast("bigint").alias("n_removed"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(kept_line)), lambda s: s["line"]),
            "\n",
        ).alias("cleaned"),
    )


def greedy_neardup_survivors(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Dropped-node set of the greedy first-id-wins rule over verified
    near-dup PAIRS: scanning ids ascending, a node is DROPPED iff it is
    similar (has an edge) to an already-KEPT smaller node.

    This is SemDeDup's survivor rule on a similarity graph — subtly
    different from the connected-components min-id rule
    (:func:`near_dup_dedup`): on a chain A–B–C (A,C dissimilar), CC keeps
    only A, greedy keeps A and C (B's drop removes the link). Greedy is
    the rule that stays consistent under INCREMENTAL arrival, because it
    never needs edges between two dropped nodes.

    Components are computed first so each greedy walk sees only its own
    (small, dense) cluster's edges inside one Arrow batch; the walk is
    O(edges) per component and components are bounded by the near-dup
    cluster size, never the corpus.

    Returns one ``dropped`` column (the losers); nodes with no edge never
    appear and thus always survive.
    """
    id_t = pairs.schema[a_col].dataType.simpleString()
    # Both the component computation and the per-component edge grouping
    # consume the pair set; materialize it once so the candidate+verify
    # pipeline that produced it doesn't run twice (measured 4.6 s -> ~1 s
    # for a 256-edge graph at sf0.1).
    pairs = pairs.localCheckpoint()
    comp = connected_components(pairs, src=a_col, dst=b_col)
    edges_with_comp = (
        pairs.join(comp.withColumnRenamed("node", a_col), a_col)
        .select("component", a_col, b_col)
    )

    def walk(pdf):
        import pandas as pd

        adj: dict = {}
        for a, b in zip(pdf[a_col], pdf[b_col]):
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        kept: set = set()
        dropped = []
        for node in sorted(adj):
            if adj[node] & kept:
                dropped.append(node)
            else:
                kept.add(node)
        return pd.DataFrame({"dropped": dropped})

    return (
        edges_with_comp.groupBy("component")
        .applyInPandas(walk, f"dropped {id_t}")
    )


def incremental_neardup(
    batch_docs: DataFrame,
    store_sigs: DataFrame | None,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 16,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
    precomputed_vecs: DataFrame | None = None,
    _hist_dropped: DataFrame | None = None,
) -> DataFrame:
    """One batch of first-arrival-wins incremental near-dup dedup.

    The continuous-ingestion form of corpus dedup: documents arrive in
    batches forever, and each batch must be deduplicated against
    EVERYTHING kept so far without ever re-reading prior text. State is
    the signature store — MinHash vectors of every prior survivor, K·8
    bytes per doc, corpus-text-independent — and the verification measure
    is :func:`sig_agreement` (the unbiased MinHash Jaccard estimate),
    since original shingle sets are gone. A document is dropped iff it is
    est-similar to a prior survivor, or (within the batch) to an
    already-kept smaller id (:func:`greedy_neardup_survivors` — the rule
    that stays consistent as batches accumulate: replaying a corpus in
    id-ordered batches of ANY size yields the same survivor set, pinned
    in tests).

    History arrives one of two ways:

    * via :func:`incremental_neardup_banded` — the SCALE path over the
      persisted two-part band store (``_hist_dropped`` injection);
    * ``store_sigs`` — the compact ``(id, sigs)`` frame: the store's band
      table is recomputed on its scan (16 xxhash64/row over the FULL
      store, every batch — fine for bounded history, ∝ corpus at scale;
      kept for callers holding history in memory/small state).

    Returns the surviving batch rows with their ``sigs`` column appended —
    the caller lands the rows and appends the signatures to the store.
    """
    # The signature build (shingle explode -> 64-aggregate groupBy) is the
    # expensive stage and every downstream step references it — the band
    # self-join twice, the agreement verifies, the survivor join. Without
    # a materialization boundary it would re-execute once per reference
    # inside the batch plan; localCheckpoint runs it exactly once per
    # batch (the same boundary reasoning as curate_corpus's cleaning
    # persist and connected_components' edge checkpoint).
    if store_sigs is not None and _hist_dropped is not None:
        raise ValueError("pass store_sigs OR _hist_dropped, not both")
    all_vecs = (
        precomputed_vecs
        if precomputed_vecs is not None  # caller already checkpointed it
        else minhash_vectors(
            batch_docs, id_col, text_col, n_bands, rows_per_band, shingle_n, hash_family
        ).localCheckpoint()
    )
    vecs, bands_b = all_vecs, sig_bands(all_vecs, id_col, n_bands, rows_per_band)

    survivors = batch_docs
    hist_dropped = _hist_dropped
    if store_sigs is not None:
        # Parameter-drift guard: a store built with a different K =
        # n_bands*rows_per_band would not error — element_at past the end
        # yields NULL band sigs and zip_with null-pads sig_agreement, so
        # near-dups of stored survivors would silently sail through with
        # estimates capped at ~0.5. Fail fast instead (bounded 1-row
        # probe of the store), mirroring the rollup's schema-mismatch
        # guard. (The banded store checks its meta file at read/append.)
        expected_k = n_bands * rows_per_band
        probe = store_sigs.select(F.size("sigs").alias("k")).first()
        if probe is not None and probe["k"] != expected_k:
            raise ValueError(
                f"signature store carries {probe['k']}-hash vectors but this "
                f"stream runs n_bands={n_bands} x rows_per_band="
                f"{rows_per_band} (K={expected_k}); estimates across "
                "mismatched widths are silently wrong — rebuild the store "
                "or match the parameters it was built with"
            )
        bands_s = sig_bands(store_sigs, id_col, n_bands, rows_per_band).select(
            F.col(id_col).alias("_hist_id"), "band", "band_sig"
        )
        cand_hist = (
            bands_b.join(bands_s, ["band", "band_sig"])
            .select(id_col, "_hist_id")
            .distinct()
        )
        hist_dropped = (
            cand_hist.join(vecs, id_col)
            .join(
                store_sigs.select(
                    F.col(id_col).alias("_hist_id"), F.col("sigs").alias("_hist_sigs")
                ),
                "_hist_id",
            )
            .filter(sig_agreement(F.col("sigs"), F.col("_hist_sigs")) >= threshold)
            .select(id_col)
            .distinct()
            # three anti-joins below consume this small id set; without
            # the boundary each would re-run the store scan + band join
            .localCheckpoint()
        )
    if hist_dropped is not None:
        survivors = survivors.join(hist_dropped, id_col, "left_anti")
        vecs = vecs.join(hist_dropped, id_col, "left_anti")
        bands_b = bands_b.join(hist_dropped, id_col, "left_anti")

    a, b = bands_b.alias("a"), bands_b.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )
    va = vecs.select(F.col(id_col).alias("doc_a"), F.col("sigs").alias("_sa"))
    vb = vecs.select(F.col(id_col).alias("doc_b"), F.col("sigs").alias("_sb"))
    pairs = (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .filter(sig_agreement(F.col("_sa"), F.col("_sb")) >= threshold)
        .select("doc_a", "doc_b")
    )
    batch_dropped = greedy_neardup_survivors(pairs).withColumnRenamed("dropped", id_col)

    # Drops are applied to batch_docs by anti-join on the dropped id sets
    # (history above, in-batch here); sigs then attach by LEFT join so a
    # document too short to shingle — which has no signature row and can
    # never collide with anything — survives with NULL sigs (the store
    # writer skips those rows; the batch path gives the same doc a free
    # pass for the same reason).
    return (
        survivors.join(batch_dropped, id_col, "left_anti")
        .join(all_vecs, id_col, "left")
    )


# ---------------------------------------------------------------------------
# Persisted band store — the incremental near-dup state layout that keeps
# per-batch cost ∝ batch instead of ∝ corpus-so-far.
# ---------------------------------------------------------------------------

#: store meta filename — underscore prefix keeps it invisible to the
#: parquet reader (same convention as the rollup/CDC high-water markers)
NEARDUP_STORE_META = "_neardup_store_meta.json"

#: default band_sig prefix fan-out. Partition dirs = n_bands × n_pfx;
#: size it (and re-bucket, below) so one dir holds roughly a target byte
#: budget — the knob that keeps a pruned per-batch read bounded.
DEFAULT_STORE_PFX = 8


def _store_meta(spark, store_path: str) -> dict | None:
    """Read the band store's meta file, or None when it doesn't exist."""
    import json

    txt = _read_text(spark, f"{store_path}/{NEARDUP_STORE_META}")
    return None if txt is None else json.loads(txt)


def _write_store_meta(spark, store_path: str, meta: dict) -> None:
    """Publish the meta ATOMICALLY (tmp + overwrite rename), the
    snapshot-manifest protocol in miniature: a crash mid-write must never
    leave a truncated/garbled meta at the canonical name — readers would
    raise on it (fail-stop, but needlessly) or, worse, a JSON prefix that
    still parses could resurrect a stale registry. With rename, every
    crash point leaves either the old meta or the new one. (Filesystems
    without a native overwrite rename delete and rename inside that one
    call, so a concurrent reader could see the meta absent for a moment
    — the store is single-writer and readers run in the same
    maintenance stream, so no reader races this by contract.)"""
    import json

    _replace_text(spark, f"{store_path}/{NEARDUP_STORE_META}", json.dumps(meta))


def _check_store_params(
    meta: dict,
    store_path: str,
    n_bands: int,
    rows_per_band: int,
    hash_family: str = "xxhash64",
) -> None:
    if meta["n_bands"] != n_bands or meta["rows_per_band"] != rows_per_band:
        raise ValueError(
            f"band store {store_path} was built with n_bands="
            f"{meta['n_bands']} x rows_per_band={meta['rows_per_band']} but "
            f"this caller runs {n_bands} x {rows_per_band}; band signatures "
            "across mismatched parameters never collide, so near-dups of "
            "stored survivors would silently pass — rebuild the store or "
            "match its parameters"
        )
    # Same silent-failure class as the K mismatch: signatures from a
    # different permutation family estimate ~0 agreement against stored
    # history, so every near-dup of a prior survivor would sail through.
    # Stores written before the knob existed carry no field — they were
    # all xxhash64 by construction.
    store_family = meta.get("hash_family", "xxhash64")
    if store_family != hash_family:
        raise ValueError(
            f"band store {store_path} was built with hash_family="
            f"{store_family!r} but this caller runs {hash_family!r}; "
            "agreement estimates across mismatched families are silently "
            "~0 — rebuild the store or match its family"
        )


def _with_pfx(bands: DataFrame, n_pfx: int) -> DataFrame:
    """The partition prefix: a uniform, deterministic fold of band_sig
    into n_pfx buckets (band_sig is already an xxhash64 output, so a
    plain pmod is uniform)."""
    return bands.withColumn("pfx", F.pmod("band_sig", F.lit(n_pfx)).cast("int"))


def _existing_paths(spark, root: str, candidates: list[str], glob_tail: str) -> list[str]:
    """Which of ``candidates`` (paths under ``root``) exist — by whichever
    metadata strategy is cheaper: per-path ``exists()`` probes cost one
    JVM/RPC round trip each (right when the candidate set is small — the
    tiny-batch regime), while one dir-level ``globStatus`` of
    ``root/glob_tail`` lists O(total dirs) names in a single call (right
    when the candidate set is large). Neither ever lists into the FILES
    of untouched dirs. FALLBACK path only: stores written since round 6
    carry the dir BITMAP in their meta (see :func:`append_band_store`),
    which resolves existence with zero filesystem calls — both fs
    strategies here were measured growing with total dir count (glob:
    ~0.5 ms/dir on local fs, 0.8 s → 3 s at 10× store)."""
    if len(candidates) <= 48:
        fs, _ = _fs_path(spark, root)
        jpath = _jclass(spark, "org.apache.hadoop.fs.Path")
        return [p for p in candidates if fs.exists(jpath(p))]
    existing = set(_glob(spark, root, glob_tail))
    return [p for p in candidates if p[len(root):].lstrip("/") in existing]


def _bitmap_decode(b64: str) -> set[int]:
    """Set-bit indices of a base64 bitmap (the meta dir registry)."""
    import base64

    raw = base64.b64decode(b64)
    out = set()
    for byte_i, byte in enumerate(raw):
        while byte:
            low = byte & -byte
            out.add(byte_i * 8 + low.bit_length() - 1)
            byte ^= low
    return out


def _bitmap_encode(bits: set[int], n_bits: int) -> str:
    import base64

    raw = bytearray((n_bits + 7) // 8)
    for b in bits:
        raw[b // 8] |= 1 << (b % 8)
    return base64.b64encode(bytes(raw)).decode("ascii")


def _store_has_data(spark, store_path: str) -> bool:
    """True iff either half of the store holds any partition dirs."""
    return bool(_glob(spark, store_path, "{bands,sigs}"))


def _probe_dir_registry(spark, store_path: str, n_bands: int, n_pfx: int) -> dict:
    """Build the dir-registry bitmaps from the filesystem — one dir-level
    globStatus per store half (upgrade path for pre-registry stores; the
    hot path never calls this)."""
    band_bits: set[int] = set()
    for rel in _glob(spark, f"{store_path}/bands", "band=*/pfx=*"):
        band, pfx = (int(level.split("=", 1)[1]) for level in rel.split("/"))
        band_bits.add(band * n_pfx + pfx)
    spfx_bits = {
        int(rel.split("=", 1)[1]) for rel in _glob(spark, f"{store_path}/sigs", "spfx=*")
    }
    return {
        "band_dirs": _bitmap_encode(band_bits, n_bands * n_pfx),
        "spfx_dirs": _bitmap_encode(spfx_bits, n_pfx),
    }


def append_band_store(
    spark,
    store_path: str,
    vecs: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 16,
    rows_per_band: int = 4,
    n_pfx: int = DEFAULT_STORE_PFX,
    hash_family: str = "xxhash64",
) -> None:
    """Append survivor signatures to the persisted two-part band store.

    Layout (the fix the compact ``(id, sigs)`` frame's docstring always
    named — the store persisted WITH its band table, bucketed so lookups
    prune):

    * ``<store>/bands/band=<b>/pfx=<band_sig mod n_pfx>/`` — slim
      ``(id, band_sig)`` rows, the candidate-generation index. A batch's
      lookup statically prunes to the (band, pfx) buckets its own band
      table hashes into and never scans, shuffles, or re-hashes the rest
      of the corpus's state (and never re-pays the 16 xxhash64/row the
      in-memory layout recomputes per batch).
    * ``<store>/sigs/spfx=<xxhash64(id) mod n_pfx>/`` — ``(id, sigs)``
      ONCE per survivor, the verification store. Only the id-buckets of
      actual candidates are read (∝ candidates ∝ batch). Keeping sigs
      out of the band rows avoids n_bands× state duplication (~0.9 KB vs
      ~8 KB per survivor at the defaults) and 16× read amplification
      when a batch's buckets cover much of the store.

    ``n_pfx`` is fixed at store creation (recorded in the meta file;
    later appends validate and reuse it — pass anything, it's ignored
    once created). As the store grows, keep per-dir size bounded with
    :func:`rebucket_band_store` (the HBase-split-style maintenance that
    makes pruned per-batch reads ∝ batch at any corpus size).

    Single-writer contract (same as the rollup/CDC markers): one
    maintenance stream owns a store path.
    """
    meta = _store_meta(spark, store_path)
    if meta is None:
        meta = {
            "n_bands": n_bands,
            "rows_per_band": rows_per_band,
            "n_pfx": int(n_pfx),
            "layout": "banded-v2",
            "hash_family": hash_family,
        }
        _write_store_meta(spark, store_path, meta)
    else:
        _check_store_params(meta, store_path, n_bands, rows_per_band, hash_family)
    n_pfx = meta["n_pfx"]
    if "band_dirs" not in meta and _store_has_data(spark, store_path):
        # Pre-registry store (meta without the dir bitmaps) with existing
        # data: seed the bitmaps from ONE filesystem probe of each half
        # BEFORE unioning this batch's keys. Seeding from the empty
        # default would register only this batch's dirs, and the now-
        # bitmap-carrying meta would make every read silently skip the
        # legacy dirs — dropped history, near-dups of prior survivors
        # landing forever (the exact silent failure this module forbids).
        meta = {**meta, **_probe_dir_registry(spark, store_path, n_bands, n_pfx)}
    bands = _with_pfx(sig_bands(vecs, id_col, n_bands, rows_per_band), n_pfx)
    sig_rows = vecs.select(
        id_col, "sigs", F.pmod(F.xxhash64(id_col), F.lit(n_pfx)).cast("int").alias("spfx")
    )

    # The two store halves are fully independent pipelines over the same
    # checkpointed vecs (slim band index vs one-sigs-row-per-survivor);
    # each is a touched-keys collect + a partitioned append. Run them as
    # two concurrent driver threads (guide §2.6) so the sigs half's jobs
    # back-fill the band write's commit tail — the registry union below
    # still happens strictly AFTER both writes, preserving the
    # registry ⊆ disk crash contract.
    #
    # Partial-failure shape (wider than the old bands-then-sigs order,
    # which could only orphan sigs-less band rows): either half can now
    # land without the other before the crash. Both orientations are
    # covered by the SAME at-least-once recovery the registry contract
    # documents — unregistered dirs are invisible to pruned reads, and
    # the batch's replay re-appends + re-registers both halves. Even if
    # a future registry variant registered one half early,
    # sigs-without-bands is at worst a benign MISS (a candidate pair
    # not generated — no band row ever points at it), never a false
    # match; bands-without-sigs is the pre-existing orientation the
    # verify join drops. Running futures can't be cancelled mid-job, so
    # the contract is documented rather than racily "cancelled".
    def _bands_half():
        keys = {
            r["band"] * n_pfx + r["pfx"]
            for r in bands.select("band", "pfx").distinct().collect()
        }
        # one output file per touched dir per append, not one per task per dir
        (
            bands.repartition("band", "pfx")
            .write.mode("append")
            .partitionBy("band", "pfx")
            .parquet(f"{store_path}/bands")
        )
        return keys

    def _sigs_half():
        keys = {r["spfx"] for r in sig_rows.select("spfx").distinct().collect()}
        (
            sig_rows.repartition("spfx")
            .write.mode("append")
            .partitionBy("spfx")
            .parquet(f"{store_path}/sigs")
        )
        return keys

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as _pool:
        _f_bands = _pool.submit(_bands_half)
        _f_sigs = _pool.submit(_sigs_half)
        new_band_keys = _f_bands.result()
        new_spfx = _f_sigs.result()
    # Dir REGISTRY: the meta bitmap records which partition dirs exist, so
    # per-batch reads resolve candidate paths with ZERO filesystem calls
    # (measured: glob/exists resolution grew to seconds at 10x store).
    # Written AFTER the data (registry ⊆ disk always): a crash between
    # data and registry under-claims dirs for exactly one batch, and that
    # batch's at-least-once replay re-appends + re-registers them — the
    # same recovery contract the land/append two-step already documents.
    band_bits = _bitmap_decode(meta.get("band_dirs", "")) | new_band_keys
    spfx_bits = _bitmap_decode(meta.get("spfx_dirs", "")) | new_spfx
    meta = {
        **meta,
        "band_dirs": _bitmap_encode(band_bits, n_bands * n_pfx),
        "spfx_dirs": _bitmap_encode(spfx_bits, n_pfx),
    }
    _write_store_meta(spark, store_path, meta)


def read_band_store(
    spark,
    store_path: str,
    id_col: str = "doc_id",
    prune_to: DataFrame | None = None,
    n_bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame | None:
    """Scan the store's band table — pruned to a batch's buckets when
    ``prune_to`` (the batch's band table) is given. Returns ``None`` when
    pruning leaves nothing to read (no stored bucket matches the batch).

    The prune key set is ``distinct (band, pfx)`` of the batch, collected
    driver-side: bounded by n_bands × n_pfx REGARDLESS of batch size
    (both are low-cardinality partition values, not band_sigs), so the
    collect is a few hundred ints. Pruning happens at TWO levels:

    * **listing**: the matching ``band=<b>/pfx=<p>`` dir paths are
      resolved against one dir-level glob and passed to the reader with
      ``basePath`` — a plain partitioned read of the root would
      RECURSIVELY LIST the whole store to discover partitions before
      pruning anything, a per-batch metadata cost ∝ store (measured
      4.2× wall at 10× store before this; flat after);
    * **plan**: the same key set rides as a static predicate on the
      partition columns (PruneFileSourcePartitions → PartitionFilters,
      plan-asserted in tests) — defensive, since the listed paths are
      already exactly the matching dirs.
    """
    meta = _store_meta(spark, store_path)
    if meta is None:
        raise ValueError(f"{store_path} has no band-store meta file")
    # geometry only: this reader returns stored band rows as-is, so the
    # hash family is the CALLER's concern (checked where sigs are built)
    _check_store_params(
        meta, store_path, n_bands, rows_per_band, meta.get("hash_family", "xxhash64")
    )
    n_pfx = meta["n_pfx"]
    root = f"{store_path}/bands"
    if prune_to is None:
        return spark.read.parquet(root).select(id_col, "band", "band_sig")
    pairs = sorted(
        (r["band"], r["pfx"])
        for r in _with_pfx(prune_to, n_pfx).select("band", "pfx").distinct().collect()
    )
    if "band_dirs" in meta:
        # dir registry: existence resolved from the meta bitmap, zero fs calls
        live = _bitmap_decode(meta["band_dirs"])
        paths = [
            f"{root}/band={b}/pfx={p}" for b, p in pairs if b * n_pfx + p in live
        ]
    else:  # pre-registry store: fall back to filesystem probing
        paths = _existing_paths(
            spark,
            root,
            [f"{root}/band={b}/pfx={p}" for b, p in pairs],
            "band=*/pfx=*",
        )
    if not paths:
        return None
    df = spark.read.option("basePath", root).parquet(*paths)
    keys = [b * n_pfx + p for b, p in pairs]
    df = df.filter((F.col("band") * n_pfx + F.col("pfx")).isin(keys))
    return df.select(id_col, "band", "band_sig")


def read_sig_store(
    spark,
    store_path: str,
    spfx_values: list[int],
    id_col: str = "doc_id",
) -> DataFrame | None:
    """The (id, sigs) verification rows for the given id-buckets only —
    the ∝-candidates second half of a batch lookup. ``None`` when no
    requested bucket exists."""
    meta = _store_meta(spark, store_path)
    if meta is None:
        raise ValueError(f"{store_path} has no band-store meta file")
    root = f"{store_path}/sigs"
    wanted = sorted(set(spfx_values))
    if "spfx_dirs" in meta:
        live = _bitmap_decode(meta["spfx_dirs"])
        paths = [f"{root}/spfx={s}" for s in wanted if s in live]
    else:
        paths = _existing_paths(
            spark, root, [f"{root}/spfx={s}" for s in wanted], "spfx=*"
        )
    if not paths:
        return None
    df = spark.read.option("basePath", root).parquet(*paths)
    return df.filter(F.col("spfx").isin(sorted(set(spfx_values)))).select(
        id_col, "sigs"
    )


def incremental_neardup_banded(
    spark,
    batch_docs: DataFrame,
    store_path: str,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 16,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """One incremental near-dup batch against the persisted band store.

    Same semantics as :func:`incremental_neardup` (first arrival wins,
    greedy within batch, batch-split invariant); the history side is the
    pruned two-part store read: candidates from the slim band table,
    verification sigs fetched ONLY for the candidates' id-buckets.
    Bootstrap (absent/empty store) dedups the batch against itself only —
    the probe goes through the FileSystem API so a read ERROR surfaces
    instead of silently dropping history. Returns survivors with sigs;
    the caller lands them and calls :func:`append_band_store`.
    """
    from .rollup import _is_absent_or_empty

    # One signature build per batch, shared by the prune-key collect and
    # every downstream stage (the materialization-boundary reasoning in
    # incremental_neardup's body).
    vecs = minhash_vectors(
        batch_docs, id_col, text_col, n_bands, rows_per_band, shingle_n, hash_family
    ).localCheckpoint()
    hist_dropped = None
    if _is_absent_or_empty(spark, store_path):
        # An interrupted rebucket swap leaves the store at a side path —
        # complete it rather than silently bootstrapping over history.
        # Zero cost on the hot path (only probed when the canonical path
        # looks absent/empty).
        _recover_rebucket(spark, store_path)
    if not _is_absent_or_empty(spark, store_path):
        meta = _store_meta(spark, store_path)
        if meta is not None:
            _check_store_params(meta, store_path, n_bands, rows_per_band, hash_family)
        n_pfx = meta["n_pfx"] if meta else DEFAULT_STORE_PFX
        batch_bands = sig_bands(vecs, id_col, n_bands, rows_per_band)
        store_bands = read_band_store(
            spark, store_path, id_col, batch_bands, n_bands, rows_per_band
        )
        if store_bands is not None:
            # (batch id, hist id) candidates — ∝ real collisions, never
            # batch × store. Materialized once: the spfx collect below
            # and the verification join both consume it.
            cand = (
                batch_bands.join(
                    store_bands.select(
                        F.col(id_col).alias("_hist_id"), "band", "band_sig"
                    ),
                    ["band", "band_sig"],
                )
                .select(id_col, "_hist_id")
                .distinct()
                .localCheckpoint()
            )
            spfx = [
                r["s"]
                for r in cand.select(
                    F.pmod(F.xxhash64("_hist_id"), F.lit(n_pfx))
                    .cast("int")
                    .alias("s")
                )
                .distinct()
                .collect()
            ]
            hist_sigs = (
                read_sig_store(spark, store_path, spfx, id_col) if spfx else None
            )
            if hist_sigs is not None:
                hist_dropped = (
                    cand.join(vecs, id_col)
                    .join(
                        hist_sigs.select(
                            F.col(id_col).alias("_hist_id"),
                            F.col("sigs").alias("_hist_sigs"),
                        ),
                        "_hist_id",
                    )
                    .filter(
                        sig_agreement(F.col("sigs"), F.col("_hist_sigs")) >= threshold
                    )
                    .select(id_col)
                    .distinct()
                    # three anti-joins consume this small id set
                    .localCheckpoint()
                )
    return incremental_neardup(
        batch_docs,
        None,
        threshold,
        id_col=id_col,
        text_col=text_col,
        n_bands=n_bands,
        rows_per_band=rows_per_band,
        shingle_n=shingle_n,
        hash_family=hash_family,
        precomputed_vecs=vecs,
        _hist_dropped=hist_dropped,
    )


def migrate_band_store(
    spark,
    legacy_store: str,
    new_store: str,
    id_col: str = "doc_id",
    n_bands: int = 16,
    rows_per_band: int = 4,
    n_pfx: int = DEFAULT_STORE_PFX,
) -> int:
    """Rebuild a legacy flat ``(id, sigs)`` signature store (the pre-
    banded layout) as the two-part banded store at ``new_store`` — the
    explicit upgrade step for restarting an old ``run_neardup_stream``
    deployment against the banded engine (which otherwise fails fast in
    ``read_band_store`` with "has no band-store meta file"). One pass:
    the stored signatures re-band and land via :func:`append_band_store`;
    returns the number of migrated signature rows. The legacy store is
    left untouched — point the stream at ``new_store`` afterwards."""
    from .rollup import _is_absent_or_empty

    if _store_meta(spark, legacy_store) is not None:
        raise ValueError(
            f"{legacy_store} is already a banded store; migration reads "
            "only the legacy flat (id, sigs) layout"
        )
    if not _is_absent_or_empty(spark, new_store):
        raise ValueError(
            f"migration target {new_store} already holds data; migrate "
            "into a fresh path and repoint the stream"
        )
    legacy = spark.read.parquet(legacy_store)
    if id_col not in legacy.columns or "sigs" not in legacy.columns:
        raise ValueError(
            f"{legacy_store} does not look like a legacy signature store "
            f"(need columns [{id_col!r}, 'sigs'], found {legacy.columns})"
        )
    vecs = legacy.select(id_col, "sigs").localCheckpoint()
    n = vecs.count()
    probe = vecs.select(F.size("sigs").alias("k")).first()
    if probe is not None and probe["k"] != n_bands * rows_per_band:
        raise ValueError(
            f"{legacy_store} carries {probe['k']}-hash vectors but the new "
            f"store would run n_bands={n_bands} x rows_per_band="
            f"{rows_per_band} (K={n_bands * rows_per_band}); migrate with "
            "the parameters the legacy store was built with"
        )
    append_band_store(
        spark, new_store, vecs, id_col, n_bands, rows_per_band, n_pfx
    )
    return n


def _recover_rebucket(spark, store_path: str) -> bool:
    """Complete an interrupted :func:`rebucket_band_store` swap.

    Swap protocol states (rename-only, never delete-first): a crash can
    leave (a) canonical intact + leftover tmp/old dirs — garbage, drop
    the ``.rebucket_old``; (b) canonical ABSENT + ``.rebucket_old``
    present — crashed between the two renames: roll FORWARD to the
    fully-written tmp if its meta exists, else roll BACK to the old
    store. Returns True when a roll restored the canonical path. Called
    from rebucket itself and from the bootstrap probe of
    :func:`incremental_neardup_banded` — without this, a crashed swap
    would read as "absent store" and silently bootstrap empty (full
    history loss, the failure mode the module forbids)."""
    fs, canon = _fs_path(spark, store_path)
    base = store_path.rstrip("/")
    jpath = _jclass(spark, "org.apache.hadoop.fs.Path")
    old_p = jpath(base + ".rebucket_old")
    tmp_p = jpath(base + ".rebucket_tmp")
    if fs.exists(jpath(f"{store_path}/{NEARDUP_STORE_META}")):
        # canonical store is live; a leftover .rebucket_old is the crash
        # tail of a COMPLETED swap — reclaim it
        if fs.exists(old_p):
            fs.delete(old_p, True)
        return False
    if not fs.exists(old_p):
        return False
    if fs.exists(jpath(f"{base}.rebucket_tmp/{NEARDUP_STORE_META}")):
        # tmp fully materialized (its meta is written LAST) — roll forward
        if fs.exists(canon):
            fs.delete(canon, True)  # metaless shell, unreadable anyway
        if not fs.rename(tmp_p, canon):
            raise OSError(f"rebucket recovery rename {base}.rebucket_tmp -> "
                          f"{store_path} failed")
        fs.delete(old_p, True)
    else:
        # tmp incomplete — roll back to the pre-rebucket store
        if fs.exists(canon):
            fs.delete(canon, True)
        if not fs.rename(old_p, canon):
            raise OSError(f"rebucket recovery rename {base}.rebucket_old -> "
                          f"{store_path} failed")
        if fs.exists(tmp_p):
            fs.delete(tmp_p, True)
    return True


def rebucket_band_store(spark, store_path: str, n_pfx_new: int) -> None:
    """Split (or merge) the store's partition fan-out: rewrite both halves
    with a new ``n_pfx`` so per-dir bytes stay bounded as the corpus
    grows — run it from the maintenance window that owns the store
    (single writer; the swap is not atomic for concurrent readers,
    exactly like compaction on plain parquet).

    Crash safety: the fully-materialized tmp store swaps in via RENAMES
    only (canonical → ``.rebucket_old``, tmp → canonical, drop the old) —
    every crash point leaves a store recoverable at the canonical path,
    and :func:`_recover_rebucket` (run here and by the incremental
    reader's bootstrap probe) completes an interrupted swap instead of
    letting it read as an absent store.
    """
    _recover_rebucket(spark, store_path)
    meta = _store_meta(spark, store_path)
    if meta is None:
        raise ValueError(f"{store_path} has no band-store meta file")
    tmp = store_path.rstrip("/") + ".rebucket_tmp"
    # the tmp write fully materializes (meta LAST — it is the tmp's
    # completeness witness) before any rename touches the canonical path
    bands = _with_pfx(
        spark.read.parquet(f"{store_path}/bands").drop("pfx"), n_pfx_new
    )
    (
        bands.repartition("band", "pfx")
        .write.mode("overwrite")
        .partitionBy("band", "pfx")
        .parquet(f"{tmp}/bands")
    )
    old_sigs = spark.read.parquet(f"{store_path}/sigs").drop("spfx")
    idc = next(c for c in old_sigs.columns if c != "sigs")
    sig_rows = old_sigs.withColumn(
        "spfx", F.pmod(F.xxhash64(F.col(idc)), F.lit(n_pfx_new)).cast("int")
    )
    (
        sig_rows.repartition("spfx")
        .write.mode("overwrite")
        .partitionBy("spfx")
        .parquet(f"{tmp}/sigs")
    )
    # rebuild the dir registry for the new fan-out
    band_bits = {
        r["band"] * n_pfx_new + r["pfx"]
        for r in bands.select("band", "pfx").distinct().collect()
    }
    spfx_bits = {r["spfx"] for r in sig_rows.select("spfx").distinct().collect()}
    _write_store_meta(
        spark,
        tmp,
        {
            **meta,
            "n_pfx": int(n_pfx_new),
            "band_dirs": _bitmap_encode(band_bits, meta["n_bands"] * n_pfx_new),
            "spfx_dirs": _bitmap_encode(spfx_bits, n_pfx_new),
        },
    )
    # Swap via renames only (never delete-first): a crash between a
    # delete and a rename would leave NO store at the canonical path and
    # the next batch would silently bootstrap empty. Here every crash
    # point leaves old or new recoverable (see _recover_rebucket).
    fs, canon_p = _fs_path(spark, store_path)
    _, tmp_p = _fs_path(spark, tmp)
    _, old_p = _fs_path(spark, store_path.rstrip("/") + ".rebucket_old")
    if fs.exists(old_p):
        fs.delete(old_p, True)  # stale tail of a prior completed swap
    if not fs.rename(canon_p, old_p):
        raise OSError(f"rebucket rename {store_path} -> .rebucket_old failed")
    if not fs.rename(tmp_p, canon_p):
        raise OSError(f"rebucket rename {tmp} -> {store_path} failed")
    fs.delete(old_p, True)


def cross_split_overlap(
    docs: DataFrame,
    split_col: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    train_label: str = "train",
    test_label: str = "test",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Benchmark decontamination: train docs sharing word shingles with
    any test doc → (train_doc, n_shared_shingles, n_test_docs).

    Shape: explode shingles on both sides, equi-join on the shingle — a
    key-partitioned shuffle join, never corpus × corpus.

    ``max_shingle_df`` is the SKEW + NOISE control the 100 TB plan
    requires: a shingle appearing in more than that many distinct
    documents is a stop-phrase, not contamination evidence, and every
    occurrence pair crosses the join — the match count for one such
    shingle grows as (train df × test df), i.e. QUADRATICALLY in corpus
    growth that replicates content (measured: 10× replicated corpus →
    3.3× wall uncapped vs ~1× capped in stress.py). The cap costs one
    extra combine-shuffle census over the shingles and drops the heavy
    hitters before they fan out.
    """
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        split_col.alias("split"),
        F.explode(word_shingles(tokens(text_col), shingle_n)).alias("shingle"),
    )
    if max_shingle_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.countDistinct("doc_id").alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    train = sh.filter(F.col("split") == train_label).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    test = sh.filter(F.col("split") == test_label).select(
        F.col("doc_id").alias("test_doc"), "shingle"
    )
    return (
        train.join(test, "shingle")
        .groupBy("train_doc")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("test_doc").alias("n_test_docs"),
        )
        .orderBy("train_doc")
    )


# ---------------------------------------------------------------------------
# Exact duplicated-span detection/removal — the substring-granular member
# of the dedup family (document-level: exact_dedup/near-dup; line-level:
# remove_boilerplate_lines; THIS: token-span-level). The classic use is
# scrubbing verbatim-repeated passages (licenses, navigation chrome,
# quoted boilerplate) that survive document-level dedup because the
# containing documents differ.
# ---------------------------------------------------------------------------


def duplicated_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_gram_df: int | None = None,
    hash_key: bool = True,
) -> DataFrame:
    """Maximal token spans whose every k-gram also appears in >= min_docs
    distinct documents — exact (not fingerprint-approximate) repeated-
    passage detection at sub-document granularity.

    Returns ``(doc_id, span_start, span_end, n_tokens, n_grams)`` with
    0-based inclusive token positions; overlapping/adjacent duplicated
    k-grams merge into one maximal span (a span of j consecutive
    duplicated grams covers j + k - 1 tokens).

    Plan shape (all relational, no Python in the hot path):

    1. positioned k-grams via ``posexplode(word_ngrams(tokens))`` — the
       same JVM tokenizer/gram kernels the census/repetition family uses,
       now keeping the start position;
    2. the duplicated-gram census: ``groupBy(gram key) .. countDistinct``
       (map-side partial + one exchange). With ``hash_key`` (default) the
       census and the back-join key is ``xxhash64(gram)`` — 8 bytes
       instead of a k-token string through BOTH shuffles; a 64-bit
       collision (odds ~ n²/2⁶⁴) could at worst merge two grams' counts;
       pass ``hash_key=False`` for the exact-string key;
    3. ``max_gram_df`` drops stop-phrase grams (df above the cap) before
       the back-join — the same quadratic-blowup guard, measured on
       ``cross_split_overlap``, that x25 registers (uncapped: 3.2× wall
       at 10× replicated data);
    4. back-join duplicated keys onto the positioned grams (shuffle ∝
       duplicated occurrences), then per-doc island merge: a gram starts
       a new span iff its position is > k past the previous duplicated
       gram's position (same-length intervals ⇒ the running island
       window is one ``lag`` + running ``sum`` — no interval tree).

    At 100 TB the census is the dominant shuffle (|tokens| rows); k=8+
    makes grams near-unique so the duplicated set — and the back-join —
    stays small. The k-gram-level contract (vs suffix-array maximal
    substrings, e.g. Lee et al. 2022's exact-substring dedup) trades
    span tightness for a fully relational two-shuffle plan: any
    duplicated substring of >= k tokens is found, boundaries quantized
    to gram starts.
    """
    if k < 1:
        raise ValueError("k-gram size must be >= 1")
    from ..functions.text import word_ngrams

    g = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(word_ngrams(tokens(F.col(text_col)), k)).alias(
            "pos", "gram"
        ),
    )
    key = F.xxhash64("gram") if hash_key else F.col("gram")
    g = g.select("doc_id", "pos", key.alias("gkey"))
    census = g.groupBy("gkey").agg(F.countDistinct("doc_id").alias("_df"))
    dup = census.filter(F.col("_df") >= min_docs)
    if max_gram_df is not None:
        dup = dup.filter(F.col("_df") <= max_gram_df)
    hits = g.join(dup.select("gkey"), "gkey").select("doc_id", "pos")
    return _span_islands(hits, k)


def _span_islands(hits: DataFrame, k: int) -> DataFrame:
    """Merge duplicated k-gram start positions into maximal spans — the
    shared back half of :func:`duplicated_spans` and
    :func:`incremental_duplicated_spans`. Same-length intervals mean the
    running island boundary is one ``lag`` + running ``sum``."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        hits.withColumn(
            "_new",
            F.when(
                F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "_island",
            F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k - 1).alias("span_end"),
            F.count("*").cast("bigint").alias("n_grams"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("n_tokens"),
            "n_grams",
        )
        .orderBy("doc_id", "span_start")
    )


def mask_duplicated_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove every token covered by a duplicated span; emit the scrubbed
    token stream — (id, cleaned_text, n_tokens_kept, n_tokens_dropped).

    ``spans`` is :func:`duplicated_spans`'s output (or any
    ``(doc_id, span_start, span_end)`` frame). Docs with no span pass
    through with zero drops. Output text is the kept tokens joined by
    single spaces — the same tokens-stream convention the chunking/
    packing operators consume (original inter-token whitespace is not
    reconstructed; run this before, not after, formatting-sensitive
    stages).

    Plan: spans aggregate to one ``(doc_id, [[start, end], ...])`` row
    per doc (tiny ∝ |spans|), LEFT-join onto the corpus (one key-
    partitioned shuffle of span lists, never the corpus²), then one JVM
    pass filters each token array against its doc's span list
    (positions-zip + exists — interpreted HOFs, but per-doc-token cost
    with list sizes ∝ that doc's spans, and only span-carrying docs pay
    it via the null-fast branch).
    """
    span_lists = spans.groupBy(F.col("doc_id").alias("_sid")).agg(
        F.collect_list(F.array("span_start", "span_end")).alias("_spans")
    )
    tok = tokens(F.col(text_col))
    joined = docs.join(
        span_lists, docs[id_col] == span_lists["_sid"], "left"
    ).drop("_sid")
    # positions 0..n-1 zipped with tokens; a token is dropped iff some
    # span [s,e] contains its position
    pos = F.sequence(F.lit(0), F.greatest(F.size(tok) - 1, F.lit(0)))
    kept = F.when(F.col("_spans").isNull(), tok).otherwise(
        F.zip_with(
            tok,
            F.slice(pos, 1, F.size(tok)),
            lambda t, p: F.when(
                F.exists(
                    F.col("_spans"),
                    lambda s: (p >= s.getItem(0)) & (p <= s.getItem(1)),
                ),
                F.lit(None),
            ).otherwise(t),
        )
    )
    kept = F.filter(kept, lambda t: t.isNotNull())
    n_all = F.size(tok)
    return joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("cleaned_text"),
        F.size(kept).cast("bigint").alias("n_tokens_kept"),
        (n_all - F.size(kept)).cast("bigint").alias("n_tokens_dropped"),
    )


# ---------------------------------------------------------------------------
# Incremental duplicated-span dedup: a persisted gram-census store so each
# micro-batch is scrubbed against ALL history — the maintenance-store
# member of the span-dedup family (the band store's role, for grams).
# ---------------------------------------------------------------------------

GRAM_STORE_META = "_gram_store_meta.json"
GRAM_STORE_BLOOM = "_gram_store_bloom.bin"
BLOOM_DELTA_FILE = "_bloom_delta.bin"


def _gram_meta(spark, store_path: str) -> dict | None:
    import json

    txt = _read_text(spark, f"{store_path}/{GRAM_STORE_META}")
    return None if txt is None else json.loads(txt)


def _write_gram_meta(spark, store_path: str, meta: dict) -> None:
    """Atomic tmp+rename publish, written LAST — the meta is the append
    registry (same protocol as the vector-index appends): an append's
    data dir is invisible until its entry lands here."""
    import json

    _replace_text(spark, f"{store_path}/{GRAM_STORE_META}", json.dumps(meta))


def _read_bloom(spark, store_path: str, n_bits: int) -> np.ndarray:
    raw = _read_bytes(spark, f"{store_path}/{GRAM_STORE_BLOOM}")
    if raw is None:
        return np.zeros(n_bits // 8, dtype=np.uint8)
    return np.frombuffer(raw, dtype=np.uint8).copy()


def _read_bloom_delta(spark, store_path: str, append_id: str) -> np.ndarray:
    """The gkeys a registered L0 append added (its bloom delta). A
    registered append whose delta is missing raises: reading it as empty
    would drop its keys from the composite bloom."""
    path = f"{store_path}/appends/{append_id}/{BLOOM_DELTA_FILE}"
    raw = _read_bytes(spark, path)
    if raw is None:
        raise FileNotFoundError(f"bloom delta of registered append missing: {path}")
    return np.frombuffer(raw, dtype=np.int64).copy()


def _write_bloom_delta(
    spark, store_path: str, append_id: str, gkeys: np.ndarray
) -> None:
    """Per-batch bloom publish, O(batch): the batch's distinct gkeys land
    INSIDE its (still unregistered) append dir — orphan-invisible until
    the meta swap, like the data itself. A full-bloom rewrite per batch
    costs I/O ∝ store (measured: 0.34 s py4j write + 1.35 s numpy
    popcount on a 21 MB bloom at a 10× store — the round-8 w13 stress
    inflation); the delta is a few KB regardless of store size."""
    _write_in_place(
        spark,
        f"{store_path}/appends/{append_id}/{BLOOM_DELTA_FILE}",
        np.ascontiguousarray(gkeys, dtype=np.int64).tobytes(),
    )


def _load_bloom(spark, store_path: str, meta: dict) -> np.ndarray:
    """Composite bloom: the materialized base file OR'd with every
    registered append's delta keys. Cold-start cost is base + K tiny
    delta files (K = appends since the last compaction — bounded by the
    maintenance cadence); steady state hits the in-process cache."""
    bloom = _read_bloom(spark, store_path, meta["bloom_bits"])
    for a in meta["appends"]:
        if not a.get("bloom_delta"):
            continue
        keys = _read_bloom_delta(spark, store_path, a["id"])
        if len(keys):
            pos = _bloom_positions(keys, meta["bloom_bits"], meta["bloom_hashes"])
            np.bitwise_or.at(
                bloom, (pos // 8).ravel(),
                (np.uint8(1) << (pos % 8).astype(np.uint8)).ravel(),
            )
    return bloom


#: byte -> popcount lookup (numpy < 2 lacks bitwise_count; unpackbits on a
#: 21 MB bloom measured 1.35 s/batch — bincount @ table is a single O(n)
#: pass, ~50 ms)
_POPCOUNT_TABLE = np.array(
    [bin(i).count("1") for i in range(256)], dtype=np.int64
)


def _popcount(arr: np.ndarray) -> int:
    if hasattr(np, "bitwise_count"):
        return int(np.bitwise_count(arr).sum())
    return int(np.bincount(arr, minlength=256) @ _POPCOUNT_TABLE)


def _write_bloom(spark, store_path: str, arr: np.ndarray) -> None:
    _replace_text(spark, f"{store_path}/{GRAM_STORE_BLOOM}", arr.tobytes())


#: odd 64-bit mix constant (splitmix64's golden-gamma) for double hashing
_BLOOM_GAMMA = 0x9E3779B97F4A7C15

#: In-process bloom cache {store_path: (n_appends_when_cached, bloom)} —
#: valid under the single-maintainer contract; a mismatched append count
#: (foreign append or compaction) forces a disk reload.
_BLOOM_CACHE: dict[str, tuple[int, "np.ndarray"]] = {}

#: In-process read-plan cache {(spark_app_id, append_uuid): DataFrame}.
#: Append dirs are IMMUTABLE once registered (uuid-named, never rewritten
#: — compaction orphans them, it never edits them), so the listed
#: FileIndex can be reused across batches: building a fresh
#: spark.read.parquet over a 640-bucket base costs ~0.8 s of driver-side
#: listing PER BATCH (measured at the 10× stress store); a gpfx
#: partition FILTER over the cached plan prunes the same files for free.
#: Keyed by (app_id, store_path, append_id): the store path must be part
#: of the key so compacting ONE store evicts only ITS retired plans, not
#: every store's in the same app (round-9 advice — perf, not
#: correctness: append ids are uuids, so cross-store collisions can't
#: alias).
_APPEND_READ_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _append_df(spark, store_path: str, append_id: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, store_path, append_id)
    df = _APPEND_READ_CACHE.get(key)
    if df is None:
        df = spark.read.option("basePath", f"{store_path}/appends/{append_id}").parquet(
            f"{store_path}/appends/{append_id}"
        )
        _APPEND_READ_CACHE[key] = df
    return df


def _bloom_positions(gkeys: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    """Bit positions (shape |keys| × n_hashes) via Kirsch-Mitzenmacher
    double hashing over the already-xxhash64'd gram keys: pos_i =
    (h1 + i·h2) mod n_bits with h2 odd (full-period stepping)."""
    u = gkeys.astype(np.uint64)
    h1 = u ^ (u >> np.uint64(33))
    h2 = (u * np.uint64(_BLOOM_GAMMA)) | np.uint64(1)
    i = np.arange(n_hashes, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(n_bits)).astype(np.int64)


def _bloom_maybe_contains(
    bloom: np.ndarray, gkeys: np.ndarray, n_bits: int, n_hashes: int
) -> np.ndarray:
    pos = _bloom_positions(gkeys, n_bits, n_hashes)
    bits = (bloom[pos // 8] >> (pos % 8).astype(np.uint8)) & 1
    return bits.all(axis=1)


def incremental_duplicated_spans(
    spark,
    store_path: str,
    batch: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    max_gram_df: int | None = None,
    n_pfx: int = 64,
    bloom_bits: int = 1 << 22,
    bloom_hashes: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int | None = None,
) -> DataFrame:
    """Duplicated spans of ``batch`` against ALL history + itself, then
    fold the batch's gram census into the persisted store — the
    incremental/streaming form of :func:`duplicated_spans`, exactly equal
    to the one-shot run over every document seen so far RESTRICTED to the
    batch's docs (prefix-replay equality, test-pinned): a span flags when
    batch-internal df + historical df reaches ``min_docs``.

    Store design (the scrub-as-you-ingest contract: early docs keep
    their text, later verbatim repeats get flagged):

    * LSM layout: each batch appends its ``(gkey, df)`` partial census
      as ONE unbucketed file under ``<store>/appends/<uuid>`` (an L0 run
      — gram keys are uniform, so a per-batch ``partitionBy(gpfx)``
      would write n_pfx dirs per batch: measured 5.6× per-batch wall at
      n_pfx=640 before this layout); readers scan L0 runs fully (they
      are batch-sized by construction) and SUM partials per gkey.
      ``compact_gram_store`` merges the L0 runs into the gpfx-BUCKETED
      base on the maintenance cadence — that is where the n_pfx dirs are
      paid, and where reads prune to the candidate keys' buckets.
      Appends are REGISTERED in the meta (published LAST, atomic), the
      vector-index appends protocol: a crashed append leaves an orphaned
      dir no reader resolves, so replays are exactly-once without marker
      files;
    * **driver bloom filter** (Kirsch-Mitzenmacher double hashing over
      the xxhash64 gram keys) is the negative-lookup fast path: gram
      keys are UNIFORM, so bucket pruning alone cannot help a batch that
      touches every gpfx — but natural-text batches are mostly NEW
      grams, and the bloom proves absence driver-side before any store
      read. Only bloom-positive keys' buckets are read and joined. False
      positives cost extra reads, never correctness (the join settles
      the truth). **Per-batch bloom I/O is ∝ batch, not store**: each
      fold publishes only its gkeys as a DELTA file inside the append
      dir (a few KB; a full-bitmap rewrite measured 1.7 s/batch at a 10×
      store), the running popcount updates incrementally in the meta,
      and compaction materializes base ∪ deltas into the bitmap file —
      the one ∝-store bloom pass per maintenance window. False negatives
      cannot happen: a delta is orphan-invisible until the SAME meta
      swap that registers its data (bloom ⊇ registered store keys at
      every crash point). Default 2²² bits ≈ 512 KB ≈ 1 % fp at ~4·10⁵
      grams; size ~n_grams·10 bits;
    * the per-batch driver traffic is bounded by the batch: one collect
      of its distinct gram keys (the bloom test + insert set) — the same
      bound class as the band store's prune-key collects;
    * ``compact_gram_store`` merges appends (sum partials per gkey) into
      a fresh base registered in ONE meta swap — dir count and
      partial-row amplification stay bounded.

    Contract: doc ids are NEW per batch (same as every append family
    here); ``min_docs``/``max_gram_df`` are query-time knobs, ``k``/
    ``n_pfx``/bloom geometry are store parameters (drift rejects).
    Hash-keyed only (the store keys ARE xxhash64 values).

    **Exactly-once under foreachBatch replay**: pass the streaming
    ``batch_id``. Each fold records it on its append entry; a replayed
    batch (``batch_id`` already registered — a crash AFTER the fold
    published but BEFORE the streaming checkpoint committed) skips the
    fold entirely and re-emits the SAME deterministic flags by reading
    history WITHOUT its own prior append — so the census never
    double-counts and prefix-replay exactness survives any crash point.
    Without a ``batch_id`` (ad-hoc batch use) the caller owns replay
    protection.
    """
    import uuid as _uuid

    from ..functions.text import word_ngrams

    meta = _gram_meta(spark, store_path)
    if meta is None:
        # A missing meta over a NON-empty store means a crashed meta
        # publish (the overwrite rename's delete-then-rename fallback) —
        # treating it as a fresh store would silently orphan all history
        # (the bloom still answers 'maybe' but appends=[] skips every
        # store read). Fail-stop, same as rollup._read_marker_state /
        # load_pq_index.
        fs, bloom_p = _fs_path(spark, f"{store_path}/{GRAM_STORE_BLOOM}")
        _, appends_p = _fs_path(spark, f"{store_path}/appends")
        if fs.exists(bloom_p) or fs.exists(appends_p):
            raise ValueError(
                f"gram store {store_path} has data (bloom/appends present) "
                "but no meta — a meta publish crashed mid-swap; restore "
                f"{GRAM_STORE_META} from the registry backup or rebuild "
                "the store rather than silently orphaning its history"
            )
        meta = {
            "kind": "gram-census",
            "k": int(k),
            "n_pfx": int(n_pfx),
            "bloom_bits": int(bloom_bits),
            "bloom_hashes": int(bloom_hashes),
            "appends": [],
        }
        _write_gram_meta(spark, store_path, meta)
    else:
        drift = {
            name: (meta.get(name), val)
            for name, val in (
                ("k", k), ("n_pfx", n_pfx), ("bloom_bits", bloom_bits),
                ("bloom_hashes", bloom_hashes),
            )
            if meta.get(name) != val
        }
        if drift:
            raise ValueError(
                f"gram store {store_path} was built with "
                f"{ {n: m for n, (m, _) in drift.items()} } but this caller "
                f"runs { {n: w for n, (_, w) in drift.items()} }; store "
                "parameters are part of the artifact"
            )
    seen_appends = [a["id"] for a in meta["appends"]]

    # Replay detection (batch-id high-water mark, carried on the append
    # entries themselves so it publishes in the SAME atomic meta swap):
    # a batch_id already registered means the fold landed but the
    # streaming checkpoint didn't — re-emit flags from history MINUS the
    # batch's own prior append(s), and do not fold again.
    folded_ids = [
        a.get("batch_id") for a in meta["appends"] if a.get("batch_id") is not None
    ]
    is_replay = batch_id is not None and batch_id in folded_ids
    if batch_id is not None and not is_replay:
        hwm = max(
            folded_ids
            + ([meta["last_batch_id"]] if meta.get("last_batch_id") is not None else []),
            default=None,
        )
        if hwm is not None and batch_id <= hwm:
            raise ValueError(
                f"gram store {store_path} has folded batch_id up to {hwm} "
                f"but batch {batch_id}'s own L0 append is no longer "
                "registered (compacted into the base?); exact re-emission "
                "is impossible — run compact_gram_store only while the "
                "stream is quiesced (checkpoint committed)"
            )
    read_appends = (
        [a for a in meta["appends"] if a.get("batch_id") != batch_id]
        if is_replay
        else meta["appends"]
    )

    g = (
        batch.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(word_ngrams(tokens(F.col(text_col)), k)).alias(
                "pos", "gram"
            ),
        )
        .select("doc_id", "pos", F.xxhash64("gram").alias("gkey"))
        .localCheckpoint()  # consumed by census, hits join
    )
    bc = (
        g.groupBy("gkey")
        .agg(F.countDistinct("doc_id").alias("df"))
        .localCheckpoint()  # consumed by lookup, dup calc, append
    )

    # --- driver-side bloom screen over the batch's distinct gram keys.
    # The bloom is CACHED in-process keyed by append count: the
    # single-maintainer contract means this driver is the only mutator,
    # and a 20 MB bloom round-trips the py4j stream at ~1.8 s per batch
    # (measured) — the cache pays it once. A foreign append/compaction
    # changes the append count and forces a reload.
    batch_keys = np.array(
        [r["gkey"] for r in bc.select("gkey").collect()], dtype=np.int64
    )
    cached = _BLOOM_CACHE.get(store_path)
    if cached is not None and cached[0] == len(meta["appends"]):
        bloom = cached[1]
    else:
        bloom = _load_bloom(spark, store_path, meta)
    if len(batch_keys) and read_appends:
        pos_mask = _bloom_maybe_contains(
            bloom, batch_keys, meta["bloom_bits"], meta["bloom_hashes"]
        )
        candidate_keys = batch_keys[pos_mask]
    else:
        candidate_keys = np.array([], dtype=np.int64)

    # --- store read: bucketed (compacted) appends prune to the
    # candidate keys' gpfx dirs; L0 runs are read whole (batch-sized)
    if len(candidate_keys):
        buckets = sorted(set(int(b) for b in candidate_keys % n_pfx))
        parts = []
        for a in read_appends:
            if a.get("l0"):
                parts.append(
                    _append_df(spark, store_path, a["id"]).select("gkey", "df")
                )
                continue
            hit = [b for b in buckets if b in set(a["gpfx_present"])]
            if hit:
                # partition filter over the cached plan: same file set as
                # explicit dirs (PartitionFilters prune at query planning)
                # without re-listing the n_pfx-dir base every batch
                parts.append(
                    _append_df(spark, store_path, a["id"])
                    .filter(F.col("gpfx").isin(hit))
                    .select("gkey", "df")
                )
        if parts:
            store_rows = parts[0]
            for p in parts[1:]:
                store_rows = store_rows.unionByName(p)
            cand_df = spark.createDataFrame(
                [(int(x),) for x in candidate_keys], "gkey long"
            )
            hist = (
                store_rows.join(F.broadcast(cand_df), "gkey")
                .groupBy("gkey")
                .agg(F.sum("df").alias("df_hist"))
            )
        else:
            hist = None
    else:
        hist = None

    total = bc.withColumnRenamed("df", "df_batch")
    if hist is not None:
        total = total.join(hist, "gkey", "left").withColumn(
            "df_tot", F.col("df_batch") + F.coalesce(F.col("df_hist"), F.lit(0))
        )
    else:
        total = total.withColumn("df_tot", F.col("df_batch"))
    dup = total.filter(F.col("df_tot") >= min_docs)
    if max_gram_df is not None:
        dup = dup.filter(F.col("df_tot") <= max_gram_df)
    spans = _span_islands(
        g.join(dup.select("gkey"), "gkey").select("doc_id", "pos"), k
    ).localCheckpoint()  # flags are computed BEFORE the store grows

    if is_replay:
        # The fold already published; flags above were computed against
        # history minus the batch's own prior append — identical to the
        # original emission. Nothing to write.
        return spans

    # --- fold the batch census in: data -> registry check -> bloom ->
    # meta (in that order). L0 write: ONE file, no bucketing — per-batch
    # append cost is O(batch) regardless of n_pfx (compaction buckets
    # later). The registry check runs BEFORE the bloom write so a
    # concurrent append's freshly-set bits are never clobbered by this
    # writer's stale in-process copy (bloom bits are add-only, so a race
    # landing between check and write still leaves a superset).
    append_id = _uuid.uuid4().hex
    root = f"{store_path}/appends/{append_id}"
    bc.coalesce(1).write.mode("errorifexists").parquet(root)
    current = _gram_meta(spark, store_path)
    if current is None or [a["id"] for a in current["appends"]] != seen_appends:
        raise ValueError(
            f"concurrent append detected on gram store {store_path}; this "
            f"writer's data ({append_id}) is orphaned and invisible — retry"
        )
    bloom_fill = None
    new_popcount = None
    if len(batch_keys):
        # Per-batch bloom publish is the DELTA (this batch's gkeys, a few
        # KB inside the append dir) — never the full bitmap, whose write
        # + popcount cost I/O ∝ store (measured 1.7 s/batch at a 10×
        # store / 21 MB bloom). The in-memory copy still ORs the bits so
        # this process's next batch screens against them; compaction
        # materializes the composite into the base file.
        pos = _bloom_positions(batch_keys, meta["bloom_bits"], meta["bloom_hashes"])
        # popcount rides the meta and updates INCREMENTALLY (count the
        # 0→1 flips among this batch's distinct bit positions, BEFORE
        # setting them): a full popcount is another ∝-store pass
        # (measured 0.76 s/batch on the 21 MB bloom even via the bincount
        # table). Legacy metas without the field pay one full count.
        u = np.unique(pos.ravel())
        was_set = (bloom[u // 8] >> (u % 8).astype(np.uint8)) & 1
        base_pop = current.get("bloom_popcount")
        if base_pop is None:
            base_pop = _popcount(bloom)
        new_popcount = int(base_pop) + int((was_set == 0).sum())
        np.bitwise_or.at(
            bloom, (pos // 8).ravel(),
            (np.uint8(1) << (pos % 8).astype(np.uint8)).ravel(),
        )
        _write_bloom_delta(spark, store_path, append_id, batch_keys)
        # fill ratio is the bloom's health metric: at 0.5 the fp rate is
        # ~(1/2)^hashes and the negative-lookup fast path is eroding; a
        # SATURATED bloom answers 'maybe' for everything and every batch
        # degrades to a full candidate-bucket read (measured: the
        # undersized 2^22 default hit 3.4x per-batch wall at a 10x store
        # before this guard) — rebuild the store with bloom_bits ≈ 10x
        # the expected distinct grams, or shard the bloom per gpfx
        bloom_fill = round(new_popcount / meta["bloom_bits"], 4)
        if bloom_fill > 0.5:
            import warnings

            warnings.warn(
                f"gram store {store_path} bloom is {bloom_fill:.0%} full — "
                "false positives now force store reads for most batch "
                "grams; rebuild with larger bloom_bits (≈10 bits per "
                "expected distinct gram)",
                RuntimeWarning,
                stacklevel=2,
            )

    # Registry re-check IMMEDIATELY before the swap: _write_gram_meta is
    # last-writer-wins, so a concurrent fold landing between the earlier
    # check and here (bloom positions, delta write, popcount all sit in
    # that window) would be silently orphaned by our swap. The window
    # between this read and the swap is as small as the protocol allows;
    # the earlier check stays so we fail before paying the bloom work.
    latest = _gram_meta(spark, store_path)
    if latest is None or [a["id"] for a in latest["appends"]] != seen_appends:
        raise ValueError(
            f"concurrent append detected on gram store {store_path}; this "
            f"writer's data ({append_id}) is orphaned and invisible — retry"
        )
    entry: dict = {"id": append_id, "l0": True}
    if len(batch_keys):
        entry["bloom_delta"] = True
    if batch_id is not None:
        entry["batch_id"] = int(batch_id)
    new_meta = {
        **latest,
        "appends": latest["appends"] + [entry],
    }
    if bloom_fill is not None:
        new_meta["bloom_fill"] = bloom_fill
        new_meta["bloom_popcount"] = new_popcount
    _write_gram_meta(spark, store_path, new_meta)
    _BLOOM_CACHE[store_path] = (len(new_meta["appends"]), bloom)
    return spans


def compact_gram_store(spark, store_path: str) -> None:
    """Merge every registered append — unbucketed L0 batch runs AND any
    previous compacted base — into ONE gpfx-BUCKETED append (partials
    summed per gkey) and republish the registry in a single meta swap.
    This is the LSM compaction: the n_pfx partitioned write is paid HERE
    on the maintenance cadence, never per batch, and afterwards lookups
    prune the whole store to the candidate keys' buckets. Old append
    dirs become orphans (invisible immediately; reclaim with any
    directory sweep). The composite bloom (base file ∪ per-append key
    deltas) is MATERIALIZED here — the one full-bitmap write per
    maintenance window; batches only ever publish their own key deltas.
    Compaction removes no keys. Crash-safe at every point: the compacted
    dir is invisible until the meta swap, the bloom base is written
    BEFORE the swap retires the delta entries (bloom ⊇ registered keys
    at every crash point — a crash between leaves the base a superset
    beside still-registered deltas, harmless), and the swap either
    happens or doesn't."""
    import uuid as _uuid

    meta = _gram_meta(spark, store_path)
    if meta is None:
        raise ValueError(f"{store_path} has no gram-store meta")
    appends = meta["appends"]
    if len(appends) <= 1 and not any(a.get("l0") for a in appends):
        return  # already a single bucketed base
    seen_appends = [a["id"] for a in appends]
    parts = [
        spark.read.parquet(f"{store_path}/appends/{a['id']}").select("gkey", "df")
        for a in appends
    ]
    allrows = parts[0]
    for p in parts[1:]:
        allrows = allrows.unionByName(p)
    merged = (
        allrows.groupBy("gkey")
        .agg(F.sum("df").alias("df"))
        .withColumn("gpfx", F.pmod("gkey", F.lit(meta["n_pfx"])).cast("int"))
    )
    new_id = _uuid.uuid4().hex
    (
        merged.repartition("gpfx")
        .write.mode("errorifexists")
        .partitionBy("gpfx")
        .parquet(f"{store_path}/appends/{new_id}")
    )
    gpfx_present = sorted(
        r["gpfx"] for r in merged.select("gpfx").distinct().collect()
    )
    current = _gram_meta(spark, store_path)
    if current is None or [a["id"] for a in current["appends"]] != seen_appends:
        raise ValueError(
            f"concurrent maintenance detected on gram store {store_path}; "
            "compaction abandoned (its output dir is orphaned)"
        )
    # Materialize the composite bloom into the base file BEFORE the meta
    # swap retires the per-append delta entries (superset invariant holds
    # on a crash between the two writes). Re-anchor the running popcount
    # from the materialized bitmap here — the one ∝-store count per
    # maintenance window.
    bloom_popcount = current.get("bloom_popcount")
    if any(a.get("bloom_delta") for a in appends):
        full = _load_bloom(spark, store_path, current)
        _write_bloom(spark, store_path, full)
        bloom_popcount = _popcount(full)
    # The per-append batch_id replay marks vanish with the L0 runs; the
    # high-water mark survives at the meta level so a post-compaction
    # replay of an already-folded batch fail-stops instead of silently
    # double-counting (incremental_duplicated_spans checks both).
    hwm = [
        a["batch_id"] for a in appends if a.get("batch_id") is not None
    ] + ([current["last_batch_id"]] if current.get("last_batch_id") is not None else [])
    new_meta = {
        **current,
        "appends": [{"id": new_id, "gpfx_present": gpfx_present}],
    }
    if hwm:
        new_meta["last_batch_id"] = max(hwm)
    if bloom_popcount is not None:
        new_meta["bloom_popcount"] = int(bloom_popcount)
    _write_gram_meta(spark, store_path, new_meta)
    # retired append dirs are orphans — drop their cached read plans
    # (this store's only: the key carries store_path)
    app = spark.sparkContext.applicationId
    for key in [
        k
        for k in _APPEND_READ_CACHE
        if k[0] == app and k[1] == store_path and k[2] != new_id
    ]:
        del _APPEND_READ_CACHE[key]
