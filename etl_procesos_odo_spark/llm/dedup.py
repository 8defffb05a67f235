"""Deduplication operators for training-data pipelines: exact hash dedup,
word-shingle n-gram Jaccard, MinHash + banded LSH, SimHash.

Scale design
------------
- **Exact**: md5 of normalized text, groupBy hash — one shuffle keyed by
  the digest, keep-lowest-id representative. At 100 TB the digest groupBy
  is the only wide dependency and AQE sizes it.
- **MinHash+LSH**: signatures are per-row expressions (no shuffle); the
  candidate join shuffles only (band_idx, band_hash) keys — each bucket is
  tiny by construction, so the self-join is skew-safe; exact Jaccard runs
  only on candidate pairs (the classic shingle→minhash→band→bucket-join
  pipeline).
- **SimHash**: 60-bit signature per doc via one explode+groupBy; near-dup
  pairs by Hamming distance on the signatures.

All hashes derive from md5 (identical in Spark and DuckDB), so every stage
is oracle-checkable bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import materialize
from ..session import spread_small_input as _spread
from .text_analysis import tokens

HASH_HEX_CHARS = 15  # 60-bit positive ints in both engines


def hash60(c: Column) -> Column:
    """First 15 hex chars of md5 as a positive 60-bit bigint — the shared
    Spark/DuckDB hash primitive (`conv` here, `CAST('0x'… AS BIGINT)` there)."""
    return F.conv(F.substring(F.md5(c), 1, HASH_HEX_CHARS), 16, 10).cast("long")


def _grams(col: Column | str, k: int, distinct: bool) -> Column:
    """Word k-grams of a text column (array<string>), distinct or with
    multiplicity — the one builder under :func:`shingles` and
    :func:`ngrams_all`.

    Guarded for short texts: Spark's ``sequence(0, stop)`` generates a
    *descending* array when stop < 0, so size < k must short-circuit to an
    empty array rather than rely on an empty sequence.
    """
    c = F.col(col) if isinstance(col, str) else col
    w = tokens(c)
    # k-1 chained zip_with passes over shifted slices build every k-gram
    # in one array traversal; the transform(sequence, slice) form's
    # per-index lookups fall out of codegen (the q124/q73 finding —
    # measured 3.6x on the gram build, and shingles feeds every
    # MinHash/LSH path)
    n = F.greatest(F.size(w) - (k - 1), F.lit(0))
    grams = F.slice(w, 1, n)
    for i in range(1, k):
        grams = F.zip_with(
            grams, F.slice(w, i + 1, n), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(
        F.size(w) >= k, F.array_distinct(grams) if distinct else grams
    ).otherwise(F.array().cast("array<string>"))


def shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct word k-gram shingles of a text column (array<string>)."""
    return _grams(col, k, distinct=True)


def ngrams_all(col: Column | str, k: int = 3) -> Column:
    """Word k-grams WITH multiplicity (no array_distinct) — the gram
    stream for occurrence-level duplication stats."""
    return _grams(col, k, distinct=False)


def _digest(text_col: str, norm: bool = True) -> Column:
    """md5 of the text, whitespace-collapsed, trimmed and lowercased
    unless ``norm`` is False: the exact-duplicate key (the oracle spells
    it ``md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))``)."""
    c = F.col(text_col)
    if norm:
        c = F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))
    return F.md5(c)


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, norm: bool = True
) -> DataFrame:
    """Exact dedup: one representative (lowest id) per distinct text digest.
    Returns (digest, keep_id, n_copies)."""
    return (
        df.select(_digest(text_col, norm).alias("digest"), F.col(id_col).alias("_id"))
        .groupBy("digest")
        .agg(F.min("_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


# Affine MinHash permutation family over the Mersenne prime 2^31-1:
# one md5 base hash per shingle, then num_hashes cheap (a*h + b) % P maps —
# 12× fewer digest computations than hashing per seed. Constants are fixed
# odd multipliers/offsets; the oracle SQL embeds the same numbers.
MINHASH_P = (1 << 31) - 1


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    return [(2 * i + 3, 7919 * (i + 1)) for i in range(num_hashes)]


def base_hashes(shingle_col: str) -> Column:
    """Per-shingle 60-bit md5 hash mod the Mersenne prime — computed ONCE
    per row and materialized as a column, so the per-seed permutations
    below never re-digest (Catalyst does not reliably CSE a repeated
    subexpression across 12 aggregates).

    Takes the column NAME and builds one ``F.expr``, parsed JVM-side in
    one call: a python-lambda ``transform`` costs dozens of py4j
    round-trips to build, and the signature/band builders stack ~50 of
    them — ~1 s of pure driver latency per pipeline (measured on q102:
    4.7k round-trips, 1.4 s socket wait)."""
    return F.expr(
        f"transform({shingle_col}, s -> CAST(conv(substring(md5(s), 1, "
        f"{HASH_HEX_CHARS}), 16, 10) AS BIGINT) % {MINHASH_P})"
    )


def minhash_signature(base_col: str, num_hashes: int = 12) -> list[Column]:
    """MinHash signature from a pre-hashed shingle array column
    (``base_hashes``): for each seed i, min over (a_i * h + b_i) % P, one
    ``F.expr`` per seed. Null when empty."""
    return [
        F.expr(
            f"array_min(transform({base_col}, "
            f"h -> (h * {a} + {b}) % {MINHASH_P}))"
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]


def lsh_bands(
    df: DataFrame, id_col: str, num_hashes: int = 12, bands: int = 4
) -> DataFrame:
    """Explode a MinHash-signed frame into (id, band_idx, band_hash) rows.
    ``df`` must carry mh0..mh{n-1} columns. rows_per_band = n // bands."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands "
            f"({bands}) — a remainder would silently drop signature rows "
            "and weaken the banding guarantee"
        )
    rows_per = num_hashes // bands
    # one F.expr for the whole array-of-structs: the per-column builder
    # form costs hundreds of py4j round-trips (see base_hashes)
    band_structs = F.expr(
        "array("
        + ", ".join(
            f"named_struct('band_idx', {b}, 'band_hash', "
            "md5(concat_ws(',', "
            + ", ".join(
                f"CAST(mh{b * rows_per + r} AS STRING)"
                for r in range(rows_per)
            )
            + ")))"
            for b in range(bands)
        )
        + ")"
    )
    return df.select(
        F.col(id_col), F.explode(band_structs).alias("b")
    ).select(id_col, "b.band_idx", "b.band_hash")


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two distinct-element arrays — a single
    deterministic division over integer set sizes."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


def _shingle_frame(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(_id, _sh) rows of every document with at least one shingle.

    Materialised, because the frame feeds signing AND both sides of the
    verify join, so tokenize+shingle runs once, not three times. The
    empty-shingle filter goes ABOVE the barrier: a filter on the
    projection itself gets predicate-pushed below the _spread exchange,
    re-evaluating the whole shingle expression single-threaded in the
    scan task (measured 2.5 s of q47's 6 s at sf0.1)."""
    return materialize(
        _spread(df).select(
            F.col(id_col).alias("_id"), shingles(F.col(text_col), k).alias("_sh")
        )
    ).filter(F.size("_sh") > 0)


def _band_rows(sh: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """The signer: (_id, _sh) shingle rows -> base hashes -> MinHash
    signature -> (_id, band_idx, band_hash) band rows."""
    signed = sh.withColumn("_base", base_hashes("_sh")).select(
        "_id", *minhash_signature("_base", num_hashes)
    )
    return lsh_bands(signed, "_id", num_hashes, bands)


def _bucket_pairs(
    x: DataFrame, y: DataFrame, pair: Column | None, out: list[Column]
) -> DataFrame:
    """Distinct ``out`` rows over the band rows of ``x`` and ``y`` (aliased
    "x" and "y") that share a (band_idx, band_hash) bucket and satisfy
    ``pair``. Only the bucket keys shuffle, and each bucket is small by
    construction, so the join is skew-safe."""
    on = [F.col(f"x.{c}") == F.col(f"y.{c}") for c in ("band_idx", "band_hash")]
    if pair is not None:
        on.append(pair)
    return x.alias("x").join(y.alias("y"), on=on).select(*out).distinct()


def _lsh_join(
    xs: DataFrame,
    ys: DataFrame,
    ids: tuple[str, str],
    out: str,
    num_hashes: int,
    bands: int,
    pair: Column | None = None,
    threshold: float | None = None,
    y_cap: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard, for two (_id, _sh)
    shingle frames: (a, b, out) for every x/y pair that shares a band
    bucket and satisfies ``pair`` (over ``x._id``/``y._id``), ``out`` the
    exact Jaccard, kept at ``>= threshold`` when one is given. ``y_cap``
    keeps only the lowest ids per y-side bucket (:func:`band_min_k`).

    The band frames are NOT checkpointed (r13, measured): the two sides
    of a self-join are identical subtrees, so ReuseExchange computes the
    sign+band exchange once; a checkpoint barrier there only added
    RDD-copy cost and regressed the whole LSH family at sf0.1 (subset
    A/B +13.7 s: q64 +3.1, q108 +1.9, q47 +1.3)."""
    a, b = ids
    xb = _band_rows(xs, num_hashes, bands)
    yb = xb if ys is xs else _band_rows(ys, num_hashes, bands)
    if y_cap is not None:
        yb = band_min_k(yb, y_cap)
    cand = _bucket_pairs(
        xb, yb, pair, [F.col("x._id").alias(a), F.col("y._id").alias(b)]
    )
    scored = (
        cand.join(xs.select(F.col("_id").alias(a), F.col("_sh").alias("_sa")), a)
        .join(ys.select(F.col("_id").alias(b), F.col("_sh").alias("_sb")), b)
        .select(a, b, jaccard(F.col("_sa"), F.col("_sb")).alias(out))
    )
    return scored if threshold is None else scored.filter(F.col(out) >= threshold)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band → bucket
    self-join → exact-Jaccard verify ≥ threshold.
    Returns (id_a, id_b, jaccard_sim), id_a < id_b, one row per pair."""
    sh = _shingle_frame(df, text_col, id_col, k)
    return _lsh_join(
        sh, sh, ("id_a", "id_b"), "jaccard_sim", num_hashes, bands,
        pair=F.col("x._id") < F.col("y._id"), threshold=threshold,
    )


def minhash_lsh_pairs_collapsed(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-dedup-first MinHash-LSH (the SCALE.md composition guard,
    now encoded as an operator): collapse exact duplicates to one
    representative per normalized-text digest BEFORE shingling, so a
    massive exact-dup cluster contributes ONE row per band bucket instead
    of n — without this, a 10⁶-copy boilerplate document turns its band
    buckets into 10⁶-row hot keys and the bucket self-join into a 10¹²-pair
    explosion. Near-dup pair weights are multiplied back:
    ``n_pairs = |group_a| × |group_b|`` underlying document pairs.

    Returns (id_a, id_b, jaccard_sim, n_pairs); ids are each exact-group's
    lowest doc id. Composition: exact digest groupBy (uniform keys, one
    shuffle) → the q32 LSH pipeline over representatives only.
    """
    # reps feeds the LSH input AND both weight sides (sa, sb) — column
    # pruning gives each consumer a DIFFERENT aggregate list, so
    # ReuseExchange cannot dedup them and the corpus digest groupBy ran
    # three times (r13: 9 parquet scans in q67's plan, 0 reuse). One
    # lazy checkpoint = one scan + one digest shuffle.
    reps = materialize(
        df.groupBy(_digest(text_col).alias("_digest")).agg(
            F.min(id_col).alias(id_col),
            # representative's raw text (min-id row) — deterministic, and
            # both engines shingle the same raw string
            F.min_by(text_col, id_col).alias(text_col),
            F.count("*").alias("_n_docs"),
        )
    )
    pairs = minhash_lsh_pairs(
        reps.select(id_col, text_col), text_col, id_col,
        k=k, num_hashes=num_hashes, bands=bands, threshold=threshold,
    )
    sa = reps.select(F.col(id_col).alias("id_a"), F.col("_n_docs").alias("_na"))
    sb = reps.select(F.col(id_col).alias("id_b"), F.col("_n_docs").alias("_nb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard_sim",
            (F.col("_na") * F.col("_nb")).alias("n_pairs"),
        )
    )


def dedup_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    max_iter: int = 20,
) -> DataFrame:
    """Near-dup clusters: connected components over the MinHash-LSH pair
    graph, labeled by the minimum doc id in each component. Docs with no
    near-dup (or no shingles) are singleton clusters of themselves.
    Returns (doc_id, cluster_id); rows where doc_id == cluster_id are the
    cluster representatives to keep.

    Iterative min-label propagation: each node starts labeled with its own
    id; every round takes min(label, neighbors' labels) until a fixpoint
    (min reachable id — O(component diameter) rounds; near-dup components
    are dense, so diameter is small). Per-round ``session.materialize``
    truncates lineage so plans stay flat. At 100 TB the same loop holds —
    only (node, label) pairs for nodes *in the pair graph* shuffle each
    round (typically ≪ corpus size); the 2-hop large-star/small-star
    variant is the upgrade path if diameters ever get long.
    """
    # pairs feeds BOTH arms of the edges union — un-checkpointed, the
    # whole candidate+verify join chain ran twice inside the eager edges
    # materialization (r13; the shingle barrier only covers the leaves).
    # The pair set is tiny (near-dup pairs), so the lazy barrier costs
    # nothing and halves the LSH verify work.
    pairs = materialize(minhash_lsh_pairs(
        df, text_col, id_col, k=k, num_hashes=num_hashes, bands=bands,
        threshold=threshold,
    ))
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .union(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .transform(materialize, eager=True)
    )
    lab = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .transform(materialize, eager=True)
    )
    # labels are monotone non-increasing per node, so the scalar label sum
    # strictly decreases iff any label changed — one cheap aggregate over
    # the checkpointed frame per round instead of an old-vs-new join
    _dsum = F.sum(F.col("cluster_id").cast("decimal(38,0)"))  # overflow-proof
    lab_sum = lab.agg(_dsum).collect()[0][0]
    for _ in range(max_iter):
        nbr_min = (
            edges.join(lab, edges["v"] == lab["id"])
            .groupBy("u")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_lab = (
            lab.join(nbr_min, lab["id"] == nbr_min["u"], "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")
                ).alias("cluster_id"),
            )
            .transform(materialize, eager=True)
        )
        new_sum = new_lab.agg(_dsum).collect()[0][0]
        lab = new_lab
        if new_sum == lab_sum:
            break
        lab_sum = new_sum
    return _label_docs(df, id_col, lab)


def _label_docs(df: DataFrame, id_col: str, lab: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) for every distinct doc id of ``df``, from the
    (id, cluster_id) labels of the pair-graph nodes; a doc outside the
    graph is its own cluster. Distinct, like the oracle's GROUP BY:
    duplicate primary-key rows must not duplicate the cluster labeling
    (r10 adversarial census pin)."""
    out_id = F.col(id_col).alias("doc_id") if id_col != "doc_id" else F.col(id_col)
    return (
        df.select(out_id).distinct()
        .join(lab, F.col("doc_id") == lab["id"], "left")
        .select("doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
    )


def cc_bigstar(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the O(log n)-round companion to the min-label
    propagation loop in :func:`dedup_clusters`, whose round count is
    O(component diameter). Near-dup components are dense (diameter ~2-3)
    so propagation wins there; this variant is for pair graphs with long
    chains (e.g. threshold set low enough that near-dup edges form
    paths), where diameter-many rounds would dominate.

    Input: (u, v) edge frame, any orientation/duplication. Output:
    (id, cluster_id) for every node appearing in an edge, cluster_id =
    min node id of the component.

    Each round is two groupBy/join passes over the edge set, shuffled on
    node id — no per-component serialization anywhere, so a single huge
    component spreads across the cluster (the property propagation also
    has, but in diameter-many rounds). Lineage is truncated per round
    by ``session.materialize``; at the fixpoint the edge set is a star per
    component (every node points at the component min), read off
    directly as labels.
    """
    # canonical undirected form: u < v, no self-loops, distinct
    e = (
        edges.select(
            F.least(edges.columns[0], edges.columns[1]).alias("u"),
            F.greatest(edges.columns[0], edges.columns[1]).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(materialize, eager=True)
    )

    def large_star(e: DataFrame) -> DataFrame:
        # per node a: m = min(neighbors ∪ {a}); emit (m, b) for b > a.
        # m <= a < b keeps the canonical u < v form, no self-loops.
        adj = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = adj.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("mn", "u").alias("m")
        )
        return (
            adj.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), "v")
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # per node v (the larger endpoint): m = min of its smaller
        # neighbors; re-point those neighbors and v itself at m.
        mins = e.groupBy("v").agg(F.min("u").alias("m"))
        out = e.join(mins, "v").select(F.col("u").alias("x"), "m").union(
            mins.select(F.col("v").alias("x"), "m")
        )
        return (
            out.filter(F.col("x") != F.col("m"))
            .select(F.col("m").alias("u"), F.col("x").alias("v"))
            .distinct()
        )

    for _ in range(max_iter):
        e = materialize(small_star(large_star(e)), eager=True)
        # stars are exactly the fixpoints of both ops (shown below), and
        # labels are only readable off a star set — so the convergence
        # check IS the star test: no node may be both a center (u) and a
        # leaf (v). One semi-join probe per round, no edge-set diffing.
        #   star ⇒ fixpoint: a center's neighbors are all larger, its own
        #   min is itself; a leaf's one neighbor is the component min —
        #   LS and SS each re-emit the same (center, leaf) edges.
        non_star = (
            e.alias("a")
            .join(e.alias("b"), F.col("a.v") == F.col("b.u"), "left_semi")
            .limit(1)
            .count()
        )
        if non_star == 0:
            break
    # fixpoint edges are stars (m, v): v's label is m, m labels itself
    roots = e.select(F.col("u").alias("id")).exceptAll(
        e.select(F.col("v").alias("id"))
    ).distinct()
    return e.select(F.col("v").alias("id"), F.col("u").alias("cluster_id")).union(
        roots.select("id", F.col("id").alias("cluster_id"))
    )


def dedup_clusters_bigstar(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    max_iter: int = 20,
) -> DataFrame:
    """:func:`dedup_clusters` semantics (same pair graph, same
    (doc_id, cluster_id) output) computed with :func:`cc_bigstar`
    instead of min-label propagation — same answer by construction, so
    both run against the identical recursive-CTE oracle."""
    pairs = minhash_lsh_pairs(
        df, text_col, id_col, k=k, num_hashes=num_hashes, bands=bands,
        threshold=threshold,
    )
    lab = cc_bigstar(pairs.select("id_a", "id_b"), max_iter=max_iter)
    return _label_docs(df, id_col, lab)


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pair search at scale: band the 60-bit signature
    into ``bands`` equal bit-slices and self-join on (band_idx, band_key).
    Pigeonhole guarantee: a pair within Hamming distance ≤ bands-1 has at
    least one band with zero differing bits, so recall is EXACT for
    ``max_hamming ≤ bands - 1`` (no LSH probability involved).
    Verification is ``bit_count(xor)`` over candidates only. Shuffle
    shape is identical to the MinHash-LSH band join — only
    (band_idx, band_key) keys move. Returns (id_a, id_b, hamming)."""
    if max_hamming > bands - 1:
        raise ValueError("exact recall requires max_hamming <= bands - 1")
    width = 60 // bands
    mask = (1 << width) - 1
    # NOT checkpointed (r13, measured): both band self-join sides share
    # the identical simhash60 aggregate subtree, which ReuseExchange
    # already dedups; a localCheckpoint barrier regressed q78 at sf0.1
    # (2.91 -> 4.54 in the interleaved subset A/B).
    sig = simhash60(df, text_col, id_col)
    keys = F.expr(
        "array("
        + ", ".join(
            f"named_struct('band_idx', {i}, "
            f"'band_hash', shiftright(simhash, {i * width}) & {mask})"
            for i in range(bands)
        )
        + ")"
    )
    banded = sig.select(
        F.col(id_col).alias("_id"), "simhash", F.explode(keys).alias("k")
    ).select("_id", "simhash", "k.band_idx", "k.band_hash")
    cand = _bucket_pairs(
        banded, banded, F.col("x._id") < F.col("y._id"),
        [
            F.col("x._id").alias("id_a"),
            F.col("x.simhash").alias("sa"),
            F.col("y._id").alias("id_b"),
            F.col("y.simhash").alias("sb"),
        ],
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long")
    return (
        cand.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    min_shared: int = 2,
    max_df: int | float | None = 20,
) -> DataFrame:
    """Train/test decontamination: flag training docs that share at least
    ``min_shared`` distinct word k-gram shingles with any benchmark doc —
    the standard pre-training hygiene pass (strip eval-set text from the
    corpus before training).

    ``max_df``: an int is an absolute combined-document-frequency cap; a
    float in (0, 1) states it as a FRACTION of the combined doc count
    (``max(1, floor(frac · (|train| + |bench|)))``), matching the
    fractional form of ``decontaminate_bloom.bench_max_df`` and
    ``tfidf_cosine_pairs.max_df`` so one setting survives corpus growth.

    Inverted-index join keyed by the shingle, never all-pairs: explode
    each side's distinct shingles, drop shingles whose combined document
    frequency exceeds ``max_df`` (boilerplate n-grams are useless as
    contamination evidence AND are exactly the hot keys that would skew
    the shuffle — one frequent phrase otherwise fans out df_train × df_bench
    rows), equi-join on the shingle, then two hash aggregates. At 100 TB
    every stage is shuffled on uniform keys (shingle, then (train, bench)
    id pairs); the df cap bounds the worst fan-out by construction.

    Returns (doc_id, n_bench_docs, n_shared_shingles, max_shared) per
    contaminated training doc.
    """
    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.lit(tag).alias("_side"),
            F.col(id_col).alias("_id"),
            F.explode(shingles(F.col(text_col), k)).alias("g"),
        )

    # one tagged exploded frame, materialised: tokenize + shingle runs
    # once, and the df-cap aggregate plus both join sides all read the
    # materialised rows instead of re-exploding
    # _spread BEFORE side(): the exchange must precede the shingle
    # explode, or the expensive expression still runs in the scan task
    e = materialize(side(_spread(train), "t").union(side(_spread(bench), "b")))

    def n_docs() -> int:
        # |train| + |bench| in ONE column-pruned count job, counting the
        # docs too short to yield a shingle
        return (
            train.select(F.col(id_col).alias("_i"))
            .unionAll(bench.select(F.col(id_col).alias("_i")))
            .count()
        )

    e = _df_capped(e, _frac_cap(max_df, "max_df", n_docs))
    t = e.filter(F.col("_side") == "t").select(F.col("_id").alias("doc_id"), "g")
    b = e.filter(F.col("_side") == "b").select(F.col("_id").alias("b_id"), "g")
    return _rollup(t.join(b, "g"), min_shared)


def _frac_cap(cap, name: str, n_docs) -> int | None:
    """A document-frequency cap: an int (or None) is absolute; a float in
    (0, 1) is a fraction of the ``n_docs()`` count,
    ``max(1, floor(frac · N))``, so one setting survives corpus growth.
    The decontamination caps and ``tfidf_cosine_pairs.max_df`` share it."""
    if not isinstance(cap, float):
        return cap
    if not 0 < cap < 1:
        raise ValueError(f"fractional {name} must be in (0, 1)")
    return max(1, math.floor(cap * n_docs()))


def _df_capped(g: DataFrame, max_df: int | None) -> DataFrame:
    """``g`` without the rows whose gram ``g`` occurs in more than
    ``max_df`` rows (one per document and distinct gram)."""
    if max_df is None:
        return g
    keep = (
        g.groupBy("g")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("g")
    )
    return g.join(keep, "g")


def _rollup(
    matches: DataFrame, min_shared: int, n: Column | None = None
) -> DataFrame:
    """Shared-shingle matches (doc_id, b_id) -> per-pair counts ``n``
    (default: one per row) kept at ``>= min_shared`` -> (doc_id,
    n_bench_docs, n_shared_shingles, max_shared) per contaminated doc."""
    pair = (
        matches.groupBy("doc_id", "b_id")
        .agg((F.count("*") if n is None else n).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return pair.groupBy("doc_id").agg(
        F.count("*").alias("n_bench_docs"),
        F.sum("n_shared").alias("n_shared_shingles"),
        F.max("n_shared").alias("max_shared"),
    )


def _bench_grams(
    bench: DataFrame, text_col: str, id_col: str, k: int, max_df: int | None,
    bloom: tuple[int, int] | None,
) -> tuple[DataFrame, list[int] | None]:
    """The bench side of a bloom-join decontamination: its (b_id, g)
    shingle rows without grams above the bench-side ``max_df``,
    materialised, plus the bloom bitmap of their distinct grams when
    ``bloom`` = (m_bits, n_hashes) is given."""
    b = _spread(bench).select(
        F.col(id_col).alias("b_id"),
        F.explode(shingles(F.col(text_col), k)).alias("g"),
    )
    b = materialize(_df_capped(b, max_df))
    bits = None
    if bloom is not None:
        bits = bloom_bitmap_bits(b.select("g").distinct(), "g", *bloom)
    return b, bits


# Bloom-join prefilter defaults: m sized for an eval-suite-scale bench
# shingle set (~10^5-10^6 distinct shingles — benchmark suites are fixed
# size regardless of corpus scale). 2^21 bits = 32 Ki longs = 256 KB
# bitmap; with n=2*10^5 keys and k=3 probes the false-positive rate is
# ~1.6% — k=3 rather than the information-optimal k≈9 because each probe
# is paid per CORPUS shingle at scan time while a false positive only
# costs one extra row through the exact verify join (measured: probe time
# scales linearly in k; fpp is already negligible against the join).
BLOOM_M_BITS = 1 << 21
BLOOM_K = 3


def bloom_params(
    n_keys: int,
    target_fpp: float,
    max_hashes: int | None = BLOOM_K,
) -> tuple[int, int]:
    """Derive (m_bits, n_hashes) from the standard Bloom formulas:
    ``m = -n·ln(p)/ln(2)²`` (rounded up to the next power of two, so the
    bitmap is whole 64-bit words and the size ladder is predictable) and
    the information-optimal ``k = (m/n)·ln(2)``. ``max_hashes`` caps k below
    optimal for this engine's cost model — every probe is paid per
    CORPUS shingle inside the scan, while a false positive only costs
    one extra row through the exact verify join, so a small k with the
    optimal-for-p bitmap beats optimal k (the capped k's real fpp is
    higher than ``target_fpp`` but still join-negligible; pass
    ``max_hashes=None`` for the textbook pair). The module defaults are
    this derivation, not an assertion: ``bloom_params(2*10**5, 0.01)``
    → m rounds to 2^21 bits (256 KB) and optimal k≈7 caps to 3, with
    :func:`bloom_fpp` ≈ 1.6% as documented above."""
    if n_keys < 1:
        return 64, 1
    if not 0 < target_fpp < 1:
        raise ValueError("target_fpp must be in (0, 1)")
    m = -n_keys * math.log(target_fpp) / (math.log(2) ** 2)
    m_bits = max(64, 1 << math.ceil(math.log2(m)))
    k = max(1, round(m_bits / n_keys * math.log(2)))
    if max_hashes is not None:
        k = min(k, max_hashes)
    return m_bits, k


def bloom_fpp(n_keys: int, m_bits: int, n_hashes: int) -> float:
    """Expected false-positive rate ``(1 - e^(-k·n/m))^k`` of an
    (m, k) bloom filter holding n keys — the planning complement to
    :func:`bloom_params` when k is capped below optimal."""
    return (1.0 - math.exp(-n_hashes * n_keys / m_bits)) ** n_hashes


def _bloom_hashes(col: Column, m_bits: int) -> tuple[Column, Column]:
    """The two xxhash64 base hashes of the double-hashing family, each
    already reduced mod m: probe i sits at ``(h1 + i*h2) mod m``, and the
    pre-reduction keeps the linear combination far below 2^63 (ANSI mode
    makes silent wrap-around an error). The bloom layer is transparent to
    the DuckDB oracle because of the exact verify join."""
    return (
        F.pmod(F.xxhash64(col), F.lit(m_bits)),
        F.pmod(F.xxhash64(col, F.lit("b2")), F.lit(m_bits)),
    )


def bloom_bitmap_bits(
    df: DataFrame, col: str, m_bits: int = BLOOM_M_BITS, n_hashes: int = BLOOM_K
) -> list[int]:
    """Aggregate a key column into a dense Bloom bitmap (m/64 longs,
    256 KB at the default m): per key, k probe positions via xxhash64
    double hashing → explode → per-word ``bit_or`` partial aggregate
    (map-side combined, at most m/64 groups) → ONE bounded sketch collect.

    The driver materialization is deliberate and is the Spark-native
    shape: InjectRuntimeFilter materializes its bloom the same way — a
    subquery result embedded as a LITERAL inside ``might_contain`` — so
    the bitmap ships once per task with the serialized plan and each
    probe is an O(1) constant-array load inside whole-stage codegen.
    The rejected alternative (1-row bitmap frame + broadcast join) costs
    a 256 KB row-join copy PER CORPUS ROW plus an O(m·entries) densify —
    measured 56 s vs 12 s cold at sf0.1. Same bounded-sketch-collect
    class as ``sketches.py`` (fixed size regardless of input scale)."""
    nwords = m_bits // 64
    h1, h2 = _bloom_hashes(F.col(col), m_bits)
    probes = df.select(h1.alias("_bh1"), h2.alias("_bh2"))
    pos = probes.select(
        F.explode(
            F.array(
                *[
                    F.pmod(
                        F.col("_bh1") + F.lit(i) * F.col("_bh2"), F.lit(m_bits)
                    )
                    for i in range(n_hashes)
                ]
            )
        ).alias("_p")
    )
    words = pos.select(
        F.shiftright(F.col("_p"), 6).alias("_w"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_p % 64 AS INT))").alias("_m"),
    )
    sparse = words.groupBy("_w").agg(F.expr("bit_or(_m)").alias("_bits"))
    bits = [0] * nwords
    for r in sparse.collect():
        bits[int(r["_w"])] = int(r["_bits"])
    return bits


def bloom_probe_filter(
    key: Column, bits: list[int], m_bits: int, n_hashes: int
) -> Column:
    """Membership test of ``key`` against a literal Bloom bitmap: k
    unrolled O(1) bit probes (no per-row loop structure — stays inside
    whole-stage codegen; positions are in [0, m) by construction so ANSI
    array element_at cannot go out of bounds).

    The bitmap MUST become one opaque Literal node, and the cheap way
    to GET one is to ship the words as a single JSON string literal and
    let Catalyst's ConstantFolding evaluate ``from_json`` into the
    array literal JVM-side. Measured at m=2^21 (32 Ki longs), same
    3-probe filter over 3M rows: ``F.lit(list)`` builds a CreateArray
    tree with m/64 child literals — ~15 s of driver analysis per plan;
    ``F.lit(np.ndarray)`` is one Literal but the py4j per-element
    conversion costs ~7 s to construct (and 2.3 s first exec);
    ``from_json(lit(json), 'array<bigint>')`` constructs in ~10 ms and
    folds once per probe reference at optimization time (~0.5 s first
    exec). The folded plan is identical: k GetArrayItem probes against
    one array Literal inside whole-stage codegen."""
    import json

    bm = F.from_json(F.lit(json.dumps(bits)), "array<bigint>")
    h1, h2 = _bloom_hashes(key, m_bits)
    cond = F.lit(True)
    for i in range(n_hashes):
        p = F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits))
        # 0-indexed GetArrayItem, ~30% cheaper per probe than element_at
        # (no map/negative-index branch in the generated code)
        word = bm[F.shiftright(p, 6).cast("int")]
        cond = cond & (F.bit_get(word, F.pmod(p, F.lit(64))) == 1)
    return cond


def decontaminate_bloom(
    train: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    min_shared: int = 2,
    bench_max_df: int | float | None = 10,
    m_bits: int = BLOOM_M_BITS,
    n_hashes: int = BLOOM_K,
    prefilter: bool = True,
) -> DataFrame:
    """Bloom-join decontamination — same contract as :func:`decontaminate`
    (flag training docs sharing ≥ ``min_shared`` distinct word k-gram
    shingles with any benchmark doc) but with the 100 TB asymmetry made
    explicit: the benchmark side is eval-suite-sized and FIXED while the
    train side is the whole corpus, so the train side must never be
    globally shuffled before filtering. The classic Bloom-join: build a
    256 KB bitmap over the bench shingles (one tiny aggregate + bounded
    sketch collect — see :func:`bloom_bitmap_bits` for why the literal
    form is the right Spark shape), drop non-matching train shingles with
    k unrolled codegen-friendly bit probes AT THE SCAN, then run the
    exact inverted-index join only on survivors. Bloom false positives
    die in the verify join, so the result is bit-identical to the exact
    plan (``prefilter=False``) and the DuckDB oracle — property-tested.

    ``bench_max_df`` caps the BENCH-side document frequency (boilerplate
    eval n-grams carry no contamination signal and are the hot join
    keys); computed on the small side only, so the cap costs nothing at
    corpus scale. A float in (0, 1) states the cap as a FRACTION of the
    bench doc count — ``max(1, floor(frac · |bench|))``, one count on
    the eval-suite-sized side — so the same setting holds as the bench
    suite grows; an int stays an absolute override. Distinct from
    :func:`decontaminate`'s combined-df cap (q71), which needs a full
    train-side shingle aggregate.

    Bloom-join is textbook distributed-DB practice (Bratbergsengen
    VLDB'84); Spark's own InjectRuntimeFilter applies the same idea
    plan-internally for eligible shuffle joins — this operator makes it
    an explicit, tunable stage for the decontamination pipeline.
    """
    b, bits = _bench_grams(
        bench, text_col, id_col, k,
        _frac_cap(bench_max_df, "bench_max_df", bench.count),
        (m_bits, n_hashes) if prefilter else None,
    )
    t = _spread(train).select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(F.col(text_col), k)).alias("g"),
    )
    if prefilter:
        t = t.filter(bloom_probe_filter(F.col("g"), bits, m_bits, n_hashes))
    # make b the build side explicitly: the materialised b carries the
    # planner's join-size estimate (a product of its inputs), not its
    # real size, so without the hint the planner could broadcast the
    # corpus-scale train side. A shuffled hash build, not a broadcast:
    # b grows with the bench set, which need not fit on one node.
    return _rollup(t.join(b.hint("shuffle_hash"), "g"), min_shared)


def simhash60(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit SimHash per document: explode tokens, hash to 60 bits, sum
    ±1 per bit position, set bit where the sum is positive.
    Returns (id, simhash)."""
    tok = _spread(df).select(
        F.col(id_col).alias("_id"), F.explode(tokens(F.col(text_col))).alias("t")
    ).withColumn("h", hash60(F.col("t")))
    # one F.expr per bit agg and ONE parsed expression for the 60-term
    # reconstruction: the builder form (when/shiftright/bitwiseAND per
    # bit) costs ~700 py4j round-trips — measured ~5 s of pure driver
    # plan-build latency on q78; the analyzed plan is identical
    bit_sums = tok.groupBy("_id").agg(
        *[
            F.expr(f"sum(CASE WHEN shiftright(h, {b}) & 1 = 1 THEN 1 ELSE -1 END)").alias(
                f"s{b}"
            )
            for b in range(60)
        ]
    )
    recon = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({2 ** b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(60)
    )
    sim = bit_sums.select("_id", F.expr(recon).alias("simhash"))
    return sim.withColumnRenamed("_id", id_col)


def block_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_words: int = 8,
) -> DataFrame:
    """Substring-level (block) dedup à la "Deduplicating Training Data
    Makes Language Models Better" (Lee et al. 2022), at chunk granularity:
    cut each document into non-overlapping ``block_words``-token blocks,
    keep only the globally-first occurrence of every distinct block
    (ordered by (id, position) — deterministic), and reassemble the
    surviving blocks in document order. Unlike whole-document dedup (q30)
    this removes boilerplate *inside* otherwise-unique documents.

    Returns (id, n_blocks, n_kept, text_dedup) — one row per input
    document, ``text_dedup`` null when every block was a repeat (or the
    document was empty).

    Scale shape: block hashing is a per-row expression; the keep-first
    decision is one shuffle keyed by the block hash (uniform md5 keys, no
    skew); reassembly is one shuffle keyed by the document id. No
    quadratic stage — the suffix-array exactness of Lee et al. is traded
    for fixed block boundaries, the standard large-corpus compromise.
    """
    c = F.col(text_col)
    w = tokens(c)
    n_blocks = (F.size(w) + F.lit(block_words - 1)) / F.lit(block_words)
    n_blocks = n_blocks.cast("int")  # floor for positive ints
    blocks = F.when(
        F.size(w) > 0,
        F.transform(
            F.sequence(F.lit(0), n_blocks - 1),
            lambda i: F.concat_ws(
                " ", F.slice(w, i * block_words + 1, block_words)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    from pyspark.sql import Window

    exploded = df.select(
        F.col(id_col).alias("_id"), F.posexplode(blocks).alias("pos", "block")
    )
    keep_w = Window.partitionBy(F.md5(F.col("block"))).orderBy("_id", "pos")
    marked = exploded.withColumn("rn", F.row_number().over(keep_w))
    agg = (
        marked.groupBy("_id")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") == 1,
                                F.struct(F.col("pos"), F.col("block")),
                            )
                        )
                    ),
                    lambda x: x["block"],
                ),
                " ",
            ).alias("_joined"),
        )
        .withColumn(
            "text_dedup",
            F.when(F.col("n_kept") > 0, F.col("_joined")),
        )
        .drop("_joined")
    )
    return (
        df.select(F.col(id_col))
        .join(agg, F.col(id_col) == F.col("_id"), "left")
        .select(
            id_col,
            F.coalesce(F.col("n_blocks"), F.lit(0)).cast("long").alias("n_blocks"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            "text_dedup",
        )
    )


def band_min_k(banded: DataFrame, cap: int) -> DataFrame:
    """Bounded-memory min-k per (band_idx, band_hash) bucket — the
    scale-safe form of "keep the ``cap`` lowest-id rows per bucket".

    The naive form (``row_number() OVER (PARTITION BY band ORDER BY id)``)
    shuffle-sorts EVERY bucket in full — a boilerplate bucket holding
    millions of ids pays a million-row sort to keep 1000. This form never
    sorts the raw frame:

    1. Map-side (Arrow-batched ``mapInPandas``, no shuffle): each input
       partition keeps at most ``cap`` smallest ids per bucket it has
       seen — per-bucket state is bounded at ``cap`` regardless of how
       many rows the partition holds, and a hot bucket is trimmed BEFORE
       anything shuffles.
    2. Merge: surviving partials (≤ cap × n_partitions rows per bucket,
       independent of data volume) group-by the bucket key; the only
       sort is ``array_sort`` over that bounded survivor array, sliced
       to ``cap`` and exploded back to rows.

    The result set is IDENTICAL to the window form (min-k by id is
    deterministic), so oracles that state the cap as ``row_number``
    verify it unchanged — plan-tested to contain no Window node.

    Expects/returns columns (_id, band_idx, band_hash).
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    import pandas as pd

    def part_mink(batches):
        acc = None
        for pdf in batches:
            cur = pdf if acc is None else pd.concat((acc, pdf))
            # one partition-local trim per batch: per-bucket state can
            # never exceed cap rows between batches
            # dropna=False: Spark's merge-side groupBy keeps NULL keys,
            # so the partial trim must too or the window-form identity
            # breaks on null-keyed bands (band_hash is md5 over non-null
            # strings today, but the identity claim must not depend on
            # that upstream invariant).
            acc = (
                cur.sort_values("_id", kind="stable")
                .groupby(["band_idx", "band_hash"], sort=False, dropna=False)
                .head(cap)
            )
        yield acc if acc is not None else pd.DataFrame(
            {"_id": [], "band_idx": [], "band_hash": []}
        )

    proj = banded.select("_id", "band_idx", "band_hash")
    partials = proj.mapInPandas(
        part_mink,
        schema=", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in proj.schema
        ),
    )
    return (
        partials.groupBy("band_idx", "band_hash")
        .agg(
            F.slice(F.array_sort(F.collect_list("_id")), 1, cap).alias("_ids")
        )
        .select(
            "band_idx", "band_hash", F.explode("_ids").alias("_id")
        )
        .select("_id", "band_idx", "band_hash")
    )


def incremental_dedup(
    new_batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    corpus_band_cap: int | None = 1000,
) -> DataFrame:
    """Continuous-ingestion dedup: score an incoming batch against an
    EXISTING corpus — exact duplicates by normalized digest, near-dups by
    MinHash-LSH — without ever pairing corpus documents with each other.

    This is the shape a 100 TB training pipeline runs daily: the corpus
    side's signatures/bands are computed once per row (in production,
    precomputed and stored alongside the documents); the band join is
    new×corpus only, so cost scales with batch size, not corpus².

    ``corpus_band_cap`` is the hot-band skew guard (same hazard class as
    ``decontaminate``'s df cap): a boilerplate-heavy corpus can put
    millions of corpus docs behind ONE (band_idx, band_hash) key, turning
    the band join's fan-out into batch × millions for that key. The cap
    keeps only the ``corpus_band_cap`` lowest-id corpus docs per band
    bucket — deterministic (min-k by id, so reruns and both engines agree)
    and rank-preserving for exact duplicates (the digest path is uncapped;
    near-dup recall degrades only inside a bucket that ALREADY holds
    ``cap`` near-identical candidates, where the retained low-id docs are
    interchangeable evidence). ``None`` disables the guard.

    Returns one row per new document:
    (new_id, status, match_id, jaccard_sim) where status is 'exact_dup'
    (digest match — lowest corpus id wins), 'near_dup' (best Jaccard ≥
    threshold among LSH candidates; digest non-match), or 'unique'
    (jaccard_sim null, match_id null).
    """
    def digests(df: DataFrame, out: str) -> DataFrame:
        return df.select(F.col(id_col).alias(out), _digest(text_col).alias("_dg"))

    exact = (
        digests(new_batch, "new_id")
        .join(
            digests(corpus, "match_id").groupBy("_dg").agg(
                F.min("match_id").alias("match_id")
            ),
            "_dg",
        )
        .select("new_id", "match_id")
    )
    # the new x capped-corpus band join: no corpus x corpus pairs, and
    # the bounded-memory min-k cap (identical result set to the
    # row_number window form, but hot buckets trim map-side and nothing
    # sorts the raw band frame — see band_min_k)
    scored = _lsh_join(
        _shingle_frame(new_batch, text_col, id_col, k),
        _shingle_frame(corpus, text_col, id_col, k),
        ("new_id", "cand_id"), "jac", num_hashes, bands,
        threshold=threshold, y_cap=corpus_band_cap,
    )
    from pyspark.sql import Window

    wbest = Window.partitionBy("new_id").orderBy(
        F.desc("jac"), F.col("cand_id")
    )
    near = (
        scored.withColumn("_rk", F.row_number().over(wbest))
        .filter(F.col("_rk") == 1)
        .select("new_id", F.col("cand_id").alias("near_id"), F.col("jac"))
    )
    base = new_batch.select(F.col(id_col).alias("new_id"))
    return (
        base.join(exact, "new_id", "left")
        .join(near, "new_id", "left")
        .select(
            "new_id",
            F.when(F.col("match_id").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_id").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("unique"))
            .alias("status"),
            F.coalesce("match_id", "near_id").alias("match_id"),
            F.when(F.col("match_id").isNull(), F.col("jac")).alias(
                "jaccard_sim"
            ),
        )
    )


def cluster_keep_best(
    df: DataFrame,
    text_col: str,
    id_col: str,
    score_col: str,
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Canonical-document selection: near-dup clusters (connected
    components over the MinHash-LSH pair graph, same semantics as
    ``dedup_clusters``) reduced to ONE kept representative per cluster —
    the highest-``score_col`` member (ties to the lowest id), not the
    arbitrary min-id doc. This is the corpus-prep policy that keeps the
    cleanest copy of each boilerplate family instead of whichever copy
    crawled first.

    Returns (cluster_id, keep_id, keep_score, n_members) — one row per
    cluster, singletons included (n_members = 1, keep_id = doc_id).

    Scale shape: the CC stage shuffles only pair-graph nodes (<< corpus);
    the argmax is a single groupBy on cluster_id with a max_by-style
    struct-max — no window sort over the full corpus, and the score join
    touches two columns of the original table.
    """
    clusters = dedup_clusters(
        df, text_col, id_col, k=k, num_hashes=num_hashes, bands=bands,
        threshold=threshold,
    )
    scored = clusters.join(
        df.select(
            F.col(id_col).alias("doc_id"), F.col(score_col).alias("_score")
        ),
        on="doc_id",
    )
    # argmax via struct ordering: (score, -doc_id) max == highest score,
    # lowest id on ties — one shuffle, partial-aggregated map-side
    best = F.max(
        F.struct(F.col("_score"), (-F.col("doc_id")).alias("_negid"))
    ).alias("_best")
    return (
        scored.groupBy("cluster_id")
        .agg(best, F.count(F.lit(1)).alias("n_members"))
        .select(
            "cluster_id",
            (-F.col("_best._negid")).alias("keep_id"),
            F.col("_best._score").alias("keep_score"),
            "n_members",
        )
    )


def pagerank_rounds(
    edges: DataFrame,
    damping: float = 0.85,
    rounds: int = 2,
    n_nodes: int | None = None,
) -> DataFrame:
    """Fixed-round PageRank over a directed edge list (src, dst) — the
    authority-scoring complement to the connected-components operators:
    CC tells you WHICH docs cluster, PageRank ranks how central each is
    inside the near-dup/citation graph (canonical-pick signal beyond
    q108's per-doc quality argmax).

    Fixed round count (not a convergence test) keeps the computation
    deterministic and oracle-expressible — the registry oracle unrolls
    the same rounds as chained CTEs (the q111 pattern). Per round:
    contribution = rank/out_degree along each edge, in-neighbor sums as
    exact femto-unit integer aggregation (order-independent and
    round()-parity-safe across engines — double->decimal casts can
    diverge at the ULP on exact rationals, the q138 finding), then
    ``rank = (1-d)/N + d * sum``. Simplified treatment of dangling
    nodes (their mass is not redistributed) — documented divergence
    from the normalized formulation; ranks still order identically for
    ranking use.

    Scale shape per round: one shuffle on src for the contribution join
    (out-degree table is dim-sized relative to edges), one partial-agg
    shuffle on dst; the (tiny) rank frame is lineage-truncated by
    ``session.materialize`` each round so the plan stays flat (the
    CC-loop rationale). The only driver-side scalar is the 1-row node
    count (pass ``n_nodes`` to avoid even that when the caller knows it).
    """
    # edges is referenced ~2 + 2*rounds times (node set, degrees, every
    # round's contribution join) — materialize it ONCE; without the
    # barrier a lazy upstream (e.g. the full MinHash-LSH pipeline in
    # q134) re-executes per reference (measured 14.5 s -> ~4 s at sf0.1)
    edges = materialize(edges, eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = n_nodes if n_nodes is not None else nodes.count()
    if n == 0:  # empty graph: empty (node, rank) frame, same schema
        return nodes.withColumn("rank", F.lit(0.0))
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    nodes = materialize(nodes)
    rank = nodes.withColumn("rank", F.lit(1.0 / n))
    teleport = (1.0 - damping) / n
    for _ in range(rounds):
        contrib = (
            edges.join(rank.withColumnRenamed("node", "src"), on="src")
            .join(outdeg, on="src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("_deg").cast("double")).alias("_c"),
            )
        )
        sums = contrib.groupBy("node").agg(
            # femto-unit integers: round() parity holds across engines
            # where double->decimal cast rounding can diverge at the ULP
            # on exact rationals (the q138 finding); the sum is exact
            # integer arithmetic at any order
            (
                F.sum(F.round(F.col("_c") * F.lit(1e15)).cast("long"))
                .cast("double")
                / F.lit(1e15)
            ).alias("_s")
        )
        rank = (
            nodes.join(sums, on="node", how="left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(F.col("_s"), F.lit(0.0))
                ).alias("rank"),
            )
            .transform(materialize)
        )
    return rank


def duplicated_gram_stats(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Exact duplicated-n-gram rate per document — the corpus-governance
    number behind exact substring deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": how much
    of each document is corpus-repeated text). A gram occurrence is
    *duplicated* when its k-gram occurs >= 2 times in the WHOLE corpus
    (cross- or within-document).

    Returns (doc_id, n_grams, n_dup_grams, dup_rate) for EVERY document
    (docs shorter than k tokens report 0 grams, rate 0.0). dup_rate is
    one exact integer division — bit-stable across engines.

    Shape chosen for 100 TB, not for brevity:

    1. per-(gram, doc) occurrence counts via ``groupBy`` — map-side
       partial aggregation collapses within-partition repeats BEFORE the
       shuffle, so a pathological doc repeating one gram a million times
       ships one partial row, not a million;
    2. corpus totals per gram from those (gram, doc) partials (second
       partial-aggregated shuffle, vocabulary-sized output);
    3. equi-join the two on the gram key (both sides hash-partitioned on
       ``gram`` by their aggregations — no extra distribution), then a
       per-doc rollup.

    A window (``sum over partition by gram``) would skip the join but
    forfeits partial aggregation — every raw occurrence row of a
    corpus-hot gram would funnel into one window partition. The reference
    has no substring-duplication surface; this extends its dedup family
    (SURVEY §2 dedup) with the training-data governance metric.
    """
    g = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(ngrams_all(F.col(text_col), k)).alias("gram"),
    )
    # gd feeds BOTH the totals aggregation and the join probe side; left
    # lazy it would re-run the whole tokenize+explode+aggregate pipeline
    # twice (the q132/q150 lazy-frame lesson). One materialised copy.
    gd = materialize(
        g.filter(F.col("gram").isNotNull())
        .groupBy("gram", "doc_id")
        .agg(F.count("*").alias("m"))
    )
    totals = gd.groupBy("gram").agg(F.sum("m").alias("tot"))
    per_doc = (
        gd.join(totals, on="gram")
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("tot") >= 2, F.col("m")).otherwise(0))
            .cast("long").alias("n_dup_grams"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("long")
            .alias("n_dup_grams"),
            F.when(
                F.col("n_grams").isNull(), F.lit(0.0)
            ).otherwise(
                F.col("n_dup_grams").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("dup_rate"),
        )
    )


def remove_duplicated_grams(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """EXECUTE substring-level dedup: cut every corpus-duplicated k-gram
    span out of every document (Lee et al. 2022 ExactSubstr, word
    granularity — the removal complement to the
    :func:`duplicated_gram_stats` measurement). A token is removed when
    it lies inside ANY k-gram occurring >= ``min_count`` times
    corpus-wide (within- or cross-document); surviving tokens are
    reassembled in order. Unlike :func:`block_dedup` (fixed 8-token
    blocks, keep-first), this removes EVERY occurrence of repeated
    text at exact span boundaries — the policy Lee et al. apply to
    training corpora where boilerplate should vanish entirely.

    Returns one row per input document:
    (doc_id, n_words, n_removed, n_spans, text_clean) — ``n_spans``
    counts maximal removed runs (gaps-and-islands over covered
    positions), ``text_clean`` is '' when the whole document is
    duplicated text. Docs shorter than k tokens are returned intact.

    100 TB shape:

    1. gram starts via one array build per doc (chained ``zip_with``,
       stays in codegen) + ``posexplode`` — start position = array
       index, no window over the token stream;
    2. duplicated-gram KEYS from the same two partial-aggregated
       shuffles as :func:`duplicated_gram_stats` (per-(gram, doc)
       combine first, so corpus-hot grams ship one partial row per
       partition, then vocabulary-sized totals);
    3. ``leftsemi`` join marks covered starts — key-set semantics, no
       fan-out on hot grams;
    4. covered positions by a bounded k-wide ``sequence`` explode
       (k is a small constant), distinct, then ``left_anti`` against
       the token stream — all equi-joins on (doc_id, pos), AQE-safe;
    5. span count = islands over COVERED positions only (a window over
       the removed subset, far smaller than the corpus; the token
       stream itself never sees a window);
    6. reassembly is one per-doc ``sort_array(collect_list(struct))``
       — struct sorts by leading pos field, so order is exact without
       a sort shuffle beyond the doc-key aggregation.

    The reference has no substring surface (its dedup is
    ``drop_duplicates``, e.g. app_confirmaciones.py:292); this
    extends SURVEY §2's dedup family to span-level execution.
    """
    from pyspark.sql import Window

    words = tokens(F.col(text_col))
    toks = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words).alias("wpos", "word"),
    )
    g = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(ngrams_all(F.col(text_col), k)).alias("pos", "gram"),
    )
    # gd is deliberately NOT materialised (r13, measured; re-measured
    # at sf1 in r14): keeping it alongside covered measured SLOWER at
    # sf0.1 (4.20 -> 5.26 min-of-3 interleaved A/B) AND at sf1
    # (8.08 -> 9.43 min-of-2, plans/r14/probe_q138_q157.py): across two
    # scale tiers, materializing the gram-level aggregate costs more
    # than recomputing it from the (cheap) scan for its two consumers.
    # covered is materialised instead — it is both smaller and
    # re-derived through the expensive explode+distinct. Re-profile only
    # if the corpus/dup profile changes.
    gd = g.groupBy("gram", "doc_id").agg(F.count("*").alias("m"))
    dup_keys = (
        gd.groupBy("gram")
        .agg(F.sum("m").alias("tot"))
        .filter(F.col("tot") >= min_count)
        .select("gram")
    )
    starts = g.join(dup_keys, on="gram", how="leftsemi")
    covered = (
        starts.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias(
                "wpos"
            ),
        )
        .distinct()
    )
    covered = materialize(covered)
    win = Window.partitionBy("doc_id").orderBy("wpos")
    spans = (
        covered.withColumn(
            "_new",
            F.when(
                F.col("wpos") - F.lag("wpos", 1).over(win) == 1, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("_new").cast("long").alias("n_spans"),
            F.count("*").cast("long").alias("n_removed"),
        )
    )
    kept = toks.join(covered, on=["doc_id", "wpos"], how="left_anti")
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("wpos", "word"))
                    ),
                    lambda s: s["word"],
                ),
            ).alias("text_clean")
        )
    )
    return (
        _spread(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.size(words).cast("long").alias("n_words"),
        )
        .join(spans, on="doc_id", how="left")
        .join(rebuilt, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def line_dedup_corpus(
    docs: DataFrame,
    line_words: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level line deduplication (the C4 / CCNet cleaning step:
    Raffel et al. 2020 §2.2 drop repeated three-sentence spans; Wenzek et
    al. 2020 dedup by paragraph hash): every normalized line that occurs
    more than once across the WHOLE corpus is kept only at its first
    occurrence (ordered by ``(doc_id, line_idx)``) and removed everywhere
    else; documents are reassembled in line order.

    The synthetic corpus has no newlines, so "lines" are derived
    deterministically as consecutive ``line_words``-word chunks — the
    same injected-structure convention as q158's PII corpus (both engines
    derive identical chunks from identical expressions).

    Scale design: first-occurrence is computed as
    ``groupBy(line).agg(min(struct(doc_id, li)))`` — NOT a row_number
    window — because partial (map-side) aggregation collapses a
    billion-copy boilerplate line to one row per map task before the
    shuffle, whereas a window over ``partition by line`` would sort every
    copy of the hottest line in a single reducer. The keep/remove flag is
    then a join on ``line`` (AQE skew-split handles residual hot keys),
    and reassembly is one ``groupBy(doc_id)`` over struct-sorted
    ``collect_list`` — bounded by document size.
    """
    k = line_words
    lines = (
        docs.selectExpr(
            f"{id_col} as doc_id", f"split({text_col}, ' ') as words"
        )
        .selectExpr(
            "doc_id",
            f"posexplode(transform(sequence(0, "
            f"cast(ceil(size(words) / {k}.0) as int) - 1), "
            f"i -> array_join(slice(words, i*{k}+1, {k}), ' '))) "
            "as (li, line)",
        )
    )
    # `lines` feeds BOTH the first-occurrence aggregate and the flag
    # join, and the split+explode re-runs per consumer (the partial agg
    # below the aggregate-side exchange defeats ReuseExchange). That is
    # DELIBERATE: a position-matched A/B at sf0.1 measured persisting
    # the exploded frame within noise of recomputing (4.1 vs 4.5 s cold,
    # 2 runs each — an earlier "2.5x slower" reading was a session-
    # position artifact), and at 100 TB the exploded corpus cannot be
    # cached at all, so recompute is the only plan that survives scale.
    # Contrast leakage_safe_split, which DOES persist: its reused frame
    # is ~40 bytes/row vs a full-text re-hash — persist iff cached bytes
    # are far below recompute cost.
    firsts = lines.groupBy("line").agg(
        F.min(F.struct("doc_id", "li")).alias("first")
    )
    flagged = lines.join(firsts, on="line").select(
        "doc_id",
        "li",
        "line",
        (
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("li") == F.col("first.li"))
        )
        .cast("int")
        .alias("kept"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.expr("cast(sum(1 - kept) as bigint)").alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.filter(
                    F.sort_array(
                        F.collect_list(F.struct("li", "kept", "line"))
                    ),
                    lambda s: s["kept"] == 1,
                ),
                lambda s: s["line"],
            ),
        ).alias("text_clean"),
    )


def ppjoin_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_num: int = 4,
    threshold_den: int = 5,
    k: int = 3,
) -> DataFrame:
    """Exact set-similarity self-join at Jaccard >= num/den via PREFIX
    FILTERING (Chaudhuri et al., ICDE 2006; Xiao et al., WWW 2008
    "PPJoin") — the set complement to the TF-IDF cosine pairs
    (similarity.py, Bayardo pruning): candidates come from an
    equi-join on each doc's PREFIX — its p = n - ceil(t*n) + 1 rarest
    shingles under a global (df, gram) order — by the prefix-filter
    lemma: two sets with J >= t must share at least one prefix element
    (if all shared elements sat beyond both prefixes, the overlap
    could not reach the t-implied floor). So recall at the threshold
    is EXACT while the join explodes only ~ (1 - t) of each doc's
    grams, and those are its RAREST (prefix grams are df-ascending, so
    bucket fan-out is smallest exactly where the join would hurt —
    boilerplate-hot grams never enter a prefix at high t).

    Verification is candidate-local: join the pair list back to the
    two per-doc RANK arrays and count the intersection per pair — never
    the all-shared-gram equi-join (q31's shape) whose hot-gram buckets
    the prefix filter exists to avoid. The threshold test is exact
    integer cross-multiplication (den * shared >= num * (union)), so
    no double boundary can disagree with the oracle.

    r14 restructure (guide §2.3 shuffle fewer bytes, §3 candidate
    pruning; measured at sf1, value-identical at sf0.01/sf0.1/sf1):
    everything downstream of the df build runs on INT gram ranks — the
    rank is an order-preserving bijection, so prefix sets and
    intersection sizes are unchanged while the candidate equi-join keys
    4-byte ints instead of k-word strings and the verify join ships int
    arrays (~4x fewer bytes than the string gram arrays). Two lossless
    PPJoin candidate filters land before the verify stage (Xiao et al.
    2008):

    - POSITIONAL (per matched row, pre-shuffle): shared <=
      min(pi, pj) + 1 + min(na-pi-1, nb-pj-1) for a common prefix gram
      at 0-based positions (pi, pj) — commons split into those before
      it in both arrays and those at-or-after it in both, because both
      arrays are sorted by the same global (df, gram) order.
    - SUFFIX BOUND (per pair, replaces the distinct with a same-shuffle
      groupBy): shared <= cnt + min(na-li-1, nb-lj-1) where cnt is the
      exact count of common prefix grams and (li, lj) the positions of
      the last (max-rank) one. Any shared gram ranked below a matched
      prefix gram is itself in both prefixes (the prefix is the
      rank-lowest slice), so every uncounted shared gram sits strictly
      after (li, lj) in both arrays. Every row of a true pair passes
      both bounds, so recall stays exact.

    Measured on the dense sf1 corpus (plans/r14/profile_sf1.py +
    probe_q175.py): verify candidates 6.49M -> 2.22M (2.9x), cold
    min-of-reps 30.7 s -> 18.8 s (-39%); only 80 true pairs exist, so
    candidate pruning is exactly where the time goes.

    Scale notes: the df/rank table is vocabulary-sized (one global
    row_number over distinct grams — bounded by vocab here; an
    open-vocab corpus swaps in the partitioner's striped rank);
    per-doc gram sorting is doc-bounded; the candidate join shuffles
    on the int prefix-rank key with df-ascending buckets. The eager
    checkpoints are load-bearing both ways: dropping g's measured 2x
    slower at sf1 (shingles rebuilt per consumer), and `ranked` feeds
    four consumers (both prefix sides + both verify sides).
    """
    from pyspark.sql import Window

    t_n, t_d = threshold_num, threshold_den
    g = docs.select(
        F.col(id_col).alias("id"),
        shingles(F.col(text_col), k).alias("grams"),
    ).filter(F.size("grams") > 0)
    # multiply consumed (df build + rank-join pass)
    g = materialize(g, eager=True)
    df_tab = (
        g.select(F.explode("grams").alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    w = Window.orderBy("df", "gram")
    rk = df_tab.select("gram", F.row_number().over(w).alias("rk"))
    ranked = (
        g.select("id", F.explode("grams").alias("gram"))
        .join(rk, "gram")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("rk")).alias("ra"))
        .selectExpr(
            "id",
            "size(ra) as n",
            "ra",
            f"slice(ra, 1, size(ra) "
            f"- (({t_n} * size(ra) + {t_d} - 1) div {t_d}) + 1) "
            "as prefix",
        )
        # feeds pa, pb AND both verify sides (4 consumers)
        .transform(materialize, eager=True)
    )
    pa = ranked.select(
        F.col("id").alias("id_a"), F.col("n").alias("na"),
        F.posexplode("prefix").alias("pi", "rk"),
    )
    pb = ranked.select(
        F.col("id").alias("id_b"), F.col("n").alias("nb"),
        F.posexplode("prefix").alias("pj", "rk"),
    )
    # length filter (lossless, standard): J >= t forces
    # t*n_a <= n_b <= n_a/t — integer cross-multiplied. Measured on
    # the dense sf0.1 corpus: 118,826 -> 43,543 candidates (2.7x)
    # before the verify stage.
    ub = (
        F.least(F.col("pi"), F.col("pj")) + F.lit(1)
        + F.least(F.col("na") - F.col("pi") - 1, F.col("nb") - F.col("pj") - 1)
    )
    ub2 = F.col("cnt") + F.least(
        F.col("na") - F.col("li") - 1, F.col("nb") - F.col("lj") - 1
    )
    cand = (
        pa.join(pb, "rk")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.lit(t_n) * F.col("na") <= F.lit(t_d) * F.col("nb"))
            & (F.lit(t_n) * F.col("nb") <= F.lit(t_d) * F.col("na"))
            & (F.lit(t_n + t_d) * ub
               >= F.lit(t_n) * (F.col("na") + F.col("nb")))
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("pi").alias("li"),
            F.max("pj").alias("lj"),
        )
        .filter(
            F.lit(t_n + t_d) * ub2 >= F.lit(t_n) * (F.col("na") + F.col("nb"))
        )
        .select("id_a", "id_b")
    )
    ga = ranked.selectExpr("id as id_a", "ra as ga", "n as n_a")
    gb = ranked.selectExpr("id as id_b", "ra as gb", "n as n_b")
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn(
            "shared", F.expr("size(array_intersect(ga, gb))")
        )
        .filter(
            F.expr(f"{t_d} * shared >= {t_n} * (n_a + n_b - shared)")
        )
        .selectExpr(
            "id_a", "id_b", "n_a", "n_b",
            "cast(shared as bigint) as shared",
            "cast(shared as double) / cast(n_a + n_b - shared as double)"
            " as jacc",
        )
    )
