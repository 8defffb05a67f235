"""Similarity search over embedding columns (array<float>).

Every search here has one shape: pair the candidates, score each pair by
``cosine``, then keep the top k per key (``_topk``, one
``operators.windows.top_n_per_group`` window; ties go to the lowest id).
The functions differ in how they pair candidates:

- all pairs, for a bounded query panel: a crossJoin (``cosine_topk``,
  ``hard_negatives_topk``, ``quantized_rerank_topk``);
- a shared random-hyperplane LSH bucket: an equi-join on the bucket key
  (``lsh_bucket_topk``, ``lsh_bucket_topk_multiprobe``,
  ``cosine_neardup_pairs``). At 100 TB the corpus is bucketed once and a
  query touches 1/256 of it; only signature keys shuffle;
- shared IVF cells (``ivf_topk``, ``hard_negatives_topk_ivf``,
  ``quantized_rerank_topk_ivf``): ``_nearest_cells`` assigns both sides
  to their nearest centroids through a broadcast crossJoin, and the
  posting lists join on the cell key.

The IVF centroids are the first ``n_cells`` vectors by id
(``_seed_cells``), or k-means trained from that seed by one Lloyd loop
(``_lloyd``, behind ``kmeans_lloyd_step``, ``kmeans_train`` and
``kmeans_train_centroids``) whose centroid means are exact integer
micro-units (``_cell_means``). ``semantic_dedup`` prunes pairs within
k-means cells, ``hybrid_rrf_topk`` fuses a lexical and a vector ranking,
``ann_recall`` scores IVF against the exact scan, and
``tfidf_cosine_pairs`` is the exact sparse-weight self-join.

The dot product is a sequential left fold in double precision, matching
DuckDB's ``list_reduce`` element order bit-for-bit for the oracle.
Hyperplanes are generated from a seeded RNG at plan-build time and embedded
as literals — deterministic across runs and engines (the oracle SQL embeds
the same constants).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.windows import top_n_per_group
from ..session import materialize
from ..session import spread_small_input as _spread


def dot_double(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    """Sequential left-fold sum of squares (double)."""
    return F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def cosine(a: Column, b: Column) -> Column:
    """cos = dot / (sqrt(|a|²) * sqrt(|b|²)) — one formula, mirrored
    verbatim in the oracle SQL. ``try_divide``: a zero-norm (or NULL)
    vector has no defined direction — its cosine is NULL, exactly like
    DuckDB's division-by-zero result (r10 adversarial census pin); ANSI
    division would abort the whole scan instead."""
    return F.try_divide(
        dot_double(a, b), F.sqrt(norm2(a)) * F.sqrt(norm2(b))
    )


def _side(df: DataFrame, id_col: str, vec_col: str, key: str, vec: str,
          *extra: Column) -> DataFrame:
    """One side of a pairing: (key, vec, *extra) renamed from the input's
    id and vector columns."""
    return df.select(
        F.col(id_col).alias(key), F.col(vec_col).alias(vec), *extra
    )


def _score(pairs: DataFrame, key: str, other: str, *keep: str,
           cv: str = "cv", score: str = "cos_sim") -> DataFrame:
    """Verify candidate pairs: (key, other, *keep, score), the cosine of
    ``qv`` against ``cv``, with self-pairs dropped."""
    return pairs.filter(F.col(key) != F.col(other)).select(
        key, other, *keep, cosine(F.col("qv"), F.col(cv)).alias(score)
    )


def _topk(scored: DataFrame, key: str, tie: str, n: int,
          score: str = "cos_sim", rank: str | None = "rank") -> DataFrame:
    """The ``n`` best rows per ``key`` by ``score``, ties to the lowest
    ``tie``; ``rank`` names the kept long rank (None drops it)."""
    return top_n_per_group(
        scored, [key], [F.desc(score), F.col(tie)], n, rank
    )


def _neighbors(pairs: DataFrame, k: int, *keep: str) -> DataFrame:
    """(query_id, neighbor_id, *keep, cos_sim, rank): top-k neighbors of
    each query among its (qv, cv) candidate pairs."""
    return _topk(
        _score(pairs, "query_id", "neighbor_id", *keep),
        "query_id", "neighbor_id", k,
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Brute-force exact top-k cosine neighbors for each query vector.
    Excludes self-matches; ties broken by lowest corpus id.
    Returns (query_id, neighbor_id, cos_sim, rank)."""
    q = _side(queries, id_col, vec_col, "query_id", "qv")
    # spread the (often single-file) corpus scan so the pairwise cosine
    # evaluates across the cluster, not in one scan task (no-op at scale)
    c = _side(_spread(corpus), id_col, vec_col, "neighbor_id", "cv")
    return _neighbors(q.crossJoin(c), k)


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded, ±1 components —
    exact in float/double, so sign computations are engine-identical)."""
    rng = random.Random(seed)
    return [
        [float(rng.choice((-1.0, 1.0))) for _ in range(dim)]
        for _ in range(n_planes)
    ]


def _plane_dots(vec: Column, planes: list[list[float]]) -> list[Column]:
    return [dot_double(vec, F.array(*[F.lit(x) for x in p])) for p in planes]


def _signature(dots: list[Column]) -> Column:
    sig = F.lit(0).cast("long")
    for b, d in enumerate(dots):
        sig = sig + F.when(d > 0, F.lit(2**b)).otherwise(0).cast("long")
    return sig


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id: bit b set iff dot(vec, plane_b) > 0."""
    return _signature(_plane_dots(vec, planes))


def _bucket_neighbors(
    corpus: DataFrame, q: DataFrame, planes: list[list[float]],
    id_col: str, vec_col: str, k: int,
) -> DataFrame:
    """Top-k over the (query_id, qv, bucket) queries' bucket-mates."""
    # sign the corpus across the cluster (single-file scans sign in one
    # task otherwise; projections are not pushed below the repartition)
    c = _side(
        _spread(corpus), id_col, vec_col, "neighbor_id", "cv",
        lsh_signature(F.col(vec_col), planes).alias("bucket"),
    )
    return _neighbors(q.join(c, on="bucket"), k, "bucket")


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """ANN: exact cosine top-k *within the query's LSH bucket* — the
    recall/latency trade the brute-force path can't make at scale.
    Returns (query_id, neighbor_id, bucket, cos_sim, rank)."""
    planes = hyperplanes(dim, n_planes, seed)
    q = _side(
        queries, id_col, vec_col, "query_id", "qv",
        lsh_signature(F.col(vec_col), planes).alias("bucket"),
    )
    return _bucket_neighbors(corpus, q, planes, id_col, vec_col, k)


def lsh_bucket_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
    probe: int = 2,
) -> DataFrame:
    """Multi-probe ANN (the q39 recall knob): each query searches its own
    LSH bucket AND the bucket reached by flipping its *lowest-margin*
    plane bit — the plane whose |dot| is smallest, i.e. the boundary the
    query sits closest to, which is where its missed neighbors live.

    ``probe=1`` degenerates to ``lsh_bucket_topk``; ``probe=2`` doubles
    the candidate set for ~2× work (still ~2/256 of brute force) and
    recovers most boundary-split neighbors. Scale shape is unchanged: the
    query side explodes to ``probe`` rows, the join still shuffles bucket
    keys only. Ties in the margin pick the lowest plane index —
    deterministic, mirrored in the oracle SQL.

    Returns (query_id, neighbor_id, bucket, cos_sim, rank); ``bucket`` is
    the bucket the neighbor was found in.
    """
    if probe not in (1, 2):
        raise ValueError("probe must be 1 or 2 (flip-one-bit multiprobe)")
    planes = hyperplanes(dim, n_planes, seed)
    dots = _plane_dots(F.col(vec_col), planes)
    sig = _signature(dots)
    if probe == 1:
        buckets = F.array(sig)
    else:
        minv = F.least(*[F.abs(d) for d in dots])
        flip = F.lit(None).cast("long")
        for b in reversed(range(n_planes)):
            flip = F.when(F.abs(dots[b]) == minv, F.lit(2**b).cast("long")).otherwise(flip)
        buckets = F.array(sig, sig.bitwiseXOR(flip))
    q = _side(
        queries, id_col, vec_col, "query_id", "qv",
        F.explode(buckets).alias("bucket"),
    )
    return _bucket_neighbors(corpus, q, planes, id_col, vec_col, k)


def cosine_neardup_pairs(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection: candidate pairs from a
    shared random-hyperplane LSH bucket, verified by exact cosine ≥
    threshold. Returns (id_a, id_b, cos_sim), id_a < id_b.

    The semantic-dedup complement to the lexical MinHash path: catches
    paraphrases that share no shingles. Same scale shape as MinHash-LSH —
    signatures are per-row expressions, only bucket keys shuffle, and the
    self-join is bucket-local (recall is the documented LSH trade:
    cross-bucket pairs are missed; more planes/tables raise it).
    """
    planes = hyperplanes(dim, n_planes, seed)
    # NOT checkpointed (r13, measured): the two bucket self-join sides
    # are identical subtrees (ReuseExchange dedups the scan+signature
    # exchange); a lazy localCheckpoint here measured a wash-to-regression
    # at sf0.1 across two interleaved A/Bs (q48 -0.25 then +0.34, q136
    # +0.5) — the RDD barrier buys nothing the reuse doesn't already.
    s = _side(
        _spread(corpus), id_col, vec_col, "_id", "_v",
        lsh_signature(F.col(vec_col), planes).alias("bucket"),
    )
    a, b = (_side(s, "_id", "_v", f"id_{x}", f"v{x}", "bucket") for x in "ab")
    return (
        a.join(b, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _seed_cells(df: DataFrame, id_col: str, vec_col: str,
                n_cells: int) -> DataFrame:
    """The deterministic coarse quantizer: the first ``n_cells`` vectors
    by id as the (cell, centv) centroid table."""
    return _side(
        df.filter(F.col(id_col) < n_cells), id_col, vec_col, "cell", "centv"
    )


def _nearest_cells(df: DataFrame, cents: DataFrame, key: str, vec: str,
                   probes: int = 1,
                   src: tuple[str, str] | None = None) -> DataFrame:
    """(key, vec, cell, _cs): each row's ``probes`` nearest (cell, centv)
    centroids by cosine ``_cs``, ties to the lowest cell. The centroid
    table is tiny, so it is broadcast and the scoring is a narrow map.
    ``src`` names df's (id, vector) columns when they are renamed to
    (key, vec) on the way in."""
    sid, svec = src or (key, vec)
    scored = df.crossJoin(F.broadcast(cents)).select(
        F.col(sid).alias(key), F.col(svec).alias(vec), "cell",
        cosine(F.col(svec), F.col("centv")).alias("_cs"),
    )
    return _topk(scored, key, "cell", probes, "_cs", None)


def _ivf_pairs(q: tuple, c: tuple, cents: DataFrame, nprobe: int,
               src: tuple[str, str] | None = None) -> DataFrame:
    """Candidate pairs through IVF cells between the (frame, key, vector)
    sides ``q`` and ``c``: each query meets the posting lists of its
    ``nprobe`` nearest cells; a corpus row lives in exactly one cell, so
    the pairs are unique."""
    (qdf, *qn), (cdf, *cn) = q, c
    return _nearest_cells(qdf, cents, *qn, nprobe, src).drop("_cs").join(
        _nearest_cells(cdf, cents, *cn, 1, src).drop("_cs"), on="cell"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    k: int = 5,
    nprobe: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: a coarse quantizer (here: the first ``n_cells``
    corpus vectors by id — deterministic, so the oracle can reproduce it;
    production would k-means these) assigns every vector to its
    nearest-centroid cell; a query searches its ``nprobe``
    nearest-centroid cells' posting lists (corpus vectors always live in
    exactly one cell). Returns (query_id, neighbor_id, cell, cos_sim,
    rank).

    Scale shape: the centroid table is tiny → broadcast to every executor
    (assignment is a narrow map), posting lists are hash-partitioned by
    cell, and a query shuffles only its cell keys — nprobe/n_cells of
    brute-force work per query at balanced cells. nprobe>1 is literally a
    union of cell keys on the query side: the posting-list join, the
    partitioning, and the plan shape are unchanged (the recall knob does
    not re-architect the query).

    ``centroids``: an optional (cell, centv) frame — e.g. the output of
    :func:`kmeans_train_centroids` — replacing the deterministic
    first-``n_cells`` coarse quantizer (q123 wires the trained table in;
    the plan shape is identical, only the broadcast build side changes).
    """
    if centroids is None:
        centroids = _seed_cells(corpus, id_col, vec_col, n_cells)
    # assignment cosines evaluate before the window exchange, in the
    # scan task — spread the (often single-file) corpus so they
    # parallelize (no-op at scale)
    pairs = _ivf_pairs(
        (queries, "query_id", "qv"), (_spread(corpus), "neighbor_id", "cv"),
        centroids, nprobe, (id_col, vec_col),
    )
    return _neighbors(pairs, k, "cell")


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage path for
    embedding columns at 100 TB (4x smaller than float32, 8x smaller than
    float64; ANN candidate generation runs on the int8 vectors and only
    the final re-rank touches full precision). Per vector:
    ``scale = max|x| / 127``, ``q_i = round(x_i / scale)`` — pure per-row
    expressions at scan speed.

    Returns (id, scale, q int8-range array<int>, recon_cos): the exact
    cosine between the original and the dequantized vector, the quality
    gauge for the compression (typically > 0.99 for real embeddings).
    Zero vectors get scale 0 and recon_cos null."""
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))) / 127.0
    q = F.transform(
        F.col("_v"), lambda x: F.round(x.cast("double") / F.col("scale")).cast("int")
    )
    deq = F.transform(F.col("q"), lambda x: x.cast("double") * F.col("scale"))
    return (
        df.select(F.col(id_col), v.alias("_v"), scale.alias("scale"))
        .withColumn("q", F.when(F.col("scale") > 0, q).otherwise(
            F.transform(F.col("_v"), lambda x: F.lit(0))))
        .withColumn("recon_cos", F.when(
            F.col("scale") > 0, cosine(F.col("_v"), deq)))
        .drop("_v")
    )


def _cell_means(assigned: DataFrame) -> DataFrame:
    """(cell, centv): the elementwise mean of each cell's ``_v`` vectors.

    One shuffle keyed by (cell, component) — posexplode spreads the mean
    over cells × dim keys, so no single reducer sees a whole cell. Means
    are summed in integer micro-units (``round(x * 1e6)`` — ties round
    away from zero identically in both engines, unlike double→decimal
    casts), so the sum is exact integer arithmetic and the centroids are
    bit-identical across engines, at a documented 1e-6 quantization."""
    comp = assigned.select("cell", F.posexplode(F.col("_v")).alias("pos", "x"))
    return (
        comp.groupBy("cell", "pos")
        .agg(
            (
                F.sum(
                    F.round(F.col("x").cast("double") * 1e6).cast("long")
                ).cast("double")
                / (F.count("*") * F.lit(1000000)).cast("double")
            ).alias("m")
        )
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("centv")
        )
    )


def _lloyd(
    v: DataFrame, cents: DataFrame, rounds: int, checkpoint_seed: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``rounds`` Lloyd (k-means) iterations over the (_id, _v) vectors
    from the (cell, centv) seed centroids: assign every vector to its
    nearest cell, then move each centroid to its cell's mean.

    Returns (seed assignment, vectors, trained centroids); an assignment
    is (_id, _v, cell, _cs), and the final one is
    ``_nearest_cells(vectors, centroids, "_id", "_v")``. Cells that lose
    every member drop out of later rounds. Lineage is cut once per round
    so the plan stays flat over the rounds: at each round's centroid
    table, or, with ``checkpoint_seed``, at the seed assignment, which
    then also supplies the vectors (the one-round step reads it three
    times)."""
    seed = a = _nearest_cells(v, cents, "_id", "_v")
    if checkpoint_seed:
        seed = a = materialize(a)
        v = a.select("_id", "_v")
    for r in range(rounds):
        if r:
            a = _nearest_cells(v, cents, "_id", "_v")
        cents = _cell_means(a)
        if not checkpoint_seed:
            cents = materialize(cents)
    return seed, v, cents


def _assignments(seed: DataFrame, v: DataFrame, cents: DataFrame,
                 id_col: str, to: str) -> DataFrame:
    """(id, cell_init, cell_<to>, cos_<to>) from ``_lloyd``'s result: each
    vector's seed cell, its cell under the trained centroids and the
    cosine to that centroid."""
    final = _nearest_cells(v, cents, "_id", "_v")
    return seed.select("_id", F.col("cell").alias("cell_init")).join(
        final.select("_id", "cell", F.col("_cs").alias(f"cos_{to}")), on="_id"
    ).select(
        F.col("_id").alias(id_col),
        F.col("cell_init").cast("long").alias("cell_init"),
        F.col("cell").cast("long").alias(f"cell_{to}"),
        f"cos_{to}",
    )


def _train_input(corpus: DataFrame, id_col: str,
                 vec_col: str) -> DataFrame:
    """The (_id, _v) vectors that every training round re-assigns."""
    # spread the scan once; every round's assignment reuses it. NOT
    # checkpointed (r13, measured): the per-round scan+spread Exchange
    # subtrees are identical, so ReuseExchange already dedups them in
    # the final plan; a localCheckpoint barrier here replaced that
    # shuffle reuse with a row-copying deserialized RDD cache and more
    # than doubled q111/q123 wall-clock at sf0.1 (6.2 s -> 13.9 s,
    # 3.4 s -> 14.7 s A/B).
    return _side(_spread(corpus), id_col, vec_col, "_id", "_v")


def kmeans_lloyd_step(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
) -> DataFrame:
    """One Lloyd (k-means) refinement iteration over cosine cells — the
    step that turns the IVF coarse quantizer's deterministic seed
    centroids (``ivf_topk``: first ``n_cells`` vectors by id) into data-
    driven ones. Production iterates this to a fixed round count; one
    oracle-checkable step proves the distributed shape.

    Returns (id, cell_init, cell_next, cos_next): the assignment before
    and after the refined centroids, and the cosine to the new centroid.

    Scale shape per iteration: assignment is a broadcast of ``n_cells``
    centroids (narrow map + per-row argmax window keyed by id); the
    centroid update is ONE shuffle keyed by (cell, component) with
    integer micro-unit means (``_cell_means``), so the refined centroids
    are bit-identical across engines.
    """
    # spread the scan: assignment cosines otherwise evaluate in one task
    v = _side(_spread(corpus), id_col, vec_col, "_id", "_v")
    # the seed assignment feeds the centroid update, the refined
    # re-assignment (which re-scores the SAME vectors), and the final
    # join — un-materialized, each consumer re-ran the scan + broadcast
    # scoring + argmax window (6 embedding scans in q103's executed
    # plan). Checkpoint once: this is the (id, vec, cell) assignment
    # table a production IVF build persists anyway (the semantic_dedup
    # note), and it replaces three argmax-window shuffles of the vector
    # payload with one.
    trained = _lloyd(
        v, _seed_cells(corpus, id_col, vec_col, n_cells), 1,
        checkpoint_seed=True,
    )
    return _assignments(*trained, id_col, "next")


def _rerank(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
    k: int, overfetch: int, pair,
) -> DataFrame:
    """The two stages of the int8 re-rankers. Stage 1 scores the
    (query_id, qv) queries against the dequantised (neighbor_id, dv)
    corpus rows that ``pair`` joins them with, keeping ``k * overfetch``
    per query; stage 2 re-ranks those by full-precision cosine."""
    dq = quantize_int8(corpus, vec_col, id_col).filter(F.col("scale") > 0).select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(
            F.col("q"), lambda x: x.cast("double") * F.col("scale")
        ).alias("dv"),
    )
    cand = _score(
        pair(_side(queries, id_col, vec_col, "query_id", "qv"), dq),
        "query_id", "neighbor_id", "qv", cv="dv", score="q_sim",
    )
    shortlist = _topk(
        cand, "query_id", "neighbor_id", k * overfetch, "q_sim", None
    ).select("query_id", "neighbor_id", "qv")
    full = _side(corpus, id_col, vec_col, "neighbor_id", "cv")
    return _topk(
        shortlist.join(full, "neighbor_id").select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        ),
        "query_id", "neighbor_id", k,
    )


def quantized_rerank_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    overfetch: int = 4,
    n_cells: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """:func:`quantized_rerank_topk` for UNBOUNDED query batches: stage-1
    candidate generation routes through IVF cells instead of scanning the
    whole int8 corpus per query. The exact-scan variant is the right
    baseline when the query set is small (its stage 1 is a single pass
    over the always-hot int8 bytes); at a large query batch its
    queries × corpus candidate stage dominates, and this variant cuts it
    to ~nprobe/n_cells of that by pairing each query only with the
    posting lists of its nearest cells (q74's IVF machinery over the
    DEQUANTIZED int8 vectors).

    Scale shape: centroids (first ``n_cells`` corpus vectors by id — the
    same deterministic coarse quantizer as :func:`ivf_topk`) broadcast to
    both assignments; posting lists hash-partition on the cell id; the
    candidate join is an equi-join on cell keys — the full query × corpus
    pairing never forms (plan-tested). Stage 2 re-ranks the
    ``k * overfetch`` survivors per query in full precision, unchanged.

    With ``nprobe == n_cells`` every cell is probed, the candidate set
    equals the exact-scan variant's, and the output is identical — the
    equivalence the unit test pins. Returns (query_id, neighbor_id,
    cos_sim, rank).
    """
    cents = _seed_cells(corpus, id_col, vec_col, n_cells)
    return _rerank(
        corpus, queries, id_col, vec_col, k, overfetch,
        lambda q, dq: _ivf_pairs(
            (q, "query_id", "qv"), (dq, "neighbor_id", "dv"), cents, nprobe
        ),
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    threshold: float = 0.85,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space with k-means, then prune
    near-duplicate vectors WITHIN each cluster by pairwise cosine — the
    embedding-level complement to lexical MinHash dedup, catching
    paraphrases that share no shingles.

    Composition of proven pieces: the cluster assignment is one
    :func:`kmeans_lloyd_step` (broadcast centroids, integer micro-unit
    means — q87's oracle-exact shape); the prune rule is deterministic —
    a vector is ``pruned`` iff a LOWER-id vector in the same cluster has
    cosine ≥ ``threshold`` with it (keep-lowest-id, the same convention
    every dedup op here uses), with ``dup_of`` = the best such neighbor
    (max cosine, ties to lowest id).

    Scale shape: NO cross-cluster pairs ever form — the pair join is an
    equi-join on the cluster id, so the quadratic term is bounded per
    cluster, and ``n_cells`` is the knob that keeps clusters at ~constant
    size as the corpus grows (production: n_cells ≈ N/5k, the SemDeDup
    paper's regime; the assignment stays a broadcast because centroids
    are still ≪ data). Zero vectors have null cosine and are never
    pruned.

    Returns (id, cell, status 'kept'|'pruned', dup_of, max_cos).
    """
    assign = kmeans_lloyd_step(corpus, id_col, vec_col, n_cells)
    # per-vector norm computed ONCE here, not per pair: the pair stage is
    # the quadratic term, so hoisting sqrt(|v|²) out of it cuts its fold
    # work 3× (dot only, vs dot + both norms). cos value is bit-identical:
    # sqrt(norm2(v)) does not depend on which row pairs it.
    v = _side(
        corpus, id_col, vec_col, "_id", "_v",
        F.sqrt(norm2(F.col(vec_col))).alias("_nrm"),
    )
    m = (
        assign.select(F.col(id_col).alias("_id"), F.col("cell_next").alias("cell"))
        .join(v, "_id")
    )
    # the assignment frame feeds BOTH pair sides and the final verdict
    # join; uncached, each branch re-runs the whole Lloyd chain (observed:
    # 18 embedding scans, 9 centroid broadcasts in the physical plan).
    # Materialise it once. At 100 TB this is the (id, cell, vec, norm)
    # assignment table a production pipeline would persist anyway. The
    # checkpoint keeps the partition count AQE coalesced m's last stage
    # to by bytes (ONE at sf0.1, ~0.5 MB), which ran the quadratic pair
    # stage as one task (3.2 s vs 2.5 s warm): spread it back to the
    # session's parallelism, a no-op once m spans the cluster.
    m = _spread(materialize(m))
    a, b = (
        _side(m, "_id", "_v", f"id_{x}", f"v{x}",
              F.col("_nrm").alias(f"n{x}"), "cell")
        for x in "ab"
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            # try_divide: a zero-norm (all-zero) vector yields cs=NULL —
            # matching DuckDB x/0=NULL — and NULL fails the >= threshold
            # filter in both engines, so degenerate vectors are never
            # "duplicates" and never abort the job (ANSI would throw).
            F.try_divide(
                dot_double(F.col("va"), F.col("vb")),
                F.col("na") * F.col("nb"),
            ).alias("cs"),
        )
        .filter(F.col("cs") >= threshold)
    )
    dup = _topk(pairs, "id_b", "id_a", 1, "cs", None).select(
        F.col("id_b").alias("_id"),
        F.col("id_a").alias("dup_of"),
        F.col("cs").alias("max_cos"),
    )
    return (
        m.select("_id", "cell")
        .join(dup, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("cell").cast("long").alias("cell"),
            F.when(F.col("dup_of").isNotNull(), F.lit("pruned"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            "dup_of",
            "max_cos",
        )
    )


def quantized_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    overfetch: int = 4,
) -> DataFrame:
    """Two-stage retrieval over int8 storage — the path q80's docstring
    promises: candidate generation scores queries against the DEQUANTIZED
    int8 corpus (the 4-8x smaller representation that is all a 100 TB
    vector store keeps hot), then only the ``k * overfetch`` survivors
    per query are re-ranked with exact full-precision cosine.

    At scale the first stage reads int8 bytes instead of float64 (the
    bandwidth win), and the expensive exact pass touches a constant
    number of candidates per query regardless of corpus size. Zero
    vectors (scale 0) are excluded from the candidate path — they are
    unrankable under cosine.

    Returns (query_id, neighbor_id, cos_sim, rank) — exact cosine of the
    final top-k, ties broken by lowest neighbor id at both stages.

    Cross-engine note: the stage-1 shortlist boundary rides on float
    cosine values computed independently per engine, so a near-tie at
    rank k*overfetch can admit different candidates; ``overfetch`` is the
    buffer against that. The registry oracle (q101) is GENERATED from the
    same (k, overfetch) constants it passes here, so the verified
    envelope always matches the call — change the constants there, not
    the SQL.
    """
    return _rerank(
        corpus, queries, id_col, vec_col, k, overfetch, DataFrame.crossJoin
    )


def ann_recall(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """Recall@k evaluation of the IVF index against exact search — the
    quality gate every ANN deployment needs before trusting an index at
    100 TB: run ``ivf_topk`` and brute-force ``cosine_topk`` over the
    same (bounded) query panel and report per-query overlap.

    Returns (query_id, n_exact, n_hits, recall): ``n_exact`` is the exact
    top-k size (== k unless the corpus is smaller), ``n_hits`` how many
    of those the index returned, ``recall = n_hits / n_exact``.

    Scale shape: the brute-force arm is the expensive one and exists
    ONLY for the evaluation panel — a fixed small query sample, so the
    crossJoin side is bounded by design (panel x corpus, one pass). The
    index arm is the production plan unchanged. The hit join keys on
    (query_id, neighbor_id) — panel-sized, trivially small. Both arms
    use the same deterministic tie-breaks, so recall is reproducible
    run-to-run and engine-to-engine (oracle-checkable).
    """
    exact = cosine_topk(corpus, queries, id_col, vec_col, k=k).select(
        "query_id", "neighbor_id"
    )
    approx = ivf_topk(
        corpus, queries, id_col, vec_col, n_cells=n_cells, k=k, nprobe=nprobe
    ).select("query_id", F.col("neighbor_id").alias("ann_id"))
    hits = exact.join(
        approx,
        (exact["query_id"] == approx["query_id"])
        & (exact["neighbor_id"] == approx["ann_id"]),
        "left",
    ).select(exact["query_id"], "neighbor_id", "ann_id")
    return hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("ann_id").alias("n_hits"),
        (
            F.count("ann_id").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("recall"),
    )


def kmeans_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    rounds: int = 3,
) -> DataFrame:
    """Multi-round Lloyd training — the full IVF-quantizer build that
    ``kmeans_lloyd_step`` (q87) proves one iteration of: a fixed number
    of assign → exact-integer-micro-unit-mean rounds from the
    deterministic seed centroids (first ``n_cells`` vectors by id). With
    ``rounds=1`` its rows equal ``kmeans_lloyd_step``'s.

    Returns (id, cell_init, cell_final, cos_final): the seed assignment,
    the assignment after ``rounds`` refinements, and the cosine to the
    final centroid.

    Scale shape per round (identical to q87, looped): assignment
    broadcasts ``n_cells`` centroids (narrow map + per-row argmax);
    the centroid update shuffles (cell, component) keys so no reducer
    holds a whole cell. Each round ends in a ``materialize`` of the
    (tiny) centroid frame — n_cells × dim values — truncating lineage so
    the plan stays flat instead of compounding ``rounds`` deep (the CC
    loop's rationale). A fixed round count, not a convergence test,
    keeps the whole build deterministic and oracle-expressible (the
    registry oracle unrolls the same rounds as chained CTEs). Cells that
    lose every member simply drop out of later rounds — identical
    semantics in both engines.
    """
    v = _train_input(corpus, id_col, vec_col)
    trained = _lloyd(v, _seed_cells(v, "_id", "_v", n_cells), rounds)
    return _assignments(*trained, id_col, "final")


def kmeans_train_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    rounds: int = 2,
) -> DataFrame:
    """The TRAINED centroid table :func:`kmeans_train` refines — (cell,
    centv) after ``rounds`` assign → integer-micro-unit-mean iterations
    from the deterministic seed (first ``n_cells`` vectors by id). This
    is the artifact the IVF index is built against in production
    (``ivf_topk(..., centroids=...)`` — q123 closes the "production
    would k-means these" loop the ivf_topk docstring promises). Same
    per-round scale shape and ``materialize`` lineage truncation as
    ``kmeans_train``; cells that lose every member drop out — identical
    semantics in both engines."""
    v = _train_input(corpus, id_col, vec_col)
    return _lloyd(v, _seed_cells(v, "_id", "_v", n_cells), rounds)[2]


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    n_queries: int = 8,
    pool: int = 20,
    k: int = 10,
    rrf_k: int = 60,
    shingle_k: int = 3,
    lex_route: str = "scan",
    num_hashes: int = 12,
    bands: int = 4,
    vec_route: str = "scan",
    n_cells: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion (Cormack et al.,
    SIGIR'09): fuse a LEXICAL ranking (shingle Jaccard against the query
    document) with a SEMANTIC ranking (embedding cosine) as
    ``score = 1/(rrf_k + rank_lex) + 1/(rrf_k + rank_vec)`` — the
    standard way modern retrieval stacks combine BM25/keyword and vector
    arms without score calibration (only RANKS cross the arms, so the
    incomparable score scales never mix).

    The harness tables align ids: ``embeddings.vec_id`` is the embedding
    of ``documents.doc_id``, so a query id < ``n_queries`` selects the
    same query entity on both arms. Each arm ranks its top ``pool``
    candidates per query (ties to lowest doc id), the fusion is a FULL
    OUTER join on (query_id, doc_id) — a doc found by only one arm
    contributes only that arm's term — and the final top ``k`` re-ranks
    by RRF score.

    ``lex_route``: ``"scan"`` (default) is the bounded-panel baseline —
    one panel × corpus Jaccard pass. ``"lsh"`` routes the lexical arm
    through MinHash band candidates (q32's ``lsh_bands`` machinery): the
    panel's band keys equi-join the corpus's band keys, exact Jaccard
    runs only on banded survivors, and the panel × corpus nested-loop
    pairing never forms (plan-tested) — the 100 TB path. The trade is
    standard LSH recall: a doc sharing no band with the query drops out
    of the lexical ranking (it can still reach the fusion through the
    vector arm); banded pairs keep bit-identical Jaccard and relative
    order vs the scan arm.

    ``vec_route``: ``"scan"`` (default) is the brute-force panel × corpus
    cosine; ``"ivf"`` routes the vector arm through :func:`ivf_topk`
    (broadcast centroids, cell-keyed posting-list equi-join) — with both
    arms routed the whole query has NO panel × corpus nested loop left
    and panel growth costs ~nprobe/n_cells of a scan per query. Measured
    at sf0.1 with a 256-query panel the lexical arm alone is ~6x faster
    routed (4.8 s scan vs 0.75 s banded); the fused scan form hides that
    behind the brute-force vector arm, which is exactly why both routes
    exist.

    Determinism/oracle: ranks are integers; each RRF term is one double
    division; the two-term sum has a fixed order — bit-identical across
    engines. Scale shape: both arms are bounded-query-panel passes (the
    evaluation/serving pattern: panel × corpus, one pass each, LSH/IVF
    are the drop-in scale paths); the fusion join keys on panel-sized
    (query, doc) pairs.
    """
    from .dedup import _lsh_join, _shingle_frame, jaccard

    # the shared spread + materialised (_id, _sh) shingle frame: without
    # the barrier, Catalyst evaluates the whole tokenize/shingle tree
    # inside the (often single-partition) scan task feeding the pair
    # join — the q64 lesson; measured 20x on this arm at sf0.1
    # (10 s -> 0.5 s)
    sh = _shingle_frame(docs, "text", "doc_id", shingle_k)
    panel_sh = sh.filter(F.col("_id") < n_queries)
    if lex_route == "lsh":
        lex_scored = _lsh_join(
            panel_sh, sh, ("query_id", "doc_id"), "jac", num_hashes, bands,
            pair=F.col("x._id") != F.col("y._id"),
        )
    elif lex_route == "scan":
        lex_scored = (
            panel_sh.select(F.col("_id").alias("query_id"), F.col("_sh").alias("qsh"))
            .crossJoin(sh.select(F.col("_id").alias("doc_id"), F.col("_sh").alias("sh")))
            .filter(F.col("query_id") != F.col("doc_id"))
            .select(
                "query_id",
                "doc_id",
                jaccard(F.col("qsh"), F.col("sh")).alias("jac"),
            )
        )
    else:
        raise ValueError(f"lex_route must be 'scan' or 'lsh', got {lex_route!r}")
    lex = _topk(lex_scored, "query_id", "doc_id", pool, "jac", "rank_lex").select(
        "query_id", "doc_id", "rank_lex"
    )
    panel = emb.filter(F.col("vec_id") < n_queries)
    if vec_route == "ivf":
        vec = ivf_topk(emb, panel, n_cells=n_cells, k=pool, nprobe=nprobe)
    elif vec_route == "scan":
        vec = cosine_topk(emb, panel, k=pool)
    else:
        raise ValueError(f"vec_route must be 'scan' or 'ivf', got {vec_route!r}")
    vec = vec.select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("rank_vec"),
    )
    fused = lex.join(vec, on=["query_id", "doc_id"], how="full_outer")

    def rrf(rank: str) -> Column:
        return F.coalesce(
            F.lit(1.0) / (F.lit(rrf_k) + F.col(rank)).cast("double"), F.lit(0.0)
        )

    score = rrf("rank_lex") + rrf("rank_vec")
    return _topk(
        fused.select("query_id", "doc_id", "rank_lex", "rank_vec",
                     score.alias("rrf_score")),
        "query_id", "doc_id", k, "rrf_score",
    )


def hard_negatives_topk(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    band_lo: float = 0.05,
    band_hi: float = 0.25,
    n: int = 5,
) -> DataFrame:
    """Contrastive hard-negative mining (exact scan): for each anchor the
    ``n`` MOST-similar candidates inside the cosine band
    ``[band_lo, band_hi)`` — similar enough to be informative negatives
    for embedding training, below the near-dup zone that would make them
    false negatives (SimCLR/DPR-style curriculum mining).

    This is the bounded-anchor-panel baseline (q34's scan shape): one
    anchors × corpus pass, band filter BEFORE the per-anchor rank so the
    window sorts only in-band rows. For unbounded anchor batches use
    :func:`hard_negatives_topk_ivf`, which routes candidate generation
    through IVF cells. Returns (anchor_id, negative_id, cos_sim, rank);
    ties broken by lowest candidate id.
    """
    q = _side(anchors, id_col, vec_col, "anchor_id", "qv")
    c = _side(_spread(corpus), id_col, vec_col, "negative_id", "cv")
    return _band_topk(q.crossJoin(c), band_lo, band_hi, n)


def _band_topk(pairs: DataFrame, band_lo: float, band_hi: float,
               n: int) -> DataFrame:
    """(anchor_id, negative_id, cos_sim, rank): the ``n`` most similar
    in-band candidates per anchor; the band filter runs before the rank,
    so the window sorts only in-band rows."""
    scored = _score(pairs, "anchor_id", "negative_id").filter(
        (F.col("cos_sim") >= band_lo) & (F.col("cos_sim") < band_hi)
    )
    return _topk(scored, "anchor_id", "negative_id", n)


def hard_negatives_topk_ivf(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    band_lo: float = 0.05,
    band_hi: float = 0.25,
    n: int = 5,
    n_cells: int = 8,
    nprobe: int = 4,
) -> DataFrame:
    """:func:`hard_negatives_topk` for UNBOUNDED anchor batches: candidate
    generation routes through IVF cells (the ``quantized_rerank_topk_ivf``
    pattern) instead of scanning the whole corpus per anchor — the
    anchors × corpus pairing never forms (plan-tested: the only
    nested-loop joins are the two broadcast centroid assignments, build
    side = ``n_cells`` rows).

    The coarse quantizer is :func:`ivf_topk`'s deterministic one (first
    ``n_cells`` corpus vectors by id; production would
    :func:`kmeans_train` them). Corpus vectors live in exactly one cell;
    each anchor probes its ``nprobe`` nearest cells. Because the target
    band is MID-similarity (not the nearest-neighbor zone top-k ANN
    probes for), ``nprobe`` should sit higher than an ANN top-k default —
    the band population concentrates in middle-ranked cells, and the
    recall knob is the usual nprobe/n_cells trade. With
    ``nprobe == n_cells`` every cell is probed and the output is
    IDENTICAL to the exact scan (the equivalence the unit test pins).

    Scale shape: centroids broadcast; posting lists hash-partition on the
    cell id; the candidate join is an equi-join on cell keys; the band
    filter prunes before the per-anchor rank window. Returns
    (anchor_id, negative_id, cos_sim, rank).
    """
    pairs = _ivf_pairs(
        (anchors, "anchor_id", "qv"), (_spread(corpus), "negative_id", "cv"),
        _seed_cells(corpus, id_col, vec_col, n_cells), nprobe,
        (id_col, vec_col),
    )
    return _band_topk(pairs, band_lo, band_hi, n)


def tfidf_cosine_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    max_df: int | float = 50,
    k: int = 3,
    scale: int = 1000,
    candidate_budget: int | float | None = None,
) -> DataFrame:
    """EXACT all-pairs TF-IDF cosine similarity self-join over word
    k-gram terms (Bayardo et al., WWW'07 family) — the exact complement
    to the MinHash/LSH near-dup arms: every pair whose weighted cosine
    clears ``threshold`` is found, no banding recall gamble.

    Inverted-index shape, not a cross join: per-(term, doc) tf counts
    pair documents THROUGH the term key, and the ``max_df`` cap drops
    corpus-boilerplate terms — the standard prefix/df pruning that keeps
    per-term fan-out at df² <= max_df² pairs. ``max_df`` is either an
    absolute document count (an override that fits fixed fixtures) or,
    as a float in (0, 1), a df/N FRACTION — the corpus-scale form: the
    cap becomes ``max(1, floor(max_df · N))`` with N the input doc count
    (one count-star job, metadata-cheap on parquet), so "boilerplate"
    keeps meaning *appears in x% of the corpus* as N grows 100×. A
    dropped term contributes ~zero discrimination anyway (its idf is the
    vocabulary floor), and the metric is DEFINED over the capped
    vocabulary so the oracle matches exactly (the oracle derives the
    same cap with the same floor arithmetic).

    ``candidate_budget`` (r13, r12 verdict item 2) bounds the TOTAL
    candidate-pair volume, the quantity the fractional cap cannot see:
    the round-12 docs-sf3 arm measured max df staying ~30x below the
    5%-of-N cap while Sum_t C(df_t, 2) grew EXACTLY quadratically (a
    saturating vocabulary — every term's df grows linearly, none ever
    boilerplate-hot). The budget form derives the df cap FROM the
    candidate volume: the effective cap is the largest threshold C such
    that the surviving terms' pair count Sum_{t: df_t <= C} C(df_t, 2)
    stays <= budget (an int, or a float meaning budget-per-document:
    floor(b * N) — the corpus-scale form, so candidate volume grows
    LINEARLY in N by construction). Combined with ``max_df`` by min.
    Derivation is one df-histogram aggregate plus a cumulative window
    over that (distinct-df-sized, i.e. tiny) frame — the lint-sanctioned
    global-window-over-aggregate shape — joined back as a broadcast
    1-row scalar: no driver round-trip, no second corpus scan. Recall
    trade, documented: terms above the derived cap are dropped from the
    metric exactly like ``max_df`` drops them — lowest-df (most
    discriminative) terms always survive first, so planted near-dups
    (df ~= 2 terms) are the last thing a shrinking budget touches; the
    oracle derives the identical cap with the same integer arithmetic,
    so both engines agree on the capped vocabulary exactly.

    Exactness discipline (q89): weights are integer-quantized —
    wq = round(tf * idf * scale) with the rational idf
    (2N - 2df + 1)/(2df + 1) (the BM25 idf's ln-free form; ln is not
    cross-engine-stable) — so norms and dot products are EXACT integer
    sums in decimal(38,0)/HUGEINT, order-independent under any
    partitioning, and the final cosine is one shared double expression
    over exact integers: bit-identical across engines.

    Returns (id_a, id_b, cos_sim) with id_a < id_b.
    """
    import math

    from .dedup import _frac_cap, ngrams_all

    n_docs = None
    if isinstance(max_df, float) or isinstance(candidate_budget, float):
        n_docs = docs.count()
    max_df = _frac_cap(max_df, "max_df", lambda: n_docs)
    g = _spread(docs).select(
        F.col(id_col).alias("_id"),
        F.explode(ngrams_all(F.col(text_col), k)).alias("term"),
    )
    # tf feeds the df histogram chain AND the weight build — uncached,
    # both re-ran the tokenize+explode+groupBy from the scan (r13)
    tf = materialize(
        g.groupBy("term", "_id").agg(F.count(F.lit(1)).alias("tfc"))
    )
    dfh = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfc"))
    dfq = dfh.filter(F.col("dfc") <= max_df)
    if candidate_budget is not None:
        if isinstance(candidate_budget, float):
            if candidate_budget <= 0:
                raise ValueError("fractional candidate_budget must be > 0")
            budget = max(1, math.floor(candidate_budget * n_docs))
        else:
            budget = int(candidate_budget)
        # df histogram -> cumulative surviving-pair count, ascending df
        # (exact decimal: C(df,2) products are even, halves exact) ->
        # the largest df threshold whose survivors fit the budget. The
        # window runs over the distinct-df-sized aggregate frame (the
        # lint-sanctioned shape); the result joins back as a broadcast
        # 1-row scalar.
        hist = dfh.groupBy("dfc").agg(
            F.sum(
                F.col("dfc").cast("decimal(38,0)") * (F.col("dfc") - 1) / 2
            ).alias("pairs")
        )
        cum_w = Window.orderBy("dfc").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        capb = (
            hist.withColumn("cpairs", F.sum("pairs").over(cum_w))
            .filter(F.col("cpairs") <= F.lit(budget))
            .agg(F.coalesce(F.max("dfc"), F.lit(1)).alias("_capb"))
        )
        dfq = (
            dfq.crossJoin(F.broadcast(capb))
            .filter(F.col("dfc") <= F.col("_capb"))
            .drop("_capb")
        )
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    wt = materialize(
        tf.join(dfq, on="term")
        .crossJoin(F.broadcast(nd))
        .select(
            "term",
            "_id",
            F.expr(
                f"CAST(round((tfc * (2 * nd - 2 * dfc + 1) * {scale}.0)"
                " / (2 * dfc + 1)) AS BIGINT)"
            ).alias("wq"),
        )
    )
    nrm = wt.groupBy("_id").agg(
        F.sum(F.col("wq").cast("decimal(38,0)") * F.col("wq")).alias("nsq")
    )
    wa = wt.select(F.col("_id").alias("id_a"), "term",
                   F.col("wq").alias("wa"))
    wb = wt.select(F.col("_id").alias("id_b"), "term",
                   F.col("wq").alias("wb"))
    dots = (
        wa.join(wb, on="term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.col("wa").cast("decimal(38,0)") * F.col("wb"))
            .alias("dot")
        )
    )
    na = nrm.select(F.col("_id").alias("id_a"), F.col("nsq").alias("na"))
    nb = nrm.select(F.col("_id").alias("id_b"), F.col("nsq").alias("nb"))
    cos = F.expr(
        "CAST(dot AS DOUBLE)"
        " / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))"
    )
    return (
        dots.join(na, on="id_a")
        .join(nb, on="id_b")
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
