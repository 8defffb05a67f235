"""Similarity search over embedding columns (array<float>).

- ``cosine_topk`` — brute-force exact top-k: the baseline. The dot product
  is a sequential left fold in double precision, matching DuckDB's
  ``list_reduce`` element order bit-for-bit for the oracle.
- ``lsh_bucket_topk`` — the scale path: deterministic random-hyperplane
  LSH buckets; candidates only within the query's bucket. At 100 TB the
  corpus is bucketed once (8-bit signature → 256-way partition key) and a
  query touches 1/256 of the data; the bucket join shuffles signature keys
  only.

Hyperplanes are generated from a seeded RNG at plan-build time and embedded
as literals — deterministic across runs and engines (the oracle SQL embeds
the same constants).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

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
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    # spread the (often single-file) corpus scan so the pairwise cosine
    # evaluates across the cluster, not in one scan task (no-op at scale)
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded, ±1 components —
    exact in float/double, so sign computations are engine-identical)."""
    rng = random.Random(seed)
    return [
        [float(rng.choice((-1.0, 1.0))) for _ in range(dim)]
        for _ in range(n_planes)
    ]


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id: bit b set iff dot(vec, plane_b) > 0."""
    sig = F.lit(0).cast("long")
    for b, plane in enumerate(planes):
        arr = F.array(*[F.lit(x) for x in plane])
        sig = sig + F.when(dot_double(vec, arr) > 0, F.lit(2**b)).otherwise(
            0
        ).cast("long")
    return sig


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
    # sign the corpus across the cluster (single-file scans sign in one
    # task otherwise; projections are not pushed below the repartition)
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        lsh_signature(F.col(vec_col), planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        lsh_signature(F.col(vec_col), planes).alias("bucket"),
    )
    scored = (
        q.join(c, on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "bucket",
            cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


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
    # sign the corpus across the cluster (single-file scans sign in one
    # task otherwise; projections are not pushed below the repartition)
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        lsh_signature(F.col(vec_col), planes).alias("bucket"),
    )
    dots = [
        dot_double(F.col(vec_col), F.array(*[F.lit(x) for x in p]))
        for p in planes
    ]
    sig = F.lit(0).cast("long")
    for b, d in enumerate(dots):
        sig = sig + F.when(d > 0, F.lit(2**b)).otherwise(0).cast("long")
    if probe == 1:
        buckets = F.array(sig)
    else:
        minv = F.least(*[F.abs(d) for d in dots])
        flip = F.lit(None).cast("long")
        for b in reversed(range(n_planes)):
            flip = F.when(F.abs(dots[b]) == minv, F.lit(2**b).cast("long")).otherwise(flip)
        buckets = F.array(sig, sig.bitwiseXOR(flip))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(buckets).alias("bucket"),
    )
    scored = (
        q.join(c, on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "bucket",
            cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


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
    s = _spread(corpus).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        lsh_signature(F.col(vec_col), planes).alias("bucket"),
    )
    a = s.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("va"), "bucket"
    )
    b = s.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("vb"), "bucket"
    )
    return (
        a.join(b, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
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
    cents = (
        centroids
        if centroids is not None
        else corpus.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("cell"), F.col(vec_col).alias("centv")
        )
    )

    def assign(df: DataFrame, idal: str, val: str, probes: int = 1) -> DataFrame:
        scored = df.crossJoin(F.broadcast(cents)).select(
            F.col(id_col).alias(idal),
            F.col(vec_col).alias(val),
            "cell",
            cosine(F.col(vec_col), F.col("centv")).alias("_cs"),
        )
        w = Window.partitionBy(idal).orderBy(F.desc("_cs"), F.col("cell"))
        return (
            scored.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= probes)
            .drop("_cs", "_rk")
        )

    # assignment cosines evaluate before the window exchange, in the
    # scan task — spread the (often single-file) corpus so they
    # parallelize (no-op at scale)
    posting = assign(_spread(corpus), "neighbor_id", "cv")
    qcells = assign(queries, "query_id", "qv", probes=nprobe)
    scored = (
        qcells.join(posting, on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "cell",
            cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


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
    centroids (narrow map + per-row argmax window keyed by id);
    the centroid update is ONE shuffle keyed by (cell, component) —
    posexplode spreads the elementwise mean over cells × dim keys, so no
    single reducer sees a whole cell; component means are computed in
    integer micro-units (``round(x * 1e6)`` — ties round away from zero
    identically in both engines, unlike double→decimal casts) so summation
    is exact integer arithmetic and the refined centroids are
    bit-identical across engines, at a documented 1e-6 centroid
    quantization.
    """
    cents = corpus.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("centv")
    )
    # spread the scan: assignment cosines otherwise evaluate in one task
    v = _spread(corpus).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )

    def nearest(src: DataFrame, cent_df: DataFrame, out: str) -> DataFrame:
        scored = src.crossJoin(F.broadcast(cent_df)).select(
            "_id",
            "_v",
            "cell",
            cosine(F.col("_v"), F.col("centv")).alias("_cs"),
        )
        w = Window.partitionBy("_id").orderBy(F.desc("_cs"), F.col("cell"))
        return (
            scored.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("_id", "_v", F.col("cell").alias(out), F.col("_cs").alias(f"_cs_{out}"))
        )

    # the seed assignment feeds the centroid update, the refined
    # re-assignment (which re-scores the SAME vectors), and the final
    # join — un-materialized, each consumer re-ran the scan + broadcast
    # scoring + argmax window (6 embedding scans in q103's executed
    # plan). Checkpoint once: this is the (id, vec, cell) assignment
    # table a production IVF build persists anyway (the semantic_dedup
    # note), and it replaces three argmax-window shuffles of the vector
    # payload with one.
    a0 = nearest(v, cents, "cell_init").transform(materialize)
    comp = a0.select(
        "cell_init", F.posexplode(F.col("_v")).alias("pos", "x")
    )
    means = (
        comp.groupBy("cell_init", "pos")
        .agg(
            (
                F.sum(
                    F.round(F.col("x").cast("double") * 1e6).cast("long")
                ).cast("double")
                / (F.count("*") * F.lit(1000000)).cast("double")
            ).alias("m")
        )
        .groupBy("cell_init")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("centv")
        )
        .select(F.col("cell_init").alias("cell"), "centv")
    )
    a1 = nearest(a0.select("_id", "_v"), means, "cell_next")
    return (
        a0.select("_id", "cell_init")
        .join(a1.select("_id", "cell_next", F.col("_cs_cell_next").alias("cos_next")), on="_id")
        .select(
            F.col("_id").alias(id_col),
            F.col("cell_init").cast("long").alias("cell_init"),
            F.col("cell_next").cast("long").alias("cell_next"),
            "cos_next",
        )
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
    qz = quantize_int8(corpus, vec_col, id_col).filter(F.col("scale") > 0)
    dq = qz.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(
            F.col("q"), lambda x: x.cast("double") * F.col("scale")
        ).alias("dv"),
    )
    cents = corpus.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("centv")
    )

    def assign(df: DataFrame, idc: str, vc: str, probes: int) -> DataFrame:
        scored = df.crossJoin(F.broadcast(cents)).select(
            idc, vc, "cell", cosine(F.col(vc), F.col("centv")).alias("_cs")
        )
        w = Window.partitionBy(idc).orderBy(F.desc("_cs"), F.col("cell"))
        return (
            scored.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= probes)
            .drop("_cs", "_rk")
        )

    posting = assign(dq, "neighbor_id", "dv", probes=1)
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    qcells = assign(qv, "query_id", "qv", probes=nprobe)
    cand = (
        qcells.join(posting, on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qv",
            cosine(F.col("qv"), F.col("dv")).alias("q_sim"),
        )
        # a corpus vector sits in exactly one cell, but nprobe>1 queries
        # can reach it through ties only via distinct cells — candidate
        # rows are already unique per (query, neighbor)
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("q_sim"), F.col("neighbor_id")
    )
    shortlist = (
        cand.withColumn("_rk", F.row_number().over(wc))
        .filter(F.col("_rk") <= k * overfetch)
        .select("query_id", "neighbor_id", "qv")
    )
    full = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        shortlist.join(full, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= k)
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
    v = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
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
    a = m.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("va"),
        F.col("_nrm").alias("na"), "cell",
    )
    b = m.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("vb"),
        F.col("_nrm").alias("nb"), "cell",
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
    wbest = Window.partitionBy("id_b").orderBy(F.desc("cs"), F.col("id_a"))
    dup = (
        pairs.withColumn("_rk", F.row_number().over(wbest))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("id_b").alias("_id"),
            F.col("id_a").alias("dup_of"),
            F.col("cs").alias("max_cos"),
        )
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
    qz = quantize_int8(corpus, vec_col, id_col).filter(F.col("scale") > 0)
    dq = qz.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(
            F.col("q"), lambda x: x.cast("double") * F.col("scale")
        ).alias("dv"),
    )
    full = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    cand = (
        qv.crossJoin(dq)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qv",
            cosine(F.col("qv"), F.col("dv")).alias("q_sim"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("q_sim"), F.col("neighbor_id")
    )
    shortlist = (
        cand.withColumn("_rk", F.row_number().over(wc))
        .filter(F.col("_rk") <= k * overfetch)
        .select("query_id", "neighbor_id", "qv")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        shortlist.join(full, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= k)
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
    deterministic seed centroids (first ``n_cells`` vectors by id).

    Returns (id, cell_init, cell_final, cos_final): the seed assignment,
    the assignment after ``rounds`` refinements, and the cosine to the
    final centroid.

    Scale shape per round (identical to q87, looped): assignment
    broadcasts ``n_cells`` centroids (narrow map + per-row argmax);
    the centroid update shuffles (cell, component) keys so no reducer
    holds a whole cell. Each round ends in a ``localCheckpoint`` on the
    (tiny) centroid frame — n_cells × dim values — truncating lineage so
    the plan stays flat instead of compounding ``rounds`` deep (the CC
    loop's rationale). A fixed round count, not a convergence test,
    keeps the whole build deterministic and oracle-expressible (the
    registry oracle unrolls the same rounds as chained CTEs). Cells that
    lose every member simply drop out of later rounds — identical
    semantics in both engines.
    """
    # spread the scan once; every round's assignment reuses it. NOT
    # checkpointed (r13, measured): the per-round scan+spread Exchange
    # subtrees are identical, so ReuseExchange already dedups them in
    # the final plan; a localCheckpoint barrier here replaced that
    # shuffle reuse with a row-copying deserialized RDD cache and more
    # than doubled q111/q123 wall-clock at sf0.1 (6.2 s -> 13.9 s,
    # 3.4 s -> 14.7 s A/B).
    v = _spread(corpus).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    cents = v.filter(F.col("_id") < n_cells).select(
        F.col("_id").alias("cell"), F.col("_v").alias("centv")
    )

    def nearest(cent_df: DataFrame) -> DataFrame:
        scored = v.crossJoin(F.broadcast(cent_df)).select(
            "_id", "_v", "cell",
            cosine(F.col("_v"), F.col("centv")).alias("_cs"),
        )
        w = Window.partitionBy("_id").orderBy(F.desc("_cs"), F.col("cell"))
        return (
            scored.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )

    def micro_means(assigned: DataFrame) -> DataFrame:
        comp = assigned.select(
            "cell", F.posexplode(F.col("_v")).alias("pos", "x")
        )
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

    a = nearest(cents)
    init = a.select("_id", F.col("cell").alias("cell_init"))
    for _ in range(rounds):
        cents = micro_means(a).transform(materialize)
        a = nearest(cents)
    return init.join(
        a.select("_id", "cell", F.col("_cs").alias("cos_final")), on="_id"
    ).select(
        F.col("_id").alias(id_col),
        F.col("cell_init").cast("long").alias("cell_init"),
        F.col("cell").cast("long").alias("cell_final"),
        "cos_final",
    )


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
    per-round scale shape and localCheckpoint lineage truncation as
    ``kmeans_train``; cells that lose every member drop out — identical
    semantics in both engines."""
    # no checkpoint on v — ReuseExchange dedups the per-round spread
    # subtrees; a checkpoint barrier regressed q123 4x (see kmeans_train)
    v = _spread(corpus).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    cents = v.filter(F.col("_id") < n_cells).select(
        F.col("_id").alias("cell"), F.col("_v").alias("centv")
    )

    def nearest(cent_df: DataFrame) -> DataFrame:
        scored = v.crossJoin(F.broadcast(cent_df)).select(
            "_id", "_v", "cell",
            cosine(F.col("_v"), F.col("centv")).alias("_cs"),
        )
        w = Window.partitionBy("_id").orderBy(F.desc("_cs"), F.col("cell"))
        return (
            scored.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )

    def micro_means(assigned: DataFrame) -> DataFrame:
        comp = assigned.select(
            "cell", F.posexplode(F.col("_v")).alias("pos", "x")
        )
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

    a = nearest(cents)
    for i in range(rounds):
        cents = micro_means(a).transform(materialize)
        if i < rounds - 1:  # the last round's re-assignment feeds nothing
            a = nearest(cents)
    return cents


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
    from .dedup import jaccard, shingles

    # Spread + materialize the shingle projection BEFORE the pair join:
    # without the barrier, Catalyst evaluates the whole tokenize/shingle
    # tree inside the (often single-partition) scan task feeding the
    # nested-loop join — the q64 lesson; measured 20x on this arm at
    # sf0.1 (10 s -> 0.5 s). localCheckpoint doubles as the pushdown
    # barrier so the size filter cannot sink below the exchange.
    sc = docs.sparkSession.sparkContext
    sh = (
        docs.select(
            F.col("doc_id"), shingles(F.col("text"), shingle_k).alias("sh")
        )
        .repartition(sc.defaultParallelism, F.col("doc_id"))
        .transform(materialize)
        .filter(F.size("sh") > 0)
    )
    qsh = sh.filter(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("query_id"), F.col("sh").alias("qsh")
    )
    if lex_route == "lsh":
        from .dedup import base_hashes, lsh_bands, minhash_signature

        signed = sh.withColumn("_base", base_hashes("sh")).select(
            "doc_id", *minhash_signature("_base", num_hashes)
        )
        banded = lsh_bands(signed, "doc_id", num_hashes, bands)
        qb = banded.filter(F.col("doc_id") < n_queries).select(
            F.col("doc_id").alias("query_id"), "band_idx", "band_hash"
        )
        cand = (
            qb.join(banded, on=["band_idx", "band_hash"])
            .filter(F.col("query_id") != F.col("doc_id"))
            .select("query_id", "doc_id")
            .distinct()
        )
        lex_scored = (
            cand.join(qsh, on="query_id")
            .join(sh, on="doc_id")
            .select(
                "query_id",
                "doc_id",
                jaccard(F.col("qsh"), F.col("sh")).alias("jac"),
            )
        )
    elif lex_route == "scan":
        lex_scored = (
            qsh.crossJoin(sh)
            .filter(F.col("query_id") != F.col("doc_id"))
            .select(
                "query_id",
                "doc_id",
                jaccard(F.col("qsh"), F.col("sh")).alias("jac"),
            )
        )
    else:
        raise ValueError(f"lex_route must be 'scan' or 'lsh', got {lex_route!r}")
    wl = Window.partitionBy("query_id").orderBy(
        F.desc("jac"), F.col("doc_id")
    )
    lex = (
        lex_scored.withColumn("rank_lex", F.row_number().over(wl).cast("long"))
        .filter(F.col("rank_lex") <= pool)
        .select("query_id", "doc_id", "rank_lex")
    )
    if vec_route == "ivf":
        vec = ivf_topk(
            emb,
            emb.filter(F.col("vec_id") < n_queries),
            n_cells=n_cells,
            k=pool,
            nprobe=nprobe,
        ).select(
            "query_id",
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").alias("rank_vec"),
        )
    elif vec_route == "scan":
        vec = cosine_topk(
            emb, emb.filter(F.col("vec_id") < n_queries), k=pool
        ).select(
            "query_id",
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").alias("rank_vec"),
        )
    else:
        raise ValueError(f"vec_route must be 'scan' or 'ivf', got {vec_route!r}")
    fused = lex.join(vec, on=["query_id", "doc_id"], how="full_outer")
    score = F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_lex")).cast("double"),
        F.lit(0.0),
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_vec")).cast("double"),
        F.lit(0.0),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.col("doc_id")
    )
    return (
        fused.select("query_id", "doc_id", "rank_lex", "rank_vec",
                     score.alias("rrf_score"))
        .withColumn("rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("rank") <= k)
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
    q = anchors.select(
        F.col(id_col).alias("anchor_id"), F.col(vec_col).alias("qv")
    )
    c = _spread(corpus).select(
        F.col(id_col).alias("negative_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("anchor_id") != F.col("negative_id"))
        .select(
            "anchor_id",
            "negative_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
        .filter(
            (F.col("cos_sim") >= band_lo) & (F.col("cos_sim") < band_hi)
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), F.col("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= n)
    )


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
    cents = corpus.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("centv")
    )

    def assign(df: DataFrame, idal: str, val: str, probes: int) -> DataFrame:
        scored = df.crossJoin(F.broadcast(cents)).select(
            F.col(id_col).alias(idal),
            F.col(vec_col).alias(val),
            "cell",
            cosine(F.col(vec_col), F.col("centv")).alias("_cs"),
        )
        w = Window.partitionBy(idal).orderBy(F.desc("_cs"), F.col("cell"))
        return (
            scored.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= probes)
            .drop("_cs", "_rk")
        )

    posting = assign(_spread(corpus), "negative_id", "cv", probes=1)
    acells = assign(anchors, "anchor_id", "qv", probes=nprobe)
    scored = (
        acells.join(posting, on="cell")
        .filter(F.col("anchor_id") != F.col("negative_id"))
        .select(
            "anchor_id",
            "negative_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
        .filter(
            (F.col("cos_sim") >= band_lo) & (F.col("cos_sim") < band_hi)
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), F.col("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= n)
    )


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

    from .dedup import ngrams_all

    n_docs = None
    if isinstance(max_df, float) or isinstance(candidate_budget, float):
        n_docs = docs.count()
    if isinstance(max_df, float):
        if not 0 < max_df < 1:
            raise ValueError("fractional max_df must be in (0, 1)")
        max_df = max(1, math.floor(max_df * n_docs))
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
