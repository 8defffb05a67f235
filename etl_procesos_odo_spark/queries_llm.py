"""LLM-training-data query surface: dedup, similarity search, text
analysis, multimodal plumbing over ``documents`` / ``embeddings``
(BASELINE.json north-star operators).

Oracle-parity notes: all hashing is md5-derived (identical in Spark and
DuckDB — ``conv(substr(md5(x),1,15),16,10)`` == ``CAST('0x'||… AS
BIGINT)``, 60-bit positive ints); array folds are left folds with an
exact-identity first step so Spark's ``aggregate(…, 0, +)`` matches
DuckDB's ``list_reduce``; repetitive oracle SQL (minhash seeds, simhash
bits, LSH planes) is generated from the same Python constants the Spark
plan uses.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .llm.dedup import (
    _digest,
    decontaminate,
    decontaminate_bloom,
    dedup_clusters,
    dedup_clusters_bigstar,
    exact_dedup,
    jaccard,
    minhash_lsh_pairs,
    minhash_lsh_pairs_collapsed,
    shingles,
    simhash60,
)
from .llm.multimodal import attach_payload, extract_features
from .llm.sampling import hash_sample
from .llm.similarity import (
    cosine_neardup_pairs,
    cosine_topk,
    hyperplanes,
    ivf_topk,
    lsh_bucket_topk,
    lsh_bucket_topk_multiprobe,
)
from .llm.text_analysis import (
    LANG_MARKERS,
    PII_RULES,
    TOKEN_PIECE_RE,
    fingerprint,
    lang_predict,
    lang_scores,
    quality_metrics,
    redact_pii,
    token_count_bpe,
    token_count_ws,
)
from .registry import load_table, register
from .session import materialize

# ---------------------------------------------------------------------------
# Shared DuckDB oracle fragments (mirror the Spark expressions verbatim)
# ---------------------------------------------------------------------------

O_TOKENS = r"list_filter(str_split_regex(trim(text), '\s+'), x -> x <> '')"
def _shingles_sql(k: int = 3) -> str:
    """DuckDB spelling of llm/dedup.py `shingles(col, k)`: distinct word
    k-grams joined by single spaces (parameterized for the fuzz arbiter)."""
    parts = " || ' ' || ".join(
        "w[i]" if j == 0 else f"w[i+{j}]" for j in range(k)
    )
    return (
        "list_distinct(list_transform(generate_series(1, "
        f"greatest(len(w) - {k - 1}, 0)), i -> {parts}))"
    )


O_SHINGLES = _shingles_sql(3)


def o_h60(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def o_dot(a: str, b: str, n: str = "len(qv)") -> str:
    """Left-fold double dot product — matches Spark F.aggregate order."""
    return (
        f"list_reduce(list_transform(generate_series(1, {n}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@register(
    "q30_dedup_exact",
    r"""
    SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS digest,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    doc="Exact dedup: whitespace/case-normalized md5 digest, hash groupBy, "
    "keep-lowest-id representative. One shuffle keyed by digest — the only "
    "wide dependency at 100 TB.",
)
def q30_dedup_exact(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


@register(
    "q31_ngram_jaccard",
    f"""
    WITH w AS (
      SELECT doc_id, {O_TOKENS} AS w FROM documents WHERE doc_id < 100
    ),
    sh AS (SELECT doc_id, {O_SHINGLES} AS sh FROM w),
    f AS (SELECT * FROM sh WHERE len(sh) > 0),
    j AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard_sim
      FROM f a JOIN f b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, jaccard_sim FROM j WHERE jaccard_sim >= 0.3
    """,
    doc="n-gram (3-word shingle) Jaccard near-dup detection, exact "
    "all-pairs over a bounded id range — the verification primitive the "
    "LSH pipeline (q32) prefilters for; quadratic, so the scale path is "
    "q32's band join.",
)
def q31_ngram_jaccard(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    sh = docs.select(
        F.col("doc_id"), shingles(F.col("text"), 3).alias("sh")
    ).filter(F.size("sh") > 0)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, a.id_a < b.id_b)
        .select(
            "id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim")
        )
        .filter(F.col("jaccard_sim") >= 0.3)
    )


def _minhash_oracle(
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    final_select: str | None = None,
    recursive: bool = False,
    source: str = "documents",
    pre_cte: str = "",
) -> str:
    from .llm.dedup import MINHASH_P, minhash_params

    rows_per = num_hashes // bands
    sig_cols = ",\n             ".join(
        f"list_min(list_transform(sh, s -> "
        f"(({o_h60('s')} % {MINHASH_P}) * {a} + {b}) % {MINHASH_P})) AS mh{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band_idx, md5({concat}) AS band_hash FROM sig".format(
            b=b,
            concat=" || ',' || ".join(
                f"CAST(mh{b * rows_per + r} AS VARCHAR)" for r in range(rows_per)
            ),
        )
        for b in range(bands)
    )
    return f"""
    WITH {"RECURSIVE " if recursive else ""}{pre_cte}w AS (SELECT doc_id, {O_TOKENS} AS w FROM {source}),
    shin AS (SELECT doc_id, {O_SHINGLES} AS sh FROM w),
    f AS (SELECT * FROM shin WHERE len(sh) > 0),
    sig AS (SELECT doc_id, sh,
             {sig_cols}
            FROM f),
    banded AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM banded x JOIN banded y
        ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
       AND x.doc_id < y.doc_id
    ),
    j AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard_sim
      FROM cand JOIN f a ON a.doc_id = id_a JOIN f b ON b.doc_id = id_b
    )
    {final_select or f"SELECT id_a, id_b, jaccard_sim FROM j WHERE jaccard_sim >= {threshold}"}
    """


@register(
    "q32_minhash_lsh",
    _minhash_oracle(),
    doc="MinHash + banded LSH near-dup pipeline: shingle → 12-hash MinHash "
    "signature → 4 bands × 3 rows → bucket self-join → exact-Jaccard verify "
    "≥ 0.5. Signatures are per-row expressions (no shuffle); only "
    "(band_idx, band_hash) keys shuffle, buckets are tiny by construction — "
    "the linear-cost near-dedup path for 100 TB corpora.",
)
def q32_minhash_lsh(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "text", "doc_id", k=3, num_hashes=12, bands=4, threshold=0.5
    )


_CLUSTER_FINAL = """
    , pairs AS (SELECT id_a, id_b FROM j WHERE jaccard_sim >= 0.5),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT reach.id, e.v AS r FROM reach JOIN edges e ON e.u = reach.r
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    """


@register(
    "q47_dedup_clusters",
    _minhash_oracle(final_select=_CLUSTER_FINAL, recursive=True),
    doc="Near-dup clustering: connected components over the MinHash-LSH "
    "pair graph (q32), each doc labeled with the min doc_id in its "
    "component; doc_id == cluster_id marks the representative to keep. "
    "Spark side is iterative min-label propagation over only the nodes in "
    "the pair graph (O(diameter) rounds, materialize-truncated "
    "lineage); oracle is a recursive min-reachability CTE.",
)
def q47_dedup_clusters(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    return dedup_clusters(
        docs, "text", "doc_id", k=3, num_hashes=12, bands=4, threshold=0.5
    )


@register(
    "q70_dedup_clusters_bigstar",
    _minhash_oracle(final_select=_CLUSTER_FINAL, recursive=True),
    doc="Same clustering semantics as q47 computed with the alternating "
    "large-star/small-star algorithm (Kiveris et al. SoCC'14, cc_bigstar) "
    "instead of min-label propagation: O(log n) rounds vs O(diameter), "
    "the scale path for pair graphs with long chains. Identical "
    "recursive-CTE oracle as q47 — two independent CC algorithms, one "
    "hash-checked answer.",
)
def q70_dedup_clusters_bigstar(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    return dedup_clusters_bigstar(
        docs, "text", "doc_id", k=3, num_hashes=12, bands=4, threshold=0.5
    )


def _simhash_cte() -> str:
    bit_sums = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(60)
    )
    sim_expr = " + ".join(
        f"CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(60)
    )
    return f"""tok AS (
      SELECT doc_id, unnest({O_TOKENS}) AS t FROM documents
    ),
    h AS (SELECT doc_id, {o_h60('t')} AS h FROM tok),
    bits AS (SELECT doc_id,
             {bit_sums}
            FROM h GROUP BY doc_id),
    sim AS (SELECT doc_id, {sim_expr} AS simhash FROM bits)"""


def _simhash_oracle() -> str:
    return f"WITH {_simhash_cte()} SELECT doc_id, simhash FROM sim"


def _simhash_pairs_oracle(max_hamming: int = 3, bands: int = 4) -> str:
    width = 60 // bands
    mask = (1 << width) - 1
    return f"""
    WITH {_simhash_cte()},
    bnd AS (
      SELECT doc_id, simhash,
             unnest(generate_series(0, {bands - 1})) AS b
      FROM sim
    ),
    k AS (SELECT doc_id, simhash, b,
                 (simhash >> (b * {width})) & {mask} AS bv
          FROM bnd),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, x.simhash AS sa,
                      y.doc_id AS id_b, y.simhash AS sb
      FROM k x JOIN k y
        ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """


@register(
    "q33_simhash",
    _simhash_oracle(),
    doc="SimHash: 60-bit near-dup signature per document (explode tokens → "
    "60-bit hash → ±1 bit-position sums → sign bits). One explode + one "
    "groupBy; signature comparison downstream is Hamming distance via "
    "bit_count(xor) on bigints.",
)
def q33_simhash(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    return simhash60(docs, "text", "doc_id")


@register(
    "q78_simhash_pairs",
    _simhash_pairs_oracle(),
    doc="SimHash near-dup pair search: band the 60-bit signature into 4 "
    "15-bit keys and self-join on (band, key) — by pigeonhole a pair "
    "within Hamming distance <= 3 shares at least one intact band, so "
    "recall is EXACT (no LSH probability). bit_count(xor) verification "
    "on candidates only; shuffle carries (band, key) only, same shape as "
    "the MinHash-LSH band join.",
)
def q78_simhash_pairs(spark: SparkSession, sf_dir: str):
    from .llm.dedup import simhash_neardup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(
        docs, "text", "doc_id", max_hamming=3, bands=4
    )


@register(
    "q80_quantize_int8",
    f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(CAST(x AS DOUBLE)))) / 127.0
               AS scale
      FROM e
    ),
    qz AS (
      SELECT vec_id, v, scale,
             CASE WHEN scale > 0
                  THEN list_transform(
                         v, x -> CAST(round(CAST(x AS DOUBLE) / scale)
                                      AS INTEGER))
                  ELSE list_transform(v, x -> 0)
             END AS q
      FROM s
    ),
    d AS (
      SELECT vec_id, scale, q, v,
             list_transform(q, x -> CAST(x AS DOUBLE) * scale) AS dv
      FROM qz
    )
    SELECT vec_id, scale,
           array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), ',')
             AS q,
           CASE WHEN scale > 0 THEN
             {o_dot('v', 'dv', 'len(v)')}
             / (sqrt({o_dot('v', 'v', 'len(v)')})
                * sqrt({o_dot('dv', 'dv', 'len(dv)')}))
           END AS recon_cos
    FROM d
    """,
    doc="Symmetric per-vector int8 embedding quantization — the storage "
    "path for embedding columns at 100 TB (4x smaller than float32; ANN "
    "candidate generation runs on int8, final re-rank on full "
    "precision). scale = max|x|/127, q = round(x/scale); recon_cos is "
    "the exact original-vs-dequantized cosine, the compression-quality "
    "gauge. Pure per-row expressions at scan speed.",
)
def q80_quantize_int8(spark: SparkSession, sf_dir: str):
    from .llm.similarity import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    out = quantize_int8(emb, "embedding", "vec_id")
    # Registry projection serializes the int8 vector: the driver's pandas
    # canonicalizer cannot hash array-typed cells, and a CSV string is the
    # same bytes-on-the-wire contract a storage sink would use.
    return out.select(
        "vec_id",
        "scale",
        F.array_join(
            F.transform(F.col("q"), lambda x: x.cast("string")), ","
        ).alias("q"),
        "recon_cos",
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

@register(
    "q34_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    dots AS (
      SELECT query_id, neighbor_id,
             {o_dot('qv', 'cv')}
               / (sqrt({o_dot('qv', 'qv')}) * sqrt({o_dot('cv', 'cv', 'len(cv)')}))
               AS cos_sim
      FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rk
          FROM dots)
    WHERE rk <= 5
    """,
    doc="Brute-force exact cosine top-k over the embedding column — the "
    "ANN baseline. Dot product is a left-fold in double precision "
    "(bit-identical to the oracle's list_reduce). Scale path: q39 LSH "
    "buckets.",
)
def q34_cosine_topk(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _ann_oracle(dim: int = 64, n_planes: int = 8, seed: int = 42, k: int = 5) -> str:
    planes = hyperplanes(dim, n_planes, seed)
    plane_lits = [
        "CAST([" + ", ".join(f"{x:.1f}" for x in p) + "] AS DOUBLE[])"
        for p in planes
    ]
    sig = " + ".join(
        f"CASE WHEN {o_dot('v', plane_lits[b], 'len(v)')} > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(n_planes)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    sig AS (SELECT vec_id, v, {sig} AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM sig WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM sig),
    dots AS (
      SELECT query_id, neighbor_id, q.bucket AS bucket,
             {o_dot('qv', 'cv')}
               / (sqrt({o_dot('qv', 'qv')}) * sqrt({o_dot('cv', 'cv', 'len(cv)')}))
               AS cos_sim
      FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, bucket, cos_sim, CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rk
          FROM dots)
    WHERE rk <= {k}
    """


@register(
    "q39_ann_lsh",
    _ann_oracle(),
    doc="ANN scale path: deterministic random-hyperplane LSH (8 seeded ±1 "
    "planes → 256 buckets), exact cosine only within the query's bucket. "
    "The corpus is signed once (per-row expressions); the candidate join "
    "shuffles bucket keys only — ~1/256 of brute-force work per query at "
    "equal bucket sizes.",
)
def q39_ann_lsh(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(
        emb, emb.filter(F.col("vec_id") < 10), dim=64, k=5, n_planes=8, seed=42
    )


def _neardup_oracle(
    dim: int = 64, n_planes: int = 8, seed: int = 42, threshold: float = 0.35
) -> str:
    planes = hyperplanes(dim, n_planes, seed)
    plane_lits = [
        "CAST([" + ", ".join(f"{x:.1f}" for x in p) + "] AS DOUBLE[])"
        for p in planes
    ]
    sig = " + ".join(
        f"CASE WHEN {o_dot('v', plane_lits[b], 'len(v)')} > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(n_planes)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    sig AS (SELECT vec_id, v, {sig} AS bucket FROM e),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {o_dot('a.v', 'b.v', 'len(a.v)')}
               / (sqrt({o_dot('a.v', 'a.v', 'len(a.v)')})
                  * sqrt({o_dot('b.v', 'b.v', 'len(b.v)')})) AS cos_sim
      FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= {threshold}
    """


@register(
    "q48_embedding_neardup",
    _neardup_oracle(),
    doc="Embedding-cosine near-duplicate pairs: random-hyperplane LSH "
    "bucket candidates verified by exact cosine ≥ 0.35 — the semantic "
    "complement to lexical MinHash dedup (q32), catching paraphrases that "
    "share no shingles. Bucket-local self-join: only 8-bit signature keys "
    "shuffle; cross-bucket recall loss is the documented LSH trade.",
)
def q48_embedding_neardup(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(
        emb, dim=64, threshold=0.35, n_planes=8, seed=42
    )


def _ivf_oracle(n_cells: int = 16, k: int = 5, nprobe: int = 1) -> str:
    cos = (
        f"{o_dot('qv', 'cv')} / (sqrt({o_dot('qv', 'qv')}) "
        f"* sqrt({o_dot('cv', 'cv', 'len(cv)')}))"
    )
    assign_cos = (
        f"{o_dot('v', 'centv', 'len(v)')} / (sqrt({o_dot('v', 'v', 'len(v)')}) "
        f"* sqrt({o_dot('centv', 'centv', 'len(centv)')}))"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    cents AS (SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < {n_cells}),
    scored AS (
      SELECT e.vec_id, e.v, c.cell, {assign_cos} AS cs
      FROM e CROSS JOIN cents c
    ),
    asg AS (
      SELECT vec_id, v, cell, rk
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cs DESC, cell) AS rk
            FROM scored)
      WHERE rk <= {nprobe}
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, cell FROM asg WHERE vec_id < 10),
    p AS (SELECT vec_id AS neighbor_id, v AS cv, cell FROM asg WHERE rk = 1),
    dots AS (
      SELECT query_id, neighbor_id, q.cell AS cell, {cos} AS cos_sim
      FROM q JOIN p USING (cell) WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, cell, cos_sim, CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rk
          FROM dots)
    WHERE rk <= {k}
    """


@register(
    "q49_ann_ivf",
    _ivf_oracle(),
    doc="IVF-style ANN: deterministic coarse quantizer (first 16 corpus "
    "vectors as centroids; production would k-means), nearest-centroid "
    "cell assignment via broadcast cross join + argmin window, nprobe=1 "
    "cell-local exact cosine top-k. Posting lists hash-partition by cell; "
    "a query shuffles only its cell key — 1/16 of brute-force per query.",
)
def q49_ann_ivf(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 10), n_cells=16, k=5)


@register(
    "q74_ann_ivf_multiprobe",
    _ivf_oracle(nprobe=2),
    doc="IVF ANN at nprobe=2: each query searches its two nearest "
    "centroids' posting lists. Proves the SCALE.md claim that the recall "
    "knob is a pure union of cell keys on the query side — the "
    "broadcast-centroid assignment, the cell-keyed posting-list join, and "
    "the plan shape are byte-identical to q49's nprobe=1.",
)
def q74_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10), n_cells=16, k=5, nprobe=2
    )


@register(
    "q73_repetition_metrics",
    """
    WITH w AS (SELECT doc_id, """ + O_TOKENS + r""" AS w FROM documents),
    g AS (
      SELECT doc_id, w,
             list_transform(generate_series(1, greatest(len(w) - 1, 0)),
                            i -> w[i] || ' ' || w[i+1]) AS g2,
             list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
      FROM w
    )
    SELECT doc_id,
           CASE WHEN len(w) = 0 THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
           END AS dup_word_frac,
           -- NULL text must stay NULL here too: DuckDB greatest(NULL,0)
           -- IGNORES the NULL (returns 0), so g2/g3 silently become []
           -- for a NULL doc while g1 stays NULL — pin the three metrics
           -- to the same NULL-propagation (r10 adversarial pin)
           CASE WHEN w IS NULL THEN NULL
                WHEN len(g2) = 0 THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
           END AS dup_2gram_frac,
           CASE WHEN w IS NULL THEN NULL
                WHEN len(g3) = 0 THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
           END AS dup_3gram_frac
    FROM g
    """,
    doc="Gopher-style within-document repetition signals (Rae et al. "
    "2021 A1.1): duplicate word / 2-gram / 3-gram fractions per document "
    "— boilerplate and keyword-spam filters for corpus prep. Pure "
    "per-row array expressions at scan speed, no shuffle.",
)
def q73_repetition_metrics(spark: SparkSession, sf_dir: str):
    from .llm.text_analysis import repetition_metrics, tokens

    docs = load_table(spark, sf_dir, "documents")
    # tokenize ONCE behind an exchange barrier (q44 rationale: collapsed
    # projections re-inline the tokenizer into every metric reference)
    # and spread the single-file scan across the cluster
    toks = docs.select("doc_id", tokens(F.col("text")).alias("w")).repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    m = repetition_metrics(F.col("w"), tokenized=True)
    return toks.select(
        "doc_id", *[expr.alias(name) for name, expr in m.items()]
    )


_COLLAPSE_PRE_CTE = (
    r"src AS (SELECT MIN(doc_id) AS doc_id, min_by(text, doc_id) AS text, "
    r"COUNT(*) AS n_docs FROM documents "
    r"GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))), "
)

_COLLAPSE_FINAL = """
    , sizes AS (SELECT doc_id AS sid, n_docs FROM src)
    SELECT j.id_a, j.id_b, j.jaccard_sim, sa.n_docs * sb.n_docs AS n_pairs
    FROM j JOIN sizes sa ON sa.sid = j.id_a JOIN sizes sb ON sb.sid = j.id_b
    WHERE j.jaccard_sim >= 0.5
    """


@register(
    "q67_minhash_lsh_collapsed",
    _minhash_oracle(
        source="src", pre_cte=_COLLAPSE_PRE_CTE, final_select=_COLLAPSE_FINAL
    ),
    doc="Exact-dedup-first MinHash-LSH (the SCALE.md composition guard as "
    "an operator): exact duplicates collapse to one representative per "
    "normalized-text digest BEFORE shingling, so a 10⁶-copy boilerplate "
    "doc puts ONE row in each band bucket instead of 10⁶ (which would "
    "make the bucket self-join quadratic in the cluster size); near-dup "
    "pair weights multiply back as n_pairs = |group_a| × |group_b|.",
)
def q67_minhash_lsh_collapsed(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs_collapsed(
        docs, "text", "doc_id", k=3, num_hashes=12, bands=4, threshold=0.5
    )


def _ann_multiprobe_oracle(
    dim: int = 64, n_planes: int = 8, seed: int = 42, k: int = 5
) -> str:
    planes = hyperplanes(dim, n_planes, seed)
    plane_lits = [
        "CAST([" + ", ".join(f"{x:.1f}" for x in p) + "] AS DOUBLE[])"
        for p in planes
    ]
    d_cols = ",\n             ".join(
        f"{o_dot('v', plane_lits[b], 'len(v)')} AS d{b}" for b in range(n_planes)
    )
    sig = " + ".join(
        f"CASE WHEN d{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(n_planes)
    )
    minv = "LEAST(" + ", ".join(f"abs(d{b})" for b in range(n_planes)) + ")"
    flip = "CASE " + " ".join(
        f"WHEN abs(d{b}) = minv THEN CAST({1 << b} AS BIGINT)"
        for b in range(n_planes)
    ) + " END"
    return f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    d AS (SELECT vec_id, v,
             {d_cols}
          FROM e),
    s1 AS (SELECT vec_id, v, {sig} AS bucket, {minv} AS minv,
                  {', '.join(f'd{b}' for b in range(n_planes))}
           FROM d),
    s2 AS (SELECT vec_id, v, bucket, {flip} AS flip FROM s1),
    c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM s2),
    q AS (
      SELECT vec_id AS query_id, v AS qv, bucket FROM s2 WHERE vec_id < 10
      UNION ALL
      SELECT vec_id AS query_id, v AS qv, xor(bucket, flip) AS bucket
      FROM s2 WHERE vec_id < 10
    ),
    dots AS (
      SELECT query_id, neighbor_id, bucket,
             {o_dot('qv', 'cv')}
               / (sqrt({o_dot('qv', 'qv')}) * sqrt({o_dot('cv', 'cv', 'len(cv)')}))
               AS cos_sim
      FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, bucket, cos_sim, CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rk
          FROM dots)
    WHERE rk <= {k}
    """


@register(
    "q68_ann_multiprobe",
    _ann_multiprobe_oracle(),
    doc="Multi-probe ANN (q39's recall knob, probe=2): each query searches "
    "its own LSH bucket plus the bucket across its lowest-|margin| "
    "hyperplane — the boundary its missed neighbors sit behind. ~2× the "
    "candidates (still ~2/256 of brute force), same shuffle shape: the "
    "query side explodes to 2 bucket keys, the join stays a bucket "
    "equi-join. Margin ties pick the lowest plane index in both engines.",
)
def q68_ann_multiprobe(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_bucket_topk_multiprobe(
        emb, emb.filter(F.col("vec_id") < 10),
        dim=64, k=5, n_planes=8, seed=42, probe=2,
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def _langid_oracle() -> str:
    score_cols = []
    for lang, markers in LANG_MARKERS.items():
        arr = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
        score_cols.append(
            f"len(list_intersect(toks, {arr})) AS score_{lang}"
        )
    langs = list(LANG_MARKERS)
    m = "greatest(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN score_{lg} = m THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""
    WITH w AS (SELECT doc_id, lang, {O_TOKENS} AS w FROM documents),
    t AS (SELECT doc_id, lang,
                 list_distinct(list_transform(w, x -> lower(x))) AS toks
          FROM w),
    s AS (SELECT doc_id, lang, {', '.join(score_cols)} FROM t),
    p AS (SELECT lang, {m} AS m, {case} AS pred_lang FROM s)
    SELECT lang, pred_lang, COUNT(*) AS n FROM p GROUP BY lang, pred_lang
    """


@register(
    "q35_langid",
    _langid_oracle(),
    doc="Language-ID heuristic: per-language stopword-marker hit counts "
    "over distinct lowered tokens, argmax with fixed priority on ties; "
    "confusion-matrix output against the labeled lang column. Pure scan "
    "expressions — full scan speed at 100 TB.",
)
def q35_langid(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    scores = lang_scores(F.col("text"))
    scored = docs.select(F.col("lang"), *[v.alias(k) for k, v in scores.items()])
    pred = scored.withColumn(
        "pred_lang",
        lang_predict({k: F.col(k) for k in scores}),
    )
    return pred.groupBy("lang", "pred_lang").agg(F.count("*").alias("n"))


@register(
    "q36_quality_metrics",
    rf"""
    WITH w AS (SELECT doc_id, text, {O_TOKENS} AS w FROM documents)
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(CASE WHEN len(w) = 0 THEN 0
                ELSE list_reduce(list_transform(w, x -> len(x)), (a, b) -> a + b)
                END AS DOUBLE) / len(w) AS avg_token_len,
           CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
             / length(text) AS punct_ratio,
           CAST(len(list_filter(w, t -> list_contains({LANG_MARKERS['en']!r}, lower(t)))) AS DOUBLE)
             / len(w) AS stopword_ratio
    FROM w
    """,
    doc="Quality scoring: length / token count / mean token length / "
    "punctuation ratio / stopword ratio, all exact integer counts with "
    "single deterministic divisions — codegen'd scan expressions.",
)
def q36_quality_metrics(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    qm = quality_metrics(F.col("text"))
    return docs.select("doc_id", *[v.alias(k) for k, v in qm.items()])


@register(
    "q37_token_counts",
    rf"""
    SELECT doc_id,
           CAST(len({O_TOKENS}) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{TOKEN_PIECE_RE}')) AS BIGINT)
             AS n_bpe_pieces
    FROM documents
    """,
    doc="Token counting: whitespace tokens + BPE-ish word-piece count "
    "(letter runs / digit runs / single punct via regexp_extract_all).",
)
def q37_token_counts(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_ws_tokens"),
        token_count_bpe(F.col("text")).alias("n_bpe_pieces"),
    )


def _decontaminate_oracle(
    k: int = 3,
    min_shared: int = 2,
    max_df: int | float = 20,
    bench_mod: int = 50,
) -> str:
    """Oracle builder for llm/dedup.py `decontaminate` with a
    doc_id %% bench_mod == 0 benchmark split (so |train| + |bench| =
    |documents| and a fractional df cap's denominator is COUNT(*)).
    A float max_df is the documented fraction-of-combined-docs form;
    the SQL floors the same IEEE product the operator floors."""
    if isinstance(max_df, float):
        cap = (
            f"GREATEST(1, CAST(FLOOR({max_df!r} * "
            "(SELECT COUNT(*) FROM documents)) AS BIGINT))"
        )
    else:
        cap = str(max_df)
    return f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents),
    sh AS (SELECT doc_id, {_shingles_sql(k)} AS sh FROM w),
    e AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    keep AS (SELECT g FROM e GROUP BY g HAVING COUNT(*) <= {cap}),
    t AS (SELECT doc_id, g FROM e
          WHERE doc_id % {bench_mod} <> 0 AND g IN (SELECT g FROM keep)),
    b AS (SELECT doc_id AS b_id, g FROM e
          WHERE doc_id % {bench_mod} = 0 AND g IN (SELECT g FROM keep)),
    p AS (SELECT t.doc_id, b.b_id, COUNT(*) AS n_shared
          FROM t JOIN b USING (g)
          GROUP BY t.doc_id, b.b_id
          HAVING COUNT(*) >= {min_shared})
    SELECT doc_id,
           COUNT(*) AS n_bench_docs,
           CAST(SUM(n_shared) AS BIGINT) AS n_shared_shingles,
           MAX(n_shared) AS max_shared
    FROM p GROUP BY doc_id
    """


@register(
    "q71_decontaminate",
    _decontaminate_oracle(k=3, min_shared=2, max_df=20),
    doc="Train/test decontamination: training docs (doc_id % 50 != 0) "
    "sharing >= 2 distinct 3-gram shingles with any benchmark doc "
    "(doc_id % 50 = 0), via an inverted-index equi-join on the shingle — "
    "never all-pairs. Shingles with combined document frequency > 20 are "
    "dropped first: boilerplate n-grams carry no contamination signal and "
    "are exactly the hot keys that would skew the shuffle at 100 TB.",
)
def q71_decontaminate(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return decontaminate(
        train, bench, "text", "doc_id", k=3, min_shared=2, max_df=20
    )


# Shared by q155 (batch) and q156 (the same gate under Structured
# Streaming): both must equal this exact inverted-index SQL — the bloom
# prefilter and the execution mode are both transparent to the result.
O_DECON_BLOOM = f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents),
    sh AS (SELECT doc_id, {O_SHINGLES} AS sh FROM w),
    e AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    b AS (SELECT doc_id AS b_id, g FROM e WHERE doc_id % 37 = 0),
    keep AS (SELECT g FROM b GROUP BY g HAVING COUNT(*) <= 10),
    bk AS (SELECT b_id, g FROM b WHERE g IN (SELECT g FROM keep)),
    t AS (SELECT doc_id, g FROM e WHERE doc_id % 37 <> 0),
    p AS (SELECT t.doc_id, bk.b_id, COUNT(*) AS n_shared
          FROM t JOIN bk USING (g)
          GROUP BY t.doc_id, bk.b_id
          HAVING COUNT(*) >= 2)
    SELECT doc_id,
           COUNT(*) AS n_bench_docs,
           CAST(SUM(n_shared) AS BIGINT) AS n_shared_shingles,
           MAX(n_shared) AS max_shared
    FROM p GROUP BY doc_id
    """


@register(
    "q155_decontaminate_bloom",
    O_DECON_BLOOM,
    doc="Bloom-join decontamination: benchmark docs (doc_id % 37 = 0) are "
    "eval-suite-sized and fixed, so their shingles compress into a 256 KB "
    "broadcast Bloom bitmap (built as a one-row aggregate, no collect); "
    "the corpus side is filtered AT THE SCAN by five unrolled bit probes "
    "and only the survivors enter the exact inverted-index verify join — "
    "false positives die there, so the result is bit-identical to the "
    "plain SQL. The oracle never sees the bloom: it is a pure prefilter. "
    "At 100 TB this removes the train-side global shuffle that q71's "
    "combined-df cap requires; the bench-side df cap (<= 10 bench docs) "
    "costs one small-side aggregate.",
)
def q155_decontaminate_bloom(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 37 != 0)
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    return decontaminate_bloom(
        train, bench, "text", "doc_id", k=3, min_shared=2, bench_max_df=10
    )


@register(
    "q72_hash_sample",
    """
    SELECT doc_id, lang, source
    FROM documents
    WHERE CAST('0x' || substr(md5('s1' || CAST(doc_id AS VARCHAR)), 1, 15)
               AS BIGINT) / 1152921504606846976.0
          < CASE lang WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.3 ELSE 0.1 END
    """,
    doc="Deterministic stratified corpus sampling (language rebalancing "
    "for a training mix): keep a row iff its 60-bit md5 uniform is below "
    "the per-language rate. Reproducible across runs, engines, and "
    "partition layouts — the properties rand()-based sampleBy lacks at "
    "100 TB — and a pure per-row scan expression (no shuffle, no RNG "
    "state).",
)
def q72_hash_sample(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    return hash_sample(
        docs.select("doc_id", "lang", "source"),
        "doc_id",
        {"en": 0.5, "es": 0.3},
        "lang",
        default_rate=0.1,
        salt="s1",
    )


@register(
    "q75_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, lang, len({O_TOKENS}) AS n_tokens FROM documents
    ),
    s AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens
               AS cum_before
      FROM t
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_before // 512 AS BIGINT) AS pack_id,
           CAST(cum_before % 512 AS BIGINT) AS offset_in_pack
    FROM s
    """,
    doc="Sequence packing: lay documents out in deterministic id order "
    "per language stratum and cut a training sequence every 512 "
    "cumulative tokens (pack_id = tokens-before // budget). One window "
    "cumulative sum per bounded stratum — no global serial pass; compose "
    "with a hash stripe (the partitioner pattern) for unbounded strata.",
)
def q75_pack_sequences(spark: SparkSession, sf_dir: str):
    from .llm.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", 512, "lang")


@register(
    "q76_chunk_documents",
    f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents),
    p AS (SELECT doc_id, w, len(w) AS n FROM w WHERE len(w) > 0),
    c AS (
      SELECT doc_id, w, n,
             unnest(generate_series(
               0, CAST((greatest(n - 64, 0) + 47) // 48 AS BIGINT))) AS chunk_idx
      FROM p
    )
    SELECT doc_id, chunk_idx,
           CAST(len(list_slice(w, chunk_idx * 48 + 1,
                               least(chunk_idx * 48 + 64, n))) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(list_slice(w, chunk_idx * 48 + 1,
                                      least(chunk_idx * 48 + 64, n)), ' ')
             AS chunk_text
    FROM c
    """,
    doc="Context-window chunking: split each document's token stream "
    "into 64-token chunks with 16-token overlap (stride 48), one row per "
    "chunk, final chunk may be short. Tokenize-once + explode — "
    "scan-speed per-row expressions, no shuffle.",
)
def q76_chunk_documents(spark: SparkSession, sf_dir: str):
    from .llm.packing import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "text", "doc_id", chunk_tokens=64, overlap=16)


@register(
    "q77_corpus_prep_pack",
    f"""
    WITH dig AS (
      SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS digest,
             MIN(doc_id) AS keep_id
      FROM documents GROUP BY 1
    ),
    base AS (SELECT d.* FROM documents d JOIN dig ON d.doc_id = dig.keep_id),
    train AS (SELECT * FROM base WHERE doc_id % 50 <> 0),
    trainw AS (SELECT doc_id, {O_TOKENS} AS w FROM train),
    benchw AS (SELECT doc_id, {O_TOKENS} AS w
               FROM documents WHERE doc_id % 50 = 0),
    tw AS (SELECT doc_id, {O_SHINGLES} AS sh FROM trainw),
    bw AS (SELECT doc_id, {O_SHINGLES} AS sh FROM benchw),
    e AS (
      SELECT doc_id, 't' AS side, unnest(sh) AS g FROM tw
      UNION ALL
      SELECT doc_id, 'b' AS side, unnest(sh) AS g FROM bw
    ),
    keep_g AS (SELECT g FROM e GROUP BY g HAVING COUNT(*) <= 20),
    t2 AS (SELECT doc_id, g FROM e
           WHERE side = 't' AND g IN (SELECT g FROM keep_g)),
    b2 AS (SELECT doc_id AS b_id, g FROM e
           WHERE side = 'b' AND g IN (SELECT g FROM keep_g)),
    contam AS (
      SELECT DISTINCT doc_id FROM (
        SELECT t2.doc_id, b2.b_id FROM t2 JOIN b2 USING (g)
        GROUP BY t2.doc_id, b2.b_id HAVING COUNT(*) >= 2
      )
    ),
    cw AS (
      SELECT doc_id, lang, {O_TOKENS} AS w FROM train
      WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    q AS (
      SELECT doc_id, lang, len(w) AS n_tokens,
             CASE WHEN len(w) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
             END AS dwf
      FROM cw
    ),
    gated AS (SELECT * FROM q WHERE n_tokens >= 30 AND dwf <= 0.5),
    samp AS (
      SELECT * FROM gated
      WHERE CAST('0x' || substr(md5('s1' || CAST(doc_id AS VARCHAR)), 1, 15)
                 AS BIGINT) / 1152921504606846976.0
            < CASE lang WHEN 'en' THEN 0.5 ELSE 0.8 END
    ),
    s AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens
               AS cum_before
      FROM samp
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_before // 512 AS BIGINT) AS pack_id,
           CAST(cum_before % 512 AS BIGINT) AS offset_in_pack
    FROM s
    """,
    doc="Full training-corpus pipeline v2, end-to-end: exact dedup (keep "
    "min-id per digest) -> train/test decontamination (drop docs sharing "
    ">=2 shingles with the benchmark split) -> quality gates (>=30 "
    "tokens, dup_word_frac <= 0.5) -> deterministic language rebalancing "
    "(en 0.5, others 0.8) -> 512-token sequence packing. Every stage is "
    "the scale-shaped operator it composes (digest groupBy, inverted "
    "shingle index, scan-speed gates, hash sampling, stratum-local "
    "packing) — one pipeline, one shuffle per wide stage, no collects.",
)
def q77_corpus_prep_pack(spark: SparkSession, sf_dir: str):
    from .llm.dedup import exact_dedup
    from .llm.packing import pack_sequences
    from .llm.text_analysis import repetition_metrics, token_count_ws

    docs = load_table(spark, sf_dir, "documents")
    keep = exact_dedup(docs, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    # base (the deduped corpus) feeds the decontamination build, the
    # left-anti clean join, and the gated/sample/pack chain — each
    # consumer re-ran the digest groupBy + join from the scan (r13:
    # 19 parquet scans in q77's plan). One lazy checkpoint = one pass.
    base = docs.join(keep, "doc_id").transform(materialize)
    train = base.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    contaminated = decontaminate(
        train, bench, "text", "doc_id", k=3, min_shared=2, max_df=20
    ).select("doc_id")
    clean = train.join(contaminated, "doc_id", "left_anti")
    rep = repetition_metrics(F.col("text"))
    gated = clean.select(
        "doc_id",
        "lang",
        "text",
        token_count_ws(F.col("text")).alias("n_tokens"),
        rep["dup_word_frac"].alias("dwf"),
    ).filter((F.col("n_tokens") >= 30) & (F.col("dwf") <= 0.5))
    sampled = hash_sample(
        gated, "doc_id", {"en": 0.5}, "lang", default_rate=0.8, salt="s1"
    )
    return pack_sequences(sampled, "doc_id", 512, "lang")


@register(
    "q38_fingerprint",
    f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents)
    SELECT doc_id,
           CASE WHEN len(w) = 0 THEN 0
                ELSE list_reduce(
                       list_transform(w, t -> {o_h60('t')} % 2147483648),
                       (a, b) -> (a * 31 + b) % 2147483648)
                END AS fp
    FROM w
    """,
    doc="Document fingerprint: rolling polynomial hash over tokens "
    "(left fold, mod 2^31) — order-sensitive content signature for "
    "fast change detection; identical fold semantics to list_reduce.",
)
def q38_fingerprint(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def _corpus_prep_final(threshold: float = 0.5, min_tokens: int = 30) -> str:
    score_cols = []
    for lang, markers in LANG_MARKERS.items():
        arr = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
        score_cols.append(f"len(list_intersect(toks, {arr})) AS score_{lang}")
    langs = list(LANG_MARKERS)
    m = "greatest(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    case = (
        "CASE "
        + " ".join(f"WHEN score_{lg} = {m} THEN '{lg}'" for lg in langs)
        + " END"
    )
    return f"""
    , pairs AS (SELECT id_a, id_b FROM j WHERE jaccard_sim >= {threshold}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT reach.id, e.v AS r FROM reach JOIN edges e ON e.u = reach.r
    ),
    cl AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    reps AS (SELECT doc_id FROM cl WHERE doc_id = cluster_id),
    kept AS (
      SELECT w.doc_id, w.w,
             list_distinct(list_transform(w.w, x -> lower(x))) AS toks
      FROM w JOIN reps USING (doc_id)
      WHERE len(w.w) >= {min_tokens}
    ),
    scored AS (SELECT doc_id, len(w) AS n_tokens, {', '.join(score_cols)}
               FROM kept),
    labeled AS (SELECT n_tokens, {case} AS pred_lang FROM scored)
    SELECT pred_lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM labeled GROUP BY pred_lang
    """


@register(
    "q64_corpus_prep",
    _minhash_oracle(final_select=_corpus_prep_final(), recursive=True),
    doc="End-to-end training-corpus prep pipeline composing the LLM "
    "operators: MinHash-LSH near-dup clustering (q47) -> keep only "
    "cluster representatives -> token-count quality gate (>= 30) -> "
    "language-ID (q35) -> per-language corpus stats. The 100 TB shape: "
    "one LSH pass + component loop over the (small) pair graph, then "
    "pure scan expressions — the full prep costs ~2 shuffles beyond the "
    "dedup itself.",
)
def q64_corpus_prep(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(
        docs, "text", "doc_id", k=3, num_hashes=12, bands=4, threshold=0.5
    )
    reps = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id"
    )
    kept = docs.join(reps, "doc_id").filter(
        token_count_ws(F.col("text")) >= 30
    )
    scores = lang_scores(F.col("text"))
    scored = kept.select(
        token_count_ws(F.col("text")).alias("n_tokens"),
        *[v.alias(k) for k, v in scores.items()],
    )
    labeled = scored.withColumn(
        "pred_lang", lang_predict({k: F.col(k) for k in scores})
    )
    return labeled.groupBy("pred_lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_tokens").cast("double") / F.count("*")).alias("avg_tokens"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

@register(
    "q42_multimodal_features",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(16 + ascii(substr(text, 1, 1)) % 64 AS BIGINT) AS width,
           CAST(16 + octet_length(encode(text)) % 64 AS BIGINT) AS height,
           CAST(1 + octet_length(encode(text)) % 8 AS BIGINT) AS n_frames
    FROM documents
    """,
    doc="Multimodal column plumbing: text bytes stand in for opaque media "
    "payloads (binary column + typed metadata), features extracted by an "
    "Arrow-batched mapInPandas over the payload bytes. The decode is a "
    "deterministic stub (no codecs in this container); the oracle computes "
    "the same features closed-form from the text, so schema, batch shape "
    "and byte plumbing are verified end-to-end.",
)
def q42_multimodal_features(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    media = attach_payload(docs, "text", "doc_id")
    return extract_features(media)


@register(
    "q62_multimodal_transform",
    """
    WITH m AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n_bytes,
             1 + octet_length(encode(text)) % 8 AS n_frames
      FROM documents
    )
    SELECT doc_id,
           CAST(16 AS BIGINT) AS out_w, CAST(16 AS BIGINT) AS out_h,
           -- guard NULL payloads: least() IGNORES NULLs in both engines
           -- (least(NULL, 256) = 256), but a NULL payload must stay NULL
           -- metadata (r10 adversarial pin)
           CAST(CASE WHEN n_bytes IS NULL THEN NULL
                     ELSE least(n_bytes, 256) END AS BIGINT) AS n_bytes_out,
           CAST(n_frames AS BIGINT) AS n_frames,
           array_to_string(
             list_transform(generate_series(0, CAST(floor((n_frames - 1) / 3) AS BIGINT)),
                            i -> CAST(i * 3 AS VARCHAR)), ',') AS sampled
    FROM m
    """,
    doc="Multimodal transform plumbing: resize (payload -> bounded-byte "
    "payload) and frame-sampling (every 3rd index) FUSED into one "
    "mapInPandas pass over the binary column — separate branches would "
    "read and shuffle the opaque payload twice plus a doc_id join, and "
    "at scale payload bytes dominate all traffic. Decode/resize bodies "
    "are deterministic stubs (no codecs in container); the oracle "
    "recomputes the metadata closed-form, verifying batch shape, schema, "
    "and byte plumbing.",
)
def q62_multimodal_transform(spark: SparkSession, sf_dir: str):
    from .llm.multimodal import transform_media

    docs = load_table(spark, sf_dir, "documents")
    media = attach_payload(docs, "text", "doc_id")
    # Serialize the sampled-frame index list (driver's pandas canonicalizer
    # cannot hash array cells; see q80).
    return transform_media(media, 16, 16, 3).withColumn(
        "sampled",
        F.array_join(
            F.transform(F.col("sampled"), lambda x: x.cast("string")), ","
        ),
    )


# q101 parameters — the oracle SQL below is GENERATED from these, so the
# Spark call and the DuckDB check can never drift (ADVICE r3: a hand-edited
# rk<=20/rk<=5 would silently stop covering other k/overfetch choices).
_Q101_K = 5
_Q101_OVERFETCH = 4
_Q101_NQUERIES = 10


@register(
    "q101_quantized_rerank",
    f"""
    WITH c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    s AS (
      SELECT neighbor_id, cv,
             list_max(list_transform(cv, x -> abs(CAST(x AS DOUBLE)))) / 127.0
               AS scale
      FROM c
    ),
    dq AS (
      SELECT neighbor_id, cv,
             list_transform(
               list_transform(cv, x -> CAST(round(CAST(x AS DOUBLE) / scale)
                                             AS INTEGER)),
               x -> CAST(x AS DOUBLE) * scale) AS dv
      FROM s WHERE scale > 0
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id < {_Q101_NQUERIES}),
    cand AS (
      SELECT query_id, neighbor_id, qv, cv,
             {o_dot('qv', 'dv')}
               / (sqrt({o_dot('qv', 'qv')}) * sqrt({o_dot('dv', 'dv', 'len(dv)')}))
               AS q_sim
      FROM q CROSS JOIN dq WHERE query_id <> neighbor_id
    ),
    shortlist AS (
      SELECT query_id, neighbor_id, qv, cv
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY q_sim DESC, neighbor_id) AS rk
            FROM cand)
      WHERE rk <= {_Q101_K * _Q101_OVERFETCH}
    ),
    rr AS (
      SELECT query_id, neighbor_id,
             {o_dot('qv', 'cv')}
               / (sqrt({o_dot('qv', 'qv')}) * sqrt({o_dot('cv', 'cv', 'len(cv)')}))
               AS cos_sim
      FROM shortlist
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rk
          FROM rr)
    WHERE rk <= {_Q101_K}
    """,
    doc="Two-stage retrieval over int8 storage — the scale path q80 "
    "documents: candidate cosine against the DEQUANTIZED int8 corpus "
    "(the 4-8x smaller always-hot representation), exact full-precision "
    "re-rank on only k*overfetch survivors per query. Quantization math "
    "is bit-identical to q80's oracle-proven shape; bounded query set "
    "(vec_id < 10) is the verification envelope, the corpus side stays "
    "full-size.",
)
def q101_quantized_rerank(spark: SparkSession, sf_dir: str):
    from .llm.similarity import quantized_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return quantized_rerank_topk(
        emb, emb.filter(F.col("vec_id") < _Q101_NQUERIES), "vec_id", "embedding",
        k=_Q101_K, overfetch=_Q101_OVERFETCH,
    )


def _sig_cols_sql(num_hashes: int = 12) -> str:
    from .llm.dedup import MINHASH_P, minhash_params

    return ",\n             ".join(
        f"list_min(list_transform(sh, s -> "
        f"(({o_h60('s')} % {MINHASH_P}) * {a} + {b}) % {MINHASH_P})) AS mh{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )


def _band_selects_sql(sig_cte: str, num_hashes: int = 12, bands: int = 4) -> str:
    rows_per = num_hashes // bands
    return "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band_idx, md5({concat}) AS band_hash FROM {src}".format(
            b=b,
            src=sig_cte,
            concat=" || ',' || ".join(
                f"CAST(mh{b * rows_per + r} AS VARCHAR)" for r in range(rows_per)
            ),
        )
        for b in range(bands)
    )


# q102 corpus-side hot-band cap — oracle generated from the same constant
# the Spark call passes, so the skew guard itself is oracle-covered.
_Q102_BAND_CAP = 1000


@register(
    "q102_incremental_dedup",
    rf"""
    WITH newb AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7),
    corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7),
    nd AS (SELECT doc_id AS new_id,
                  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS dg
           FROM newb),
    cd AS (SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS dg,
                  MIN(doc_id) AS match_id
           FROM corpus GROUP BY 1),
    exact AS (SELECT new_id, match_id FROM nd JOIN cd USING (dg)),
    nw AS (SELECT doc_id, {O_TOKENS} AS w FROM newb),
    nf AS (SELECT doc_id, {O_SHINGLES} AS sh FROM nw
           WHERE len({O_SHINGLES}) > 0),
    cw AS (SELECT doc_id, {O_TOKENS} AS w FROM corpus),
    cf AS (SELECT doc_id, {O_SHINGLES} AS sh FROM cw
           WHERE len({O_SHINGLES}) > 0),
    nsig AS (SELECT doc_id, sh, {_sig_cols_sql()} FROM nf),
    csig AS (SELECT doc_id, sh, {_sig_cols_sql()} FROM cf),
    nband AS (
      {_band_selects_sql('nsig')}
    ),
    cband0 AS (
      {_band_selects_sql('csig')}
    ),
    cband AS (
      SELECT doc_id, band_idx, band_hash
      FROM (SELECT *, row_number() OVER (PARTITION BY band_idx, band_hash
                                         ORDER BY doc_id) AS bk
            FROM cband0)
      WHERE bk <= {_Q102_BAND_CAP}
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS cand_id
      FROM nband n JOIN cband c
        ON n.band_idx = c.band_idx AND n.band_hash = c.band_hash
    ),
    j AS (
      SELECT new_id, cand_id,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jac
      FROM cand JOIN nf a ON a.doc_id = new_id JOIN cf b ON b.doc_id = cand_id
    ),
    near AS (
      SELECT new_id, cand_id AS near_id, jac
      FROM (SELECT *, row_number() OVER (PARTITION BY new_id
                                         ORDER BY jac DESC, cand_id) AS rk
            FROM j WHERE jac >= 0.5)
      WHERE rk = 1
    )
    SELECT b.doc_id AS new_id,
           CASE WHEN e.match_id IS NOT NULL THEN 'exact_dup'
                WHEN n.near_id IS NOT NULL THEN 'near_dup'
                ELSE 'unique' END AS status,
           COALESCE(e.match_id, n.near_id) AS match_id,
           CASE WHEN e.match_id IS NULL THEN n.jac END AS jaccard_sim
    FROM newb b
    LEFT JOIN exact e ON e.new_id = b.doc_id
    LEFT JOIN near n ON n.new_id = b.doc_id
    """,
    doc="Continuous-ingestion dedup — the daily-batch shape a 100 TB "
    "training pipeline runs: an incoming batch (doc_id % 10 = 7 stands "
    "in for today's crawl) scored against the existing corpus. Exact "
    "duplicates via normalized-digest join (lowest corpus id wins); "
    "near-dups via MinHash-LSH banding joined new x corpus ONLY (cost "
    "scales with batch size, never corpus^2; corpus signatures are "
    "precomputable). Corpus-side hot-band cap (min-1000-ids per band "
    "bucket, mirrored in this oracle) bounds the join fan-out when "
    "boilerplate puts millions of corpus docs behind one band key. "
    "Verdict per new doc: exact_dup / near_dup (best Jaccard >= 0.5, "
    "deterministic tie-break) / unique.",
)
def q102_incremental_dedup(spark: SparkSession, sf_dir: str):
    from .llm.dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    return incremental_dedup(
        docs.filter(F.col("doc_id") % 10 == 7),
        docs.filter(F.col("doc_id") % 10 != 7),
        "text",
        "doc_id",
        k=3,
        num_hashes=12,
        bands=4,
        threshold=0.5,
        corpus_band_cap=_Q102_BAND_CAP,
    )


# ---------------------------------------------------------------------------
# Round 4: corpus-governance operators — per-domain quotas, exact heavy
# hitters via bounded-memory sketches, ANN quality evaluation, canonical
# doc selection, and training-mix rebalancing.
# ---------------------------------------------------------------------------

@register(
    "q105_source_quota",
    """
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents)
    WHERE rk <= 10
    """,
    doc="Per-domain quota cap (C4/RefinedWeb-style): keep at most 10 "
    "docs per source, preferring the longest (ties to lowest id) — stops "
    "boilerplate-heavy domains from dominating the training mix. The "
    "Spark plan ranks ONLY over-quota domains: a per-domain count is "
    "broadcast back and the under-quota long tail passes through without "
    "a window sort (semantically identical to this oracle's single "
    "window; the split is pure cost).",
)
def q105_source_quota(spark: SparkSession, sf_dir: str):
    from .llm.sampling import source_quota

    docs = load_table(spark, sf_dir, "documents")
    return source_quota(
        docs.select("doc_id", "source", "n_chars"),
        group_col="source",
        quota=10,
        order_col="n_chars",
        id_col="doc_id",
    ).select("doc_id", "source", "n_chars")


@register(
    "q106_heavy_hitters",
    """
    SELECT event_type, COUNT(*) AS cnt
    FROM events
    GROUP BY event_type
    HAVING COUNT(*) >= CEIL(0.15 * (SELECT COUNT(*) FROM events))
    """,
    doc="Exact heavy hitters (all keys in >= 15% of rows) via the "
    "sketch-then-verify pattern: per-partition Misra-Gries summaries "
    "(fixed 14-counter memory regardless of rows or distinct keys; "
    "pigeonhole guarantees the union of summaries is a superset of the "
    "true heavy hitters under ANY partition layout) generate candidates, "
    "then an exact recount of candidates only — the wide aggregation "
    "never shuffles the full key space. Output is exact, so sketch "
    "nondeterminism cannot change it; this oracle is plain GROUP BY "
    "HAVING.",
)
def q106_heavy_hitters(spark: SparkSession, sf_dir: str):
    from .llm.sketches import heavy_hitters

    ev = load_table(spark, sf_dir, "events")
    return heavy_hitters(ev, "event_type", theta=0.15)


def _recall_oracle(n_cells: int = 16, k: int = 5, nprobe: int = 2) -> str:
    cos = (
        f"{o_dot('qv', 'cv')} / (sqrt({o_dot('qv', 'qv')}) "
        f"* sqrt({o_dot('cv', 'cv', 'len(cv)')}))"
    )
    assign_cos = (
        f"{o_dot('v', 'centv', 'len(v)')} / (sqrt({o_dot('v', 'v', 'len(v)')}) "
        f"* sqrt({o_dot('centv', 'centv', 'len(centv)')}))"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    xq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    xc AS (SELECT vec_id AS neighbor_id, v AS cv FROM e),
    xdots AS (
      SELECT query_id, neighbor_id, {cos} AS cos_sim
      FROM xq CROSS JOIN xc WHERE query_id <> neighbor_id
    ),
    ex AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos_sim DESC, neighbor_id) AS rk
            FROM xdots)
      WHERE rk <= {k}
    ),
    cents AS (SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < {n_cells}),
    scored AS (
      SELECT e.vec_id, e.v, c.cell, {assign_cos} AS cs
      FROM e CROSS JOIN cents c
    ),
    asg AS (
      SELECT vec_id, v, cell, rk
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cs DESC, cell) AS rk
            FROM scored)
      WHERE rk <= {nprobe}
    ),
    aq AS (SELECT vec_id AS query_id, v AS qv, cell FROM asg WHERE vec_id < 10),
    ap AS (SELECT vec_id AS neighbor_id, v AS cv, cell FROM asg WHERE rk = 1),
    adots AS (
      SELECT query_id, neighbor_id, {cos} AS cos_sim
      FROM aq JOIN ap USING (cell) WHERE query_id <> neighbor_id
    ),
    ann AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos_sim DESC, neighbor_id) AS rk
            FROM adots)
      WHERE rk <= {k}
    )
    SELECT ex.query_id,
           COUNT(*) AS n_exact,
           COUNT(ann.query_id) AS n_hits,
           CAST(COUNT(ann.query_id) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS recall
    FROM ex LEFT JOIN ann
      ON ann.query_id = ex.query_id AND ann.neighbor_id = ex.neighbor_id
    GROUP BY ex.query_id
    """


@register(
    "q107_ann_recall",
    _recall_oracle(),
    doc="Recall@5 of the IVF index (16 cells, nprobe=2 — q74's exact "
    "configuration) against brute-force cosine over a 10-query evaluation "
    "panel: the quality gate an ANN deployment needs before serving. The "
    "brute-force arm is bounded by the panel size by design; the index "
    "arm is the production plan unchanged; the hit join keys on "
    "(query_id, neighbor_id) pairs — panel x k rows. Deterministic "
    "tie-breaks on both arms make recall reproducible across engines.",
)
def q107_ann_recall(spark: SparkSession, sf_dir: str):
    from .llm.similarity import ann_recall

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_recall(
        emb, emb.filter(F.col("vec_id") < 10), n_cells=16, k=5, nprobe=2
    )


_KEEP_BEST_FINAL = """
    , pairs AS (SELECT id_a, id_b FROM j WHERE jaccard_sim >= 0.5),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT reach.id, e.v AS r FROM reach JOIN edges e ON e.u = reach.r
    ),
    clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    scored AS (
      SELECT c.cluster_id, c.doc_id, d.n_chars
      FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT cluster_id, doc_id AS keep_id, n_chars AS keep_score,
           CAST(n_members AS BIGINT) AS n_members
    FROM (SELECT *,
                 row_number() OVER (PARTITION BY cluster_id
                                    ORDER BY n_chars DESC, doc_id) AS rk,
                 COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
          FROM scored)
    WHERE rk = 1
    """


@register(
    "q108_cluster_keep_best",
    _minhash_oracle(final_select=_KEEP_BEST_FINAL, recursive=True),
    doc="Canonical-document selection: q47's near-dup connected "
    "components reduced to one kept doc per cluster — the HIGHEST-quality "
    "member (here n_chars, ties to lowest id), the corpus-prep policy "
    "that keeps the cleanest copy of each boilerplate family rather than "
    "whichever crawled first. Spark side: CC over pair-graph nodes only, "
    "then a partial-aggregated struct-max argmax per cluster_id — no "
    "window sort over the corpus. Oracle: recursive min-reachability CTE "
    "+ per-cluster rank.",
)
def q108_cluster_keep_best(spark: SparkSession, sf_dir: str):
    from .llm.dedup import cluster_keep_best

    docs = load_table(spark, sf_dir, "documents")
    return cluster_keep_best(
        docs, "text", "doc_id", "n_chars",
        k=3, num_hashes=12, bands=4, threshold=0.5,
    )


_MIX_TARGETS = {"de": 0.2, "en": 0.4, "es": 0.2, "fr": 0.1, "zh": 0.1}


def _mix_oracle(targets: dict[str, float], salt: str = "mix1") -> str:
    values = ", ".join(
        f"('{lang}', CAST({share} AS DOUBLE))"
        for lang, share in sorted(targets.items())
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, lang, CAST(len({O_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    agg AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS t
            FROM tok GROUP BY lang),
    tgt AS (SELECT * FROM (VALUES {values}) tt(lang, share)),
    j AS (SELECT agg.lang, agg.t, tgt.share
          FROM agg JOIN tgt ON agg.lang = tgt.lang),
    cmin AS (SELECT MIN(CAST(t AS DOUBLE) / share) AS cval FROM j),
    rates AS (
      SELECT lang, share * (SELECT cval FROM cmin) / CAST(t AS DOUBLE) AS rate
      FROM j
    )
    SELECT tok.doc_id, tok.lang, tok.n_tokens, r.rate
    FROM tok JOIN rates r ON tok.lang = r.lang
    WHERE CAST('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 15)
               AS BIGINT) / 1152921504606846976.0 < r.rate
    """


@register(
    "q109_mix_rebalance",
    _mix_oracle(_MIX_TARGETS),
    doc="Training-mix rebalancing: derive per-language sampling rates so "
    "the EXPECTED sampled token mass hits target shares (en 40%, de/es "
    "20%, fr/zh 10%), downsampling-only (the binding stratum keeps rate "
    "1), then apply the deterministic md5 sample at those rates. One "
    "partial-agg shuffle on the tiny language key, a 1-row feasibility "
    "min, a broadcast rate join, and a scan-speed per-row keep/drop — "
    "reproducible across runs, retries, and engines. Exact BIGINT token "
    "totals and single-division double rates keep the sample boundary "
    "bit-identical to this oracle.",
)
def q109_mix_rebalance(spark: SparkSession, sf_dir: str):
    from .llm.sampling import mix_rebalance
    from .llm.text_analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return mix_rebalance(
        base, "doc_id", "lang", "n_tokens", _MIX_TARGETS, salt="mix1"
    ).select("doc_id", "lang", "n_tokens", "rate")


_BM25_TERMS = ["vector", "stream", "filter"]
_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 20


def _bm25_oracle(
    terms: list[str], k1: float, b: float, topk: int
) -> str:
    tf_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS tf_{t}"
        for t in terms
    )
    df_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{t}"
        for t in terms
    )
    in_list = ", ".join(f"'{t}'" for t in terms)
    avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    den_norm = (
        f"(CAST({1.0 - b!r} AS DOUBLE) + CAST({b!r} AS DOUBLE)"
        f" * (CAST(dl AS DOUBLE) / {avgdl}))"
    )
    parts = []
    for t in terms:
        idf = (
            f"((CAST(n_docs AS DOUBLE) - CAST(df_{t} AS DOUBLE)"
            f" + CAST(0.5 AS DOUBLE))"
            f" / (CAST(df_{t} AS DOUBLE) + CAST(0.5 AS DOUBLE)))"
        )
        part = (
            f"({idf} * ((CAST(tf_{t} AS DOUBLE) * CAST({k1 + 1.0!r} AS DOUBLE))"
            f" / (CAST(tf_{t} AS DOUBLE) + CAST({k1!r} AS DOUBLE)"
            f" * {den_norm})))"
        )
        parts.append(part)
    score = "CAST(0.0 AS DOUBLE) + " + " + ".join(parts)
    tf_out = ", ".join(f"tf_{t}" for t in terms)
    return f"""
    WITH dd AS (
      -- distinct ingestion: duplicate primary-key redeliveries must not
      -- inflate df/N corpus stats (r10 adversarial pin; same contract
      -- as q100)
      SELECT DISTINCT doc_id, text FROM documents
    ),
    w AS (SELECT doc_id, {O_TOKENS} AS w FROM dd),
    toks AS (SELECT doc_id, unnest(w) AS term FROM w),
    tf AS (
      SELECT doc_id,
             {tf_cols}
      FROM toks WHERE term IN ({in_list}) GROUP BY doc_id
    ),
    dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM w),
    cs AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
           FROM dl),
    dfs AS (SELECT
             {df_cols}
            FROM tf),
    scored AS (
      SELECT tf.doc_id, {tf_out}, dl.dl, cs.n_docs, cs.sum_dl, dfs.*
      FROM tf JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN cs CROSS JOIN dfs
    )
    SELECT doc_id, {tf_out}, dl, {score} AS score
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT {topk}
    """


@register(
    "q110_bm25_search",
    _bm25_oracle(_BM25_TERMS, _BM25_K1, _BM25_B, _BM25_TOPK),
    doc="BM25 keyword retrieval (k1=1.2, b=0.75) for a fixed query-term "
    "set — the lexical half of a hybrid retrieval stack next to the ANN "
    "path (q34/q74). Rational-idf variant ((N-df+.5)/(df+.5), no ln) so "
    "every score is exact-integer counts composed by IEEE-exact + * / "
    "only — bit-identical across engines (ln is not correctly-rounded-"
    "guaranteed; rank order per term is unchanged, inter-term weights "
    "diverge from textbook BM25 — documented). Plan: no explode, no "
    "per-doc shuffle — each tf is a per-row size(filter(tokens)) array "
    "expression at scan speed; corpus stats (N, sum dl, per-term df) are "
    "ONE fused broadcast 1-row aggregate; top-k is "
    "TakeOrderedAndProject (per-partition heaps, no global sort). "
    "Oracle generated from the same constants.",
)
def q110_bm25_search(spark: SparkSession, sf_dir: str):
    from .llm.text_analysis import bm25_topk

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .distinct()  # distinct ingestion — see oracle note
    )
    return bm25_topk(
        docs, "text", "doc_id", _BM25_TERMS,
        k1=_BM25_K1, b=_BM25_B, topk=_BM25_TOPK,
    )


def _rrf_oracle(
    n_queries: int = 8, pool: int = 20, k: int = 10, rrf_k: int = 60
) -> str:
    cos = (
        f"{o_dot('qv', 'cv')} / (sqrt({o_dot('qv', 'qv')}) "
        f"* sqrt({o_dot('cv', 'cv', 'len(cv)')}))"
    )
    return f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents),
    shin AS (SELECT doc_id, {O_SHINGLES} AS sh FROM w),
    f AS (SELECT * FROM shin WHERE len(sh) > 0),
    q AS (SELECT doc_id AS query_id, sh AS qsh FROM f WHERE doc_id < {n_queries}),
    lexs AS (
      SELECT query_id, f.doc_id,
             CAST(len(list_intersect(qsh, sh)) AS DOUBLE)
               / CAST(len(list_distinct(qsh || sh)) AS DOUBLE) AS jac
      FROM q CROSS JOIN f WHERE query_id <> f.doc_id
    ),
    lex AS (
      SELECT query_id, doc_id, CAST(rk AS BIGINT) AS rank_lex
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY jac DESC, doc_id) AS rk
            FROM lexs)
      WHERE rk <= {pool}
    ),
    e AS (SELECT vec_id, embedding AS v FROM embeddings),
    vq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {n_queries}),
    vc AS (SELECT vec_id AS neighbor_id, v AS cv FROM e),
    vdots AS (
      SELECT query_id, neighbor_id, {cos} AS cos_sim
      FROM vq CROSS JOIN vc WHERE query_id <> neighbor_id
    ),
    vec AS (
      SELECT query_id, neighbor_id AS doc_id, CAST(rk AS BIGINT) AS rank_vec
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos_sim DESC, neighbor_id) AS rk
            FROM vdots)
      WHERE rk <= {pool}
    ),
    fused AS (
      SELECT COALESCE(l.query_id, v.query_id) AS query_id,
             COALESCE(l.doc_id, v.doc_id) AS doc_id,
             l.rank_lex, v.rank_vec,
             COALESCE(CAST(1.0 AS DOUBLE)
                        / CAST({rrf_k} + l.rank_lex AS DOUBLE),
                      CAST(0.0 AS DOUBLE))
               + COALESCE(CAST(1.0 AS DOUBLE)
                            / CAST({rrf_k} + v.rank_vec AS DOUBLE),
                          CAST(0.0 AS DOUBLE)) AS rrf_score
      FROM lex l FULL JOIN vec v
        ON v.query_id = l.query_id AND v.doc_id = l.doc_id
    )
    SELECT query_id, doc_id, rank_lex, rank_vec, rrf_score,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY rrf_score DESC, doc_id) AS rk
          FROM fused)
    WHERE rk <= {k}
    """


def _rrf_lsh_oracle(
    n_queries: int = 8,
    pool: int = 20,
    k: int = 10,
    rrf_k: int = 60,
    num_hashes: int = 12,
    bands: int = 4,
    vec_route: str = "scan",
    n_cells: int = 16,
    nprobe: int = 2,
) -> str:
    from .llm.dedup import MINHASH_P, minhash_params

    cos = (
        f"{o_dot('qv', 'cv')} / (sqrt({o_dot('qv', 'qv')}) "
        f"* sqrt({o_dot('cv', 'cv', 'len(cv)')}))"
    )
    if vec_route == "ivf":
        assign_cos = (
            f"{o_dot('v', 'centv', 'len(v)')} "
            f"/ (sqrt({o_dot('v', 'v', 'len(v)')}) "
            f"* sqrt({o_dot('centv', 'centv', 'len(centv)')}))"
        )
        vec_ctes = f"""e AS (SELECT vec_id, embedding AS v FROM embeddings),
    cents AS (SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < {n_cells}),
    vscored AS (
      SELECT e.vec_id, e.v, c.cell, {assign_cos} AS cs
      FROM e CROSS JOIN cents c
    ),
    asg AS (
      SELECT vec_id, v, cell, rk
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cs DESC, cell) AS rk
            FROM vscored)
      WHERE rk <= {nprobe}
    ),
    vq AS (SELECT vec_id AS query_id, v AS qv, cell FROM asg
           WHERE vec_id < {n_queries}),
    vp AS (SELECT vec_id AS neighbor_id, v AS cv, cell FROM asg WHERE rk = 1),
    vdots AS (
      SELECT query_id, neighbor_id, {cos} AS cos_sim
      FROM vq JOIN vp USING (cell) WHERE query_id <> neighbor_id
    )"""
    else:
        vec_ctes = f"""e AS (SELECT vec_id, embedding AS v FROM embeddings),
    vq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {n_queries}),
    vc AS (SELECT vec_id AS neighbor_id, v AS cv FROM e),
    vdots AS (
      SELECT query_id, neighbor_id, {cos} AS cos_sim
      FROM vq CROSS JOIN vc WHERE query_id <> neighbor_id
    )"""
    rows_per = num_hashes // bands
    sig_cols = ",\n             ".join(
        f"list_min(list_transform(sh, s -> "
        f"(({o_h60('s')} % {MINHASH_P}) * {a} + {b}) % {MINHASH_P})) AS mh{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band_idx, md5({concat}) AS band_hash FROM sig".format(
            b=b,
            concat=" || ',' || ".join(
                f"CAST(mh{b * rows_per + r} AS VARCHAR)" for r in range(rows_per)
            ),
        )
        for b in range(bands)
    )
    return f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents),
    shin AS (SELECT doc_id, {O_SHINGLES} AS sh FROM w),
    f AS (SELECT * FROM shin WHERE len(sh) > 0),
    sig AS (SELECT doc_id, sh,
             {sig_cols}
            FROM f),
    banded AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS query_id, y.doc_id AS doc_id
      FROM banded x JOIN banded y
        ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
      WHERE x.doc_id < {n_queries} AND x.doc_id <> y.doc_id
    ),
    lexs AS (
      SELECT query_id, cand.doc_id,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jac
      FROM cand JOIN f a ON a.doc_id = query_id
                JOIN f b ON b.doc_id = cand.doc_id
    ),
    lex AS (
      SELECT query_id, doc_id, CAST(rk AS BIGINT) AS rank_lex
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY jac DESC, doc_id) AS rk
            FROM lexs)
      WHERE rk <= {pool}
    ),
    {vec_ctes},
    vec AS (
      SELECT query_id, neighbor_id AS doc_id, CAST(rk AS BIGINT) AS rank_vec
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos_sim DESC, neighbor_id) AS rk
            FROM vdots)
      WHERE rk <= {pool}
    ),
    fused AS (
      SELECT COALESCE(l.query_id, v.query_id) AS query_id,
             COALESCE(l.doc_id, v.doc_id) AS doc_id,
             l.rank_lex, v.rank_vec,
             COALESCE(CAST(1.0 AS DOUBLE)
                        / CAST({rrf_k} + l.rank_lex AS DOUBLE),
                      CAST(0.0 AS DOUBLE))
               + COALESCE(CAST(1.0 AS DOUBLE)
                            / CAST({rrf_k} + v.rank_vec AS DOUBLE),
                          CAST(0.0 AS DOUBLE)) AS rrf_score
      FROM lex l FULL JOIN vec v
        ON v.query_id = l.query_id AND v.doc_id = l.doc_id
    )
    SELECT query_id, doc_id, rank_lex, rank_vec, rrf_score,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY rrf_score DESC, doc_id) AS rk
          FROM fused)
    WHERE rk <= {k}
    """


@register(
    "q119_hybrid_rrf_lsh",
    _rrf_lsh_oracle(),
    doc="q112's scale path for the lexical arm: candidate generation "
    "through MinHash band keys (q32's lsh_bands machinery) — the panel's "
    "band keys equi-join the corpus's, exact Jaccard runs only on banded "
    "survivors, and the panel x corpus nested-loop pairing never forms "
    "(plan-tested; the remaining nested loop is the bounded vector arm). "
    "Banded pairs keep bit-identical Jaccard and relative order vs the "
    "q112 scan arm; a doc sharing no band with the query drops from the "
    "lexical ranking but can still reach the fusion via the vector arm — "
    "the standard LSH recall trade, measured by the parity unit test.",
)
def q119_hybrid_rrf_lsh(spark: SparkSession, sf_dir: str):
    from .llm.similarity import hybrid_rrf_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return hybrid_rrf_topk(
        docs, emb, n_queries=8, pool=20, k=10, rrf_k=60, lex_route="lsh"
    )


@register(
    "q120_hybrid_rrf_routed",
    _rrf_lsh_oracle(vec_route="ivf"),
    doc="The fully-routed hybrid: lexical arm through MinHash band keys "
    "(q119) AND vector arm through IVF posting lists (q74's ivf_topk, "
    "nprobe=2/16) — with both arms routed the whole retrieval query has "
    "NO panel x corpus nested loop left (plan-tested: the only nested "
    "loops are the two broadcast centroid assignments, build side = 16 "
    "rows), so panel growth costs band-bucket + nprobe/n_cells work per "
    "query instead of two corpus scans. Measured at sf0.1/256-query "
    "panel the lexical arm alone is ~6x faster routed; this is the "
    "production shape at 100 TB — q112 stays as the bounded-panel exact "
    "baseline the recall evaluation (q107) is run against.",
)
def q120_hybrid_rrf_routed(spark: SparkSession, sf_dir: str):
    from .llm.similarity import hybrid_rrf_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return hybrid_rrf_topk(
        docs, emb, n_queries=8, pool=20, k=10, rrf_k=60,
        lex_route="lsh", vec_route="ivf", n_cells=16, nprobe=2,
    )


@register(
    "q112_hybrid_rrf",
    _rrf_oracle(),
    doc="Hybrid retrieval capstone: Reciprocal Rank Fusion (Cormack et "
    "al. SIGIR'09) of the lexical arm (3-shingle Jaccard vs the query "
    "document, q31's primitive) and the semantic arm (embedding cosine, "
    "q34's primitive) — score = 1/(60+rank_lex) + 1/(60+rank_vec), only "
    "RANKS cross the arms so incomparable score scales never mix. Both "
    "arms rank a top-20 pool per query over an 8-query panel; the fusion "
    "is a FULL OUTER join on (query_id, doc_id); top-10 by RRF score. "
    "Integer ranks + fixed-order two-term double sum keep it "
    "bit-identical across engines. Scale: bounded-panel passes; LSH/IVF "
    "(q32/q74) are the drop-in scale paths per arm.",
)
def q112_hybrid_rrf(spark: SparkSession, sf_dir: str):
    from .llm.similarity import hybrid_rrf_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return hybrid_rrf_topk(docs, emb, n_queries=8, pool=20, k=10, rrf_k=60)


@register(
    "q114_profile_events",
    r"""
    WITH a AS (
      SELECT COUNT(*) AS n_rows,
             COUNT(*) - COUNT(event_id) AS nn_event_id,
             COUNT(DISTINCT event_id) AS nd_event_id,
             CAST(MIN(event_id) AS VARCHAR) AS mn_event_id,
             CAST(MAX(event_id) AS VARCHAR) AS mx_event_id,
             COUNT(*) - COUNT(user_id) AS nn_user_id,
             COUNT(DISTINCT user_id) AS nd_user_id,
             CAST(MIN(user_id) AS VARCHAR) AS mn_user_id,
             CAST(MAX(user_id) AS VARCHAR) AS mx_user_id,
             COUNT(*) - COUNT(event_type) AS nn_event_type,
             COUNT(DISTINCT event_type) AS nd_event_type,
             MIN(event_type) AS mn_event_type,
             MAX(event_type) AS mx_event_type,
             COUNT(*) - COUNT(ts) AS nn_ts,
             COUNT(DISTINCT ts) AS nd_ts,
             CAST(MIN(epoch_us(ts)) AS VARCHAR) AS mn_ts,
             CAST(MAX(epoch_us(ts)) AS VARCHAR) AS mx_ts
      FROM events
    )
    SELECT 'event_id' AS col_name, n_rows, nn_event_id AS n_nulls,
           nd_event_id AS n_distinct, mn_event_id AS min_repr,
           mx_event_id AS max_repr FROM a
    UNION ALL
    SELECT 'event_type', n_rows, nn_event_type, nd_event_type,
           mn_event_type, mx_event_type FROM a
    UNION ALL
    SELECT 'ts', n_rows, nn_ts, nd_ts, mn_ts, mx_ts FROM a
    UNION ALL
    SELECT 'user_id', n_rows, nn_user_id, nd_user_id, mn_user_id,
           mx_user_id FROM a
    """,
    doc="One-pass dataset profiler — the schema-audit read a pipeline "
    "runs before trusting a new drop: per column (id, type, timestamp, "
    "user) the row count, null count, EXACT distinct count, and min/max "
    "in a cross-engine-stable representation (integers and epoch-micros "
    "as strings; never float/timestamp formatting, which differs between "
    "engines). All 16 aggregates fuse into ONE aggregation pass (Spark "
    "plans multi-distinct via Expand — a documented 4x row expansion "
    "behind one shuffle; at deploy scale the documented knob is "
    "approx_count_distinct, traded here for oracle-exactness), then a "
    "4-row stack of the single result row.",
)
def q114_profile_events(spark: SparkSession, sf_dir: str):
    from .operators.aggregates import profile_columns

    ev = load_table(spark, sf_dir, "events")
    return profile_columns(
        ev, ["event_id", "event_type", "ts", "user_id"], exact=True
    )


@register(
    "q115_source_dedup_report",
    r"""
    WITH d AS (
      SELECT source,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS dg
      FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT dg) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT dg) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_frac
    FROM d GROUP BY source
    """,
    doc="Per-source dedup-rate governance report: exact-digest duplicate "
    "share per domain (q30's normalization) — the curation dashboard "
    "that tells you WHICH feeds are boilerplate mills before you spend "
    "cluster time deduping them. One groupBy on (source) with an exact "
    "distinct over digests; dup_frac is a single integer-exact double "
    "division.",
)
def q115_source_dedup_report(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    dg = _digest("text")
    return (
        docs.select("source", dg.alias("dg"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("dg").alias("n_unique"),
            (
                (F.count(F.lit(1)) - F.countDistinct("dg")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("dup_frac"),
        )
    )


@register(
    "q117_hard_negatives",
    f"""
    WITH q AS (SELECT vec_id AS anchor_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
    dots AS (
      SELECT anchor_id, cand_id,
             {o_dot('qv', 'cv')}
               / (sqrt({o_dot('qv', 'qv')}) * sqrt({o_dot('cv', 'cv', 'len(cv)')}))
               AS cos_sim
      FROM q CROSS JOIN c WHERE anchor_id <> cand_id
    ),
    band AS (
      SELECT * FROM dots WHERE cos_sim >= 0.05 AND cos_sim < 0.25
    )
    SELECT anchor_id, cand_id AS negative_id, cos_sim,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                       ORDER BY cos_sim DESC, cand_id) AS rk
          FROM band)
    WHERE rk <= 5
    """,
    doc="Contrastive hard-negative mining: for each anchor, the top-5 "
    "MOST-similar candidates inside the (0.05, 0.25) cosine band — "
    "similar enough to be informative negatives for embedding training, "
    "below the near-dup zone that would make them false negatives "
    "(SimCLR/DPR-style curriculum). Same bounded-panel scan shape as "
    "q34 with the band filter applied before the per-anchor rank; at "
    "scale the candidate generation routes through IVF/LSH (q74/q39) "
    "exactly as the top-k path does. The band edges sit on cosine "
    "values computed identically in both engines, so membership is "
    "bit-deterministic.",
)
def q117_hard_negatives(spark: SparkSession, sf_dir: str):
    from .llm.similarity import hard_negatives_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        band_lo=0.05,
        band_hi=0.25,
        n=5,
    )


def _hard_neg_ivf_oracle(
    n_cells: int = 8,
    nprobe: int = 4,
    band_lo: float = 0.05,
    band_hi: float = 0.25,
    n: int = 5,
) -> str:
    cos = (
        f"{o_dot('qv', 'cv')} / (sqrt({o_dot('qv', 'qv')}) "
        f"* sqrt({o_dot('cv', 'cv', 'len(cv)')}))"
    )
    assign_cos = (
        f"{o_dot('v', 'centv', 'len(v)')} / (sqrt({o_dot('v', 'v', 'len(v)')}) "
        f"* sqrt({o_dot('centv', 'centv', 'len(centv)')}))"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    cents AS (SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < {n_cells}),
    scored AS (
      SELECT e.vec_id, e.v, c.cell, {assign_cos} AS cs
      FROM e CROSS JOIN cents c
    ),
    asg AS (
      SELECT vec_id, v, cell, rk
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cs DESC, cell) AS rk
            FROM scored)
      WHERE rk <= {nprobe}
    ),
    q AS (SELECT vec_id AS anchor_id, v AS qv, cell FROM asg
          WHERE vec_id < 10 AND rk <= {nprobe}),
    p AS (SELECT vec_id AS negative_id, v AS cv, cell FROM asg WHERE rk = 1),
    dots AS (
      SELECT anchor_id, negative_id, {cos} AS cos_sim
      FROM q JOIN p USING (cell) WHERE anchor_id <> negative_id
    ),
    band AS (
      SELECT * FROM dots WHERE cos_sim >= {band_lo} AND cos_sim < {band_hi}
    )
    SELECT anchor_id, negative_id, cos_sim, CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                       ORDER BY cos_sim DESC, negative_id) AS rk
          FROM band)
    WHERE rk <= {n}
    """


@register(
    "q118_hard_negatives_ivf",
    _hard_neg_ivf_oracle(),
    doc="q117's scale path: hard-negative candidate generation routed "
    "through IVF cells (the quantized_rerank_topk_ivf pattern) so the "
    "anchors x corpus pairing never forms — centroids broadcast, corpus "
    "posting lists live in exactly one cell, each anchor probes its 4 "
    "nearest of 8 cells, exact cosine + the (0.05, 0.25) band filter run "
    "only on cell-local candidates before the per-anchor top-5 rank. "
    "nprobe sits higher than an ANN top-k default because the target "
    "band is MID-similarity (middle-ranked cells hold it); "
    "nprobe == n_cells reproduces q117 exactly (unit-tested identity).",
)
def q118_hard_negatives_ivf(spark: SparkSession, sf_dir: str):
    from .llm.similarity import hard_negatives_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives_topk_ivf(
        emb,
        emb.filter(F.col("vec_id") < 10),
        band_lo=0.05,
        band_hi=0.25,
        n=5,
        n_cells=8,
        nprobe=4,
    )


# ---------------------------------------------------------------------------
# q122 — CCNet-style corpus-LM quality buckets
# ---------------------------------------------------------------------------

@register(
    "q122_ccnet_quality_buckets",
    f"""
    WITH w AS (SELECT doc_id, lang, {O_TOKENS} AS w FROM documents),
    f AS (SELECT * FROM w WHERE len(w) > 0),
    tok AS (SELECT doc_id, lang, unnest(w) AS t FROM f),
    tf AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
    tot AS (SELECT COUNT(*) AS total_toks FROM tok),
    ds AS (
      SELECT doc_id, lang, COUNT(*) AS n_tokens, SUM(cnt) AS sum_cnt
      FROM tok JOIN tf USING (t) GROUP BY doc_id, lang
    ),
    scored AS (
      SELECT doc_id, lang, n_tokens,
             (CAST(sum_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE))
               / CAST(total_toks AS DOUBLE) AS score
      FROM ds CROSS JOIN tot
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, score,
           CAST(ntile(3) OVER (PARTITION BY lang
                               ORDER BY score DESC, doc_id) AS BIGINT)
             AS bucket
    FROM scored
    """,
    doc="CCNet-style quality bucketing (Wenzek et al. 2020): score every "
    "document by its mean token corpus-frequency under a unigram LM "
    "trained ON THE CORPUS ITSELF, then split each language into "
    "head/middle/tail thirds (bucket 1 = most-fluent/common register, "
    "3 = rare/noisy tail — CCNet's crawl-curation signal). Divergence "
    "from the paper, documented: mean token PROBABILITY instead of "
    "log-perplexity — natural log is not correctly-rounded-guaranteed "
    "across engines (q110's rational-idf rationale); the bucket signal "
    "survives, built from exact integer counts and two fixed-order "
    "double divisions. Scale shape: token counting is the standard "
    "explode + partial-agg shuffle on the token key; the score join "
    "shuffles on the token key too — stopword keys are hot, which is "
    "AQE skew-join's case (or salt via q63's machinery); the 1-row "
    "total broadcasts; per-language thirds are one window over "
    "doc-level rows (row count = corpus docs, not tokens).",
)
def q122_ccnet_quality_buckets(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    from .llm.text_analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id", "lang", tokens(F.col("text")).alias("w")
    ).filter(F.size("w") > 0)
    tok = f.select("doc_id", "lang", F.explode("w").alias("t"))
    tf = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    tot = tok.agg(F.count(F.lit(1)).alias("total_toks"))
    ds = (
        tok.join(tf, on="t")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cnt").alias("sum_cnt"),
        )
    )
    scored = ds.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (
            (F.col("sum_cnt").cast("double") / F.col("n_tokens").cast("double"))
            / F.col("total_toks").cast("double")
        ).alias("score"),
    )
    wb = Window.partitionBy("lang").orderBy(F.desc("score"), F.col("doc_id"))
    return scored.withColumn(
        "bucket", F.ntile(3).over(wb).cast("long")
    )


# ---------------------------------------------------------------------------
# q124 — vocab induction: BPE-style adjacent-pair statistics
# ---------------------------------------------------------------------------

@register(
    "q124_bpe_pair_counts",
    f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(w) - 1, 0)),
                            i -> w[i] || ' ' || w[i+1]) AS g2
      FROM w
    ),
    p AS (SELECT unnest(g2) AS pair FROM g),
    c AS (SELECT pair, COUNT(*) AS cnt FROM p GROUP BY pair)
    SELECT pair, cnt, CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY cnt DESC, pair) AS rk
          FROM c)
    WHERE rk <= 50
    """,
    doc="Vocab induction statistics — the counting pass of one BPE merge "
    "step (Sennrich et al. 2016): corpus-wide adjacent token-pair "
    "frequencies, top-50 by count (ties alphabetical). The pair arrays "
    "build as per-row array expressions at scan speed (q73's bigram "
    "machinery); only then does ONE explode feed the pair-key "
    "partial-agg shuffle — the merge-step candidate table a distributed "
    "tokenizer trainer recomputes per iteration. The final top-k is "
    "orderBy+limit (TakeOrderedAndProject: per-partition heap, one "
    "reducer merge — never a global sort).",
)
def q124_bpe_pair_counts(spark: SparkSession, sf_dir: str):
    from .llm.similarity import _spread
    from .llm.text_analysis import tokens

    # spread the (often single-file) scan so tokenize + pair-build
    # parallelize instead of serializing in one scan task (q64 lesson)
    docs = _spread(load_table(spark, sf_dir, "documents"))
    # zip_with over two shifted slices builds all pairs in ONE array
    # pass — measured 7x faster under explode than the
    # transform(sequence, element_at) form, whose per-index lookups fall
    # out of codegen (6.3 s -> 0.9 s for the explode+count at sf0.1)
    n1 = F.greatest(F.size("w") - 1, F.lit(0))
    g2 = F.zip_with(
        F.slice(F.col("w"), 1, n1),
        F.slice(F.col("w"), 2, n1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    pairs = (
        docs.select(tokens(F.col("text")).alias("w"))
        .select(g2.alias("g2"))
        .select(F.explode("g2").alias("pair"))
    )
    c = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    # heap top-k FIRST (TakeOrderedAndProject over the full pair table),
    # THEN rank the 50 survivors — the global window never sees more
    # than k rows, so no single reducer sorts the whole vocabulary
    top = c.orderBy(F.desc("cnt"), F.col("pair")).limit(50)
    from pyspark.sql import Window

    wr = Window.orderBy(F.desc("cnt"), F.col("pair"))
    return top.withColumn("rank", F.row_number().over(wr).cast("long"))


# ---------------------------------------------------------------------------
# q125 — C4-style in-document cleanup: consecutive-duplicate-token removal
# ---------------------------------------------------------------------------

@register(
    "q125_consecutive_token_dedup",
    f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents),
    k AS (
      SELECT doc_id, w,
             list_transform(
               list_filter(generate_series(1, len(w)),
                           i -> i = 1 OR w[i] <> w[i-1]),
               i -> w[i]) AS kept
      FROM w
    )
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
           -- DuckDB's array_to_string([], ' ') is NULL while Spark's
           -- array_join([], ' ') is '' — coalesce so a fully-collapsed
           -- (but present) document digests as md5('') in both engines,
           -- while a NULL document stays NULL (r10 adversarial pin)
           CASE WHEN kept IS NULL THEN NULL
                ELSE md5(coalesce(array_to_string(kept, ' '), ''))
           END AS cleaned_digest
    FROM k
    """,
    doc="C4-style in-document cleanup (Raffel et al. 2020's repeated-"
    "content heuristics applied at token granularity): collapse runs of "
    "consecutive duplicate tokens ('a a the' -> 'a the'), reporting the "
    "removal count and an md5 digest of the cleaned text so the full "
    "string never needs to cross engines for verification. Pure per-row "
    "array expressions — index filter + gather, no explode, no shuffle: "
    "the whole cleanup runs at scan speed and composes with any "
    "downstream pass (the dedup digests of q30 would be computed on the "
    "cleaned form in production).",
)
def q125_consecutive_token_dedup(spark: SparkSession, sf_dir: str):
    from .llm.text_analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", tokens(F.col("text")).alias("w")
    ).select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.expr(
            # empty guard: Spark's sequence(1, 0) yields a DESCENDING
            # [1, 0] (DuckDB's generate_series(1, 0) is empty), whose
            # i = 0 element would hit INVALID_INDEX_OF_ZERO
            "CASE WHEN size(w) = 0 THEN array() ELSE "
            "transform(filter(sequence(1, size(w)), "
            "i -> CASE WHEN i = 1 THEN true "
            "ELSE element_at(w, i) != element_at(w, i - 1) END), "
            "i -> element_at(w, i)) END"
        ).alias("kept"),
    ).select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.size("kept")).cast("long").alias("n_removed"),
        F.md5(F.array_join("kept", " ")).alias("cleaned_digest"),
    )


# ---------------------------------------------------------------------------
# q126 — exact stratified eval split (N per (lang, source) stratum)
# ---------------------------------------------------------------------------

@register(
    "q126_eval_split",
    """
    SELECT doc_id, lang, source, CAST(rk AS BIGINT) AS rank
    FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || 'evalsplit'), doc_id
             ) AS rk
      FROM documents
    )
    WHERE rk <= 5
    """,
    doc="Exact stratified eval-set construction: exactly 5 documents per "
    "(lang, source) stratum, chosen by deterministic md5 hash order (+ "
    "id tie-break) — the held-out split every training run needs to be "
    "REPRODUCIBLE across engines, retries, and corpus re-shards (hash "
    "order is a property of the row, not the layout; q72's "
    "restart-safety argument). One window per stratum; at crawl scale "
    "most strata are tiny and the hot-stratum sort is the same hazard "
    "source_quota documents — the count-split (rank only over-quota "
    "strata) and band_min_k (bounded min-k) forms are the drop-in "
    "guards, not needed at N=5 per stratum.",
)
def q126_eval_split(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("evalsplit"))),
        F.col("doc_id"),
    )
    return (
        docs.select("doc_id", "lang", "source")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


# ---------------------------------------------------------------------------
# q134 — PageRank over the near-dup similarity graph
# ---------------------------------------------------------------------------

def _pagerank_oracle(
    damping: float = 0.85, rounds: int = 2, threshold: float = 0.5
) -> str:
    base = _minhash_oracle(threshold=threshold)
    ctes = [
        f"""eb AS ({base}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM eb
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM eb
    ),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges
        UNION ALL SELECT dst AS node FROM edges
      )
    ),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
           FROM nodes)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(f"""c{i} AS (
      SELECT e.dst AS node,
             CAST(round(r.rank / CAST(o.deg AS DOUBLE)
                        * 1000000000000000.0) AS BIGINT) AS c
      FROM edges e JOIN r{i - 1} r ON r.node = e.src
                   JOIN outdeg o ON o.src = e.src
    ),
    s{i} AS (SELECT node,
                    CAST(SUM(c) AS DOUBLE) / 1000000000000000.0 AS s
             FROM c{i} GROUP BY node),
    r{i} AS (
      SELECT nodes.node,
             (CAST(1.0 AS DOUBLE) - {damping}) / (SELECT n FROM nn)
               + {damping} * COALESCE(s{i}.s, CAST(0.0 AS DOUBLE)) AS rank
      FROM nodes LEFT JOIN s{i} ON s{i}.node = nodes.node
    )""")
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain}
    SELECT node AS doc_id, rank FROM r{rounds}
    """


@register(
    "q134_pagerank_neardup",
    _pagerank_oracle(),
    doc="Fixed-round PageRank (Page et al. 1999) over the near-dup "
    "similarity graph: q32's MinHash-LSH pairs (Jaccard >= 0.5), "
    "symmetrized, 2 damped rounds from the uniform prior — the "
    "authority signal that ranks how CENTRAL each document is inside "
    "its duplicate cluster (a canonical-pick input beyond q108's "
    "per-doc quality argmax). Per round: one shuffle on src for the "
    "contribution join, one partial-agg shuffle on dst, rank frame "
    "materialize-truncated (q111's loop discipline); in-neighbor "
    "sums aggregate as exact femto-unit integers so the double ranks are "
    "bit-stable across partitionings and engines; the oracle unrolls "
    "the identical rounds as chained CTEs. Dangling-mass handling is "
    "the simplified (non-redistributing) form — documented divergence.",
)
def q134_pagerank_neardup(spark: SparkSession, sf_dir: str):
    from .llm.dedup import minhash_lsh_pairs, pagerank_rounds

    docs = load_table(spark, sf_dir, "documents")
    # pairs feeds both arms of the symmetric edges union — lazy checkpoint
    # so the LSH candidate+verify chain runs once, not twice, inside
    # pagerank_rounds' eager edges materialization (r13, same fix as
    # dedup_clusters)
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5).select(
        "id_a", "id_b"
    ).transform(materialize)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    return pagerank_rounds(edges, damping=0.85, rounds=2).select(
        F.col("node").alias("doc_id"), "rank"
    )


# ---------------------------------------------------------------------------
# q135 — contrastive triplet construction (anchor, positive, hard negative)
# ---------------------------------------------------------------------------

@register(
    "q135_triplet_mining",
    f"""
    WITH q AS (SELECT vec_id AS anchor_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
    dots AS (
      SELECT anchor_id, cand_id,
             {o_dot('qv', 'cv')}
               / (sqrt({o_dot('qv', 'qv')}) * sqrt({o_dot('cv', 'cv', 'len(cv)')}))
               AS cos_sim
      FROM q CROSS JOIN c WHERE anchor_id <> cand_id
    ),
    pos AS (
      SELECT anchor_id, cand_id AS positive_id, cos_sim AS pos_sim
      FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                         ORDER BY cos_sim DESC, cand_id) AS rk
            FROM dots)
      WHERE rk = 1 AND cos_sim >= 0.3
    ),
    neg AS (
      SELECT anchor_id, cand_id AS negative_id, cos_sim AS neg_sim
      FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                         ORDER BY cos_sim DESC, cand_id) AS rk
            FROM (SELECT * FROM dots WHERE cos_sim >= 0.05 AND cos_sim < 0.25))
      WHERE rk = 1
    )
    SELECT pos.anchor_id, positive_id, pos_sim, negative_id, neg_sim
    FROM pos JOIN neg ON neg.anchor_id = pos.anchor_id
    """,
    doc="Contrastive triplet construction — the training-data export "
    "that composes the similarity family: per anchor the nearest "
    "neighbor above 0.3 cosine as the POSITIVE (q34's exact top-k, "
    "rank 1) and the best in-band (0.05, 0.25) candidate as the HARD "
    "NEGATIVE (q117's miner, n=1); anchors lacking either side drop "
    "(inner join) — the (anchor, positive, negative) rows SimCLR/DPR "
    "training consumes. Both arms share the bounded-anchor-panel scan "
    "shape; at scale each routes through its IVF form (q74 / q118) "
    "unchanged, and the final join keys on panel-sized anchor ids.",
)
def q135_triplet_mining(spark: SparkSession, sf_dir: str):
    from .llm.similarity import cosine_topk, hard_negatives_topk

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 10)
    pos = (
        cosine_topk(emb, anchors, k=1)
        .filter(F.col("cos_sim") >= 0.3)
        .select(
            F.col("query_id").alias("anchor_id"),
            F.col("neighbor_id").alias("positive_id"),
            F.col("cos_sim").alias("pos_sim"),
        )
    )
    neg = hard_negatives_topk(
        emb, anchors, band_lo=0.05, band_hi=0.25, n=1
    ).select(
        "anchor_id",
        "negative_id",
        F.col("cos_sim").alias("neg_sim"),
    )
    return pos.join(neg, on="anchor_id")


# ---------------------------------------------------------------------------
# q136 — dedup-method agreement report (lexical MinHash vs embedding LSH)
# ---------------------------------------------------------------------------

def _method_agreement_oracle() -> str:
    lex = _minhash_oracle(threshold=0.5)
    emb = _neardup_oracle(threshold=0.35)
    return f"""
    WITH lexp AS ({lex}),
    embp AS ({emb}),
    j AS (
      SELECT COALESCE(l.id_a, e.id_a) AS id_a,
             COALESCE(l.id_b, e.id_b) AS id_b,
             (l.id_a IS NOT NULL) AS lex_hit,
             (e.id_a IS NOT NULL) AS emb_hit
      FROM lexp l FULL JOIN embp e
        ON e.id_a = l.id_a AND e.id_b = l.id_b
    )
    SELECT CASE WHEN lex_hit AND emb_hit THEN 'both'
                WHEN lex_hit THEN 'lexical_only'
                ELSE 'embedding_only' END AS found_by,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM j GROUP BY found_by
    """


@register(
    "q136_dedup_method_agreement",
    _method_agreement_oracle(),
    doc="Dedup-stack evaluation report: how the LEXICAL near-dup pairs "
    "(q32: MinHash-LSH, Jaccard >= 0.5) and the EMBEDDING near-dup "
    "pairs (q48: hyperplane-LSH, cosine >= 0.35) overlap — pairs found "
    "by both, lexical-only (shared shingles, different embedding "
    "region), embedding-only (paraphrases sharing no shingles, the "
    "recall SemDeDup exists for). The governance number that justifies "
    "running BOTH dedup arms at 100 TB. Both pair sets are banded "
    "equi-join pipelines; the agreement join keys on (id_a, id_b) "
    "pairs — output-sized, tiny relative to the corpus.",
)
def q136_dedup_method_agreement(spark: SparkSession, sf_dir: str):
    from .llm.dedup import minhash_lsh_pairs
    from .llm.similarity import cosine_neardup_pairs

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5).select(
        "id_a", "id_b", F.lit(True).alias("lex_hit")
    )
    sem = cosine_neardup_pairs(
        emb, dim=64, threshold=0.35, n_planes=8, seed=42
    ).select("id_a", "id_b", F.lit(True).alias("emb_hit"))
    j = lex.join(sem, on=["id_a", "id_b"], how="full_outer")
    return (
        j.select(
            F.when(
                F.col("lex_hit").isNotNull() & F.col("emb_hit").isNotNull(),
                F.lit("both"),
            )
            .when(F.col("lex_hit").isNotNull(), F.lit("lexical_only"))
            .otherwise(F.lit("embedding_only"))
            .alias("found_by")
        )
        .groupBy("found_by")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# q138 — bigram-LM fluency scoring (context-sensitive q122)
# ---------------------------------------------------------------------------

@register(
    "q138_bigram_lm_score",
    f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(w) - 1, 0)),
                            i -> struct_pack(prev := w[i],
                                             pair := w[i] || ' ' || w[i+1]))
               AS g2
      FROM w WHERE len(w) >= 2
    ),
    x AS (SELECT doc_id, unnest(g2, recursive := true) FROM g),
    pc AS (SELECT pair, COUNT(*) AS pcnt FROM x GROUP BY pair),
    pf AS (SELECT prev, COUNT(*) AS fcnt FROM x GROUP BY prev),
    cond AS (
      SELECT x.doc_id,
             CAST(round(CAST(pc.pcnt AS DOUBLE) / CAST(pf.fcnt AS DOUBLE)
                        * 1000000000000.0) AS BIGINT) AS c
      FROM x JOIN pc USING (pair) JOIN pf USING (prev)
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(c) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0) AS score
    FROM cond GROUP BY doc_id
    """,
    doc="Bigram-LM fluency scoring — q122's CCNet signal made "
    "CONTEXT-SENSITIVE: train conditional probabilities "
    "p(next | prev) = count(prev next) / count(prev-as-prefix) on the "
    "corpus itself (q124's pair table + a prefix table), score each "
    "document by its mean bigram conditional. A doc of common words in "
    "IMPROBABLE order now scores low where the unigram model cannot "
    "tell (the fluency-vs-vocabulary distinction). Determinism: both "
    "counts are exact integers, each conditional is one double "
    "division, and each conditional rounds to pico-unit INTEGERS "
    "before the per-doc sum (the kmeans micro-mean discipline — "
    "double-to-decimal CAST rounding diverges at the ULP between "
    "engines on exact rationals, measured and fixed here) so the mean "
    "is exact integer arithmetic — bit-identical across engines and "
    "partitionings. Scale: two token-keyed partial-agg shuffles for "
    "the model, two equi-joins back (stopword keys hot — AQE "
    "skew-join / q63 salting), one doc-keyed rollup.",
)
def q138_bigram_lm_score(spark: SparkSession, sf_dir: str):
    from .llm.text_analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    n1 = F.greatest(F.size("w") - 1, F.lit(0))
    g2 = F.zip_with(
        F.slice(F.col("w"), 1, n1),
        F.slice(F.col("w"), 2, n1),
        lambda a, b: F.struct(a.alias("prev"), F.concat_ws(" ", a, b).alias("pair")),
    )
    x = (
        docs.select("doc_id", tokens(F.col("text")).alias("w"))
        .filter(F.size("w") >= 2)
        .select("doc_id", F.explode(g2).alias("g"))
        .select("doc_id", F.col("g.prev").alias("prev"), F.col("g.pair").alias("pair"))
    )
    # r14 (the r13 "revisit at sf >= 1" note, measured): one eager
    # checkpoint of the exploded bigram stream feeds pc, pf AND the
    # conditional join — 3 tokenize+explode passes -> 1. Interleaved
    # min-of-reps: sf1 10.9 s -> 7.1 s (-35%), sf0.1 2.2 -> 1.6 s
    # (plans/r14/probe_q138_q157.py). The r13-rejected MULTIPLICITY
    # TABLE restructure stays rejected at sf1 too (11.2 s vs base
    # 10.9 — bigrams within a doc are nearly distinct, so the extra
    # aggregation barrier still buys no compression). At 100 TB the
    # checkpoint materializes ~input-scale bytes to memory+disk; the
    # trade holds because it replaces two full corpus tokenize passes.
    x = materialize(x, eager=True)
    pc = x.groupBy("pair").agg(F.count(F.lit(1)).alias("pcnt"))
    pf = x.groupBy("prev").agg(F.count(F.lit(1)).alias("fcnt"))
    cond = (
        x.join(pc, on="pair")
        .join(pf, on="prev")
        .select(
            "doc_id",
            # pico-unit integers (the kmeans micro-mean discipline):
            # round() parity holds across engines where double->decimal
            # cast rounding does not (measured ULP diffs on exact
            # rational conditionals)
            F.round(
                F.col("pcnt").cast("double")
                / F.col("fcnt").cast("double")
                * 1e12
            ).cast("long").alias("c"),
        )
    )
    return cond.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        (
            F.sum("c").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1e12))
        ).alias("score"),
    )


# ---------------------------------------------------------------------------
# q145 — keyword-in-context (KWIC) concordance
# ---------------------------------------------------------------------------

@register(
    "q145_kwic_concordance",
    f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents),
    hits AS (
      SELECT doc_id, w, i AS pos
      FROM w, UNNEST(generate_series(1, len(w))) AS t(i)
      WHERE w[i] = 'spark'
    )
    SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           COALESCE(array_to_string(w[greatest(pos - 3, 1):pos - 1], ' '), '')
             AS left_ctx,
           COALESCE(array_to_string(w[pos + 1:least(pos + 3, len(w))], ' '), '')
             AS right_ctx
    FROM hits
    """,
    doc="Keyword-in-context concordance (KWIC): every occurrence of the "
    "term with its 3-token left/right context — the corpus-inspection "
    "tool behind term audits (PII terms, brand terms, contamination "
    "markers) and annotation sampling. Occurrence positions come from "
    "one index filter over the token array; context windows are pure "
    "slice expressions — the only explode is one row per HIT (term-"
    "frequency-sized, not corpus-sized), then everything is scan-speed "
    "per-row work. Clamped edges make doc-boundary contexts exact in "
    "both engines.",
)
def q145_kwic_concordance(spark: SparkSession, sf_dir: str):
    from .llm.text_analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    term = "spark"
    w = docs.select("doc_id", tokens(F.col("text")).alias("w"))
    hits = w.select(
        "doc_id",
        "w",
        F.explode(
            F.filter(
                F.sequence(F.lit(1), F.greatest(F.size("w"), F.lit(1))),
                lambda i: (i <= F.size("w"))
                & (F.element_at(F.col("w"), i) == F.lit(term)),
            )
        ).alias("pos"),
    )
    # left = tokens [max(pos-3,1) .. pos-1], right = [pos+1 .. min(pos+3, n)]
    lstart = F.greatest(F.col("pos") - 3, F.lit(1))
    llen = F.greatest(F.col("pos") - lstart, F.lit(0))
    rlen = F.greatest(
        F.least(F.col("pos") + 3, F.size("w")) - F.col("pos"), F.lit(0)
    )
    return hits.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.array_join(F.slice(F.col("w"), lstart, llen), " ").alias("left_ctx"),
        F.array_join(
            F.slice(F.col("w"), F.col("pos") + 1, rlen), " "
        ).alias("right_ctx"),
    )


# ---------------------------------------------------------------------------
# q146 — triangle counting on the near-dup graph
# ---------------------------------------------------------------------------

def _triangles_oracle(threshold: float = 0.5) -> str:
    base = _minhash_oracle(threshold=threshold)
    return f"""
    WITH eb AS ({base}),
    e AS (SELECT id_a AS a, id_b AS b FROM eb),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM e e1 JOIN e e2 ON e2.a = e1.b
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges
    FROM tri
    """


@register(
    "q146_neardup_triangles",
    _triangles_oracle(),
    doc="Triangle counting on the near-dup graph (the clustering-"
    "coefficient numerator): with edges already oriented id_a < id_b "
    "(q32's canonical pair form), each triangle a<b<c is found EXACTLY "
    "once by the two-equi-join pattern (a,b)x(b,c) verified against "
    "(a,c) — the standard distributed shape (no per-node neighborhood "
    "materialization, no duplicate counting to divide out). Many "
    "triangles mean tight duplicate cliques (CC components that are "
    "near-complete graphs — safe to collapse aggressively); few mean "
    "chain-like components where q108's canonical pick needs care. "
    "Joins shuffle on single node keys; the skewed-degree hub is the "
    "q63/AQE case.",
)
def q146_neardup_triangles(spark: SparkSession, sf_dir: str):
    from .llm.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    e = (
        minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5)
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .transform(materialize, eager=True)
    )
    e1 = e.select(F.col("a"), F.col("b"))
    e2 = e.select(F.col("a").alias("b2a"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("va"), F.col("b").alias("vb"))
    tri = (
        e1.join(e2, e1["b"] == e2["b2a"])
        .join(e3, (F.col("a") == F.col("va")) & (F.col("c") == F.col("vb")))
    )
    n_tri = tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    n_e = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return n_tri.crossJoin(n_e)


@register(
    "q152_dup_gram_rate",
    f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(w) - 2, 0)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
      FROM w
    ),
    gd AS (SELECT gram, doc_id, COUNT(*) AS m FROM g GROUP BY 1, 2),
    t AS (SELECT gram, SUM(m) AS tot FROM gd GROUP BY 1),
    p AS (
      SELECT gd.doc_id, SUM(gd.m) AS n_grams,
             SUM(CASE WHEN t.tot >= 2 THEN gd.m ELSE 0 END) AS n_dup
      FROM gd JOIN t USING (gram) GROUP BY gd.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup_grams,
           CASE WHEN p.n_grams IS NULL THEN 0.0
                ELSE CAST(p.n_dup AS DOUBLE) / CAST(p.n_grams AS DOUBLE)
                END AS dup_rate
    FROM documents d LEFT JOIN p USING (doc_id)
    """,
    doc="Exact duplicated-3-gram rate per document (Lee et al. 2022 "
    "substring-dedup governance: how much of each doc is corpus-repeated "
    "text; extends the dedup family beyond whole/near-doc granularity). "
    "Occurrence-level — a gram occurrence counts as duplicated when its "
    "gram appears >= 2 times corpus-wide, within- or cross-document. "
    "Scale shape in llm/dedup.py duplicated_gram_stats: per-(gram, doc) "
    "partial-aggregated counts, vocabulary-sized totals, equi-join on "
    "the gram key both sides already hash-partitioned on — a "
    "window-over-gram would forfeit map-side combining on corpus-hot "
    "grams. dup_rate is one exact integer division.",
)
def q152_dup_gram_rate(spark: SparkSession, sf_dir: str):
    from .llm.dedup import duplicated_gram_stats

    docs = load_table(spark, sf_dir, "documents")
    return duplicated_gram_stats(docs, "text", "doc_id", k=3)


# non-distinct k-gram terms (multiplicity matters for tf); the distinct
# O_SHINGLES above serves the Jaccard/MinHash set semantics
O_GRAMS_ALL = (
    "list_transform(generate_series(1, greatest(len(w) - 2, 0)), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])"
)


@register(
    "q154_tfidf_cosine_pairs",
    f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents),
    tkn AS (SELECT doc_id, unnest({O_GRAMS_ALL}) AS term FROM w),
    tf AS (SELECT term, doc_id, COUNT(*) AS tfc FROM tkn GROUP BY 1, 2),
    capf AS (SELECT greatest(1, CAST(floor(0.05 * COUNT(*)) AS BIGINT)) AS cf,
                    CAST(floor(512.0 * COUNT(*)) AS HUGEINT) AS budget
             FROM documents),
    dfh AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1),
    hist AS (SELECT dfc, SUM((CAST(dfc AS HUGEINT) * (dfc - 1)) // 2) AS pairs
             FROM dfh GROUP BY 1),
    cum AS (SELECT dfc, SUM(pairs) OVER (ORDER BY dfc
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cpairs
            FROM hist),
    capb AS (SELECT COALESCE(MAX(dfc), 1) AS cb FROM cum
             WHERE cpairs <= (SELECT budget FROM capf)),
    dfq AS (SELECT term, dfc FROM dfh
            WHERE dfc <= (SELECT cf FROM capf)
              AND dfc <= (SELECT cb FROM capb)),
    nn AS (SELECT COUNT(*) AS nd FROM documents),
    wt AS (
      SELECT term, doc_id,
             CAST(round((tfc * (2 * nd - 2 * dfc + 1) * 1000.0)
                        / (2 * dfc + 1)) AS HUGEINT) AS wq
      FROM tf JOIN dfq USING (term) CROSS JOIN nn
    ),
    nrm AS (SELECT doc_id, SUM(wq * wq) AS nsq FROM wt GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.wq * b.wq) AS dot
      FROM wt a JOIN wt b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    cs AS (
      SELECT id_a, id_b,
             CAST(dot AS DOUBLE)
               / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))
               AS cos_sim
      FROM dots JOIN nrm na ON na.doc_id = dots.id_a
                JOIN nrm nb ON nb.doc_id = dots.id_b
    )
    SELECT id_a, id_b, cos_sim FROM cs WHERE cos_sim >= 0.5
    """,
    doc="Exact all-pairs TF-IDF cosine self-join over 3-gram terms "
    "(Bayardo et al. WWW'07 all-pairs family; llm/similarity.py "
    "tfidf_cosine_pairs) — the exact complement to the MinHash/SimHash "
    "approximate arms: guaranteed recall at the threshold, via the "
    "inverted-index equi-join with df-cap pruning (per-term fan-out "
    "bounded by the cap squared; boilerplate terms dropped BY DEFINITION "
    "of the capped-vocabulary metric so Spark and the oracle agree "
    "exactly). TWO caps compose (min): the corpus-scale RATIO form — "
    "df <= 5% of N, identical floor arithmetic on both engines — and "
    "the r13 CANDIDATE-BUDGET form (r12 verdict item 2): the largest "
    "df threshold whose surviving terms emit <= 512*N candidate pairs "
    "total (df histogram -> cumulative C(df,2) over the tiny aggregate "
    "frame), because the docs-sf3 arm measured a saturating vocabulary "
    "growing candidates EXACTLY quadratically while max df stayed ~30x "
    "below the fractional cap — the budget bounds the operator's true "
    "unit of work (candidates) linearly in N by construction. Both "
    "engines derive the identical cap, so the capped-vocabulary metric "
    "still matches exactly. Integer-quantized weights with the rational "
    "ln-free idf make norms/dots exact decimal/HUGEINT sums; the cosine "
    "is one shared double expression — bit-identical across engines.",
)
def q154_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str):
    from .llm.similarity import tfidf_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(
        docs, "text", "doc_id", threshold=0.5, max_df=0.05,
        candidate_budget=512.0,
    )


@register(
    "q157_substring_removal",
    f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(w[i:i+4], ' ') AS gram
      FROM w, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
      WHERE len(w) >= 5
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
    st AS (SELECT DISTINCT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
    cov AS (SELECT DISTINCT doc_id, pos + j AS wpos
            FROM st, UNNEST(generate_series(0, 4)) AS s(j)),
    isl AS (
      SELECT doc_id,
             CASE WHEN wpos - lag(wpos) OVER (PARTITION BY doc_id
                                              ORDER BY wpos) = 1
                  THEN 0 ELSE 1 END AS nw
      FROM cov
    ),
    sp AS (SELECT doc_id, SUM(nw) AS n_spans, COUNT(*) AS n_removed
           FROM isl GROUP BY doc_id),
    tok AS (
      SELECT doc_id, t.i - 1 AS wpos, w[t.i] AS word
      FROM w, UNNEST(generate_series(1, len(w))) AS t(i)
      WHERE len(w) > 0
    ),
    kept AS (
      SELECT t.doc_id, t.wpos, t.word
      FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.wpos = t.wpos
      WHERE c.doc_id IS NULL
    ),
    rb AS (SELECT doc_id, string_agg(word, ' ' ORDER BY wpos) AS text_clean
           FROM kept GROUP BY doc_id)
    SELECT w.doc_id,
           CAST(len(w.w) AS BIGINT) AS n_words,
           CAST(COALESCE(sp.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(COALESCE(sp.n_spans, 0) AS BIGINT) AS n_spans,
           COALESCE(rb.text_clean, '') AS text_clean
    FROM w
    LEFT JOIN sp ON sp.doc_id = w.doc_id
    LEFT JOIN rb ON rb.doc_id = w.doc_id
    """,
    doc="EXECUTE substring-level dedup (Lee et al. 2022 ExactSubstr at "
    "word granularity): cut every token covered by ANY corpus-duplicated "
    "5-gram out of every document and reassemble the survivors, with "
    "removed-span accounting (gaps-and-islands over covered positions). "
    "The removal complement to q152's duplicated-gram-rate measurement "
    "and the every-occurrence policy q82's keep-first block dedup "
    "cannot express. Scale shape in llm/dedup.py "
    "remove_duplicated_grams: the same two partial-aggregated shuffles "
    "as q152 produce duplicated-gram KEYS, a leftsemi marks covered "
    "starts (no hot-gram fan-out), a bounded k-wide sequence explode + "
    "left_anti drops covered tokens, and the islands window runs over "
    "the REMOVED subset only — the token stream never sees a window.",
)
def q157_substring_removal(spark: SparkSession, sf_dir: str):
    from .llm.dedup import remove_duplicated_grams

    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicated_grams(docs, "text", "doc_id", k=5, min_count=2)


# PII regexes shared verbatim by the Spark plan and the oracle SQL
_PII_EMAIL, _PII_IP, _PII_PHONE = (r[1] for r in PII_RULES)


@register(
    "q158_pii_redaction",
    f"""
    WITH contaminated AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 <> 0
                  THEN ' Contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com for details.' ELSE '' END
             || CASE WHEN doc_id % 2 = 0
                  THEN ' Call +1 555 '
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || ' now.' ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                  THEN ' Logged from 10.' || CAST(doc_id % 256 AS VARCHAR)
                       || '.0.1.' ELSE '' END
             AS text
      FROM documents
    ),
    r1 AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT)
               AS n_email,
             regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
      FROM contaminated
    ),
    r2 AS (
      SELECT doc_id, n_email,
             CAST(len(regexp_extract_all(t1, '{_PII_IP}')) AS BIGINT)
               AS n_ip,
             regexp_replace(t1, '{_PII_IP}', '<IP>', 'g') AS t2
      FROM r1
    ),
    r3 AS (
      SELECT doc_id, n_email, n_ip,
             CAST(len(regexp_extract_all(t2, '{_PII_PHONE}')) AS BIGINT)
               AS n_phone,
             regexp_replace(t2, '{_PII_PHONE}', '<PHONE>', 'g') AS t3
      FROM r2
    )
    SELECT doc_id, n_email, n_ip, n_phone, md5(t3) AS clean_digest
    FROM r3
    """,
    doc="PII scrub (corpus hygiene before training — the Dolma/FineWeb-"
    "style pass; generalizes the reference's telefono/correo "
    "normalization, app_confirmaciones.py:203-218): "
    "ordered email -> IP -> phone regex redaction with per-rule match "
    "counts and an md5 digest of the fully-cleaned text. The synthetic "
    "corpus contains no digits, so the query first injects "
    "deterministic doc_id-derived PII (2/3 of docs get an email, 1/2 a "
    "phone, 1/5 an IPv4) and the oracle injects identically — the "
    "surface under test is the redaction expression family "
    "(llm/text_analysis.py PII_RULES/redact_pii), whose patterns stay "
    "in the java.util.regex/RE2 common subset so both engines match "
    "byte-identical spans. Counts are taken on progressively-redacted "
    "text, so each equals its rule's replacement count even when "
    "patterns could sub-match earlier spans. Scale shape: pure "
    "regexp scan expressions, zero shuffles — runs at parquet scan "
    "speed at 100 TB and composes ahead of any dedup/quality pass.",
)
def q158_pii_redaction(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    contaminated = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 != 0,
                F.concat(
                    F.lit(" Contact user"),
                    did.cast("string"),
                    F.lit("@example.com for details."),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 2 == 0,
                F.concat(
                    F.lit(" Call +1 555 "),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                    F.lit(" now."),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" Logged from 10."),
                    (did % 256).cast("string"),
                    F.lit(".0.1."),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    red = redact_pii("text")
    return contaminated.select(
        "doc_id",
        red["n_email"].alias("n_email"),
        red["n_ip"].alias("n_ip"),
        red["n_phone"].alias("n_phone"),
        F.md5(red["text_clean"]).alias("clean_digest"),
    )


def _hll_oracle() -> str:
    from .llm.sketches import hll_oracle_sql

    return hll_oracle_sql(
        "events",
        "user_id",
        {"wk": "cast(date_trunc('week', ts) as date)"},
        p=6,
    )


@register(
    "q159_hll_cardinality",
    _hll_oracle(),
    doc="HyperLogLog distinct-user count per week (m=64 registers) with "
    "the exact-audit arm: the cardinality sketch a 100 TB pipeline runs "
    "instead of COUNT(DISTINCT) — per-group state is FIXED at m "
    "max-registers (8*m bytes) instead of one shuffle row per distinct "
    "key, the register pass is map-side combinable, and registers merge "
    "across partitions/days/clusters with a plain max. Every estimate "
    "step is exact integer math or one correctly-rounded double op; the "
    "libm-dependent constants (alpha_m, the linear-counting ln table) "
    "are precomputed in Python and embedded as literals in BOTH engines' "
    "plans, so the estimate is bit-identical to the SQL oracle. The "
    "rel_err column is the accuracy audit (|err| ~ 1.04/sqrt(64) = 13%).",
)
def q159_hll_cardinality(spark: SparkSession, sf_dir: str):
    from .llm.sketches import hll_cardinality

    ev = load_table(spark, sf_dir, "events")
    return hll_cardinality(
        ev,
        "user_id",
        {"wk": "cast(date_trunc('week', ts) as date)"},
        p=6,
    )


_LINE_DEDUP_ORACLE = """
    WITH dd AS (
      -- distinct ingestion: duplicate primary-key redeliveries must not
      -- double a document's lines in the reassembly (r10 adversarial
      -- pin; same contract as q100/q110)
      SELECT DISTINCT doc_id, text FROM documents
    ),
    d AS (SELECT doc_id, str_split(text, ' ') AS words FROM dd),
    l AS (
      SELECT doc_id, i AS li,
             array_to_string(words[i*3+1 : i*3+3], ' ') AS line
      FROM d, UNNEST(range(0, CAST(ceil(len(words)/3.0) AS BIGINT))) AS t(i)
    ),
    k AS (
      SELECT doc_id, li, line,
             CASE WHEN row_number() OVER (
               PARTITION BY line ORDER BY doc_id, li) = 1
             THEN 1 ELSE 0 END AS kept
      FROM l
    )
    SELECT doc_id,
           COUNT(*) AS n_lines,
           CAST(SUM(1 - kept) AS BIGINT) AS n_removed,
           COALESCE(string_agg(line, ' ' ORDER BY li)
                      FILTER (WHERE kept = 1), '') AS text_clean
    FROM k GROUP BY doc_id
    """


@register(
    "q160_line_dedup",
    _LINE_DEDUP_ORACLE,
    doc="Corpus-level line deduplication (C4 / CCNet cleaning: repeated "
    "lines are boilerplate — keep only the first occurrence corpus-wide, "
    "reassemble documents in line order). Lines are deterministic 3-word "
    "chunks (the corpus has no newlines — q158's injected-structure "
    "convention). First-occurrence is min(struct(doc_id, li)) per line — "
    "map-side-combinable aggregation, NOT a row_number window, so a "
    "billion-copy boilerplate line collapses to one row per map task "
    "instead of sorting in a single reducer; the keep flag is an AQE "
    "skew-safe join; the oracle is the equivalent window formulation.",
)
def q160_line_dedup(spark: SparkSession, sf_dir: str):
    from .llm.dedup import line_dedup_corpus

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .distinct()  # distinct ingestion — see oracle note
    )
    return line_dedup_corpus(docs, line_words=3)


def _hll_rollup_oracle() -> str:
    from .llm.sketches import hll_estimate_exprs, hll_register_exprs

    reg = hll_register_exprs("user_id", p=6, engine="duckdb")
    est = hll_estimate_exprs(p=6)
    w1 = reg["w_bits"] + 1
    return f"""
    WITH keyed AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             {reg["bucket"]} AS bucket, {reg["rho"]} AS rho
      FROM events WHERE user_id IS NOT NULL
    ),
    daily AS (
      SELECT day, bucket, MAX(rho) AS r FROM keyed GROUP BY day, bucket
    ),
    weekly AS (
      SELECT CAST(date_trunc('week', day) AS DATE) AS wk, bucket,
             MAX(r) AS r
      FROM daily GROUP BY 1, bucket
    ),
    alltime AS (SELECT bucket, MAX(r) AS r FROM daily GROUP BY bucket),
    d_est AS (
      SELECT 'day' AS level, CAST(day AS VARCHAR) AS key,
             COUNT(*) AS n_set,
             SUM(CAST(1 AS BIGINT) << CAST({w1} - r AS INT)) AS s_set
      FROM daily GROUP BY day
    ),
    w_est AS (
      SELECT 'week' AS level, CAST(wk AS VARCHAR) AS key,
             COUNT(*) AS n_set,
             SUM(CAST(1 AS BIGINT) << CAST({w1} - r AS INT)) AS s_set
      FROM weekly GROUP BY wk
    ),
    a_est AS (
      SELECT 'all' AS level, '*' AS key, COUNT(*) AS n_set,
             SUM(CAST(1 AS BIGINT) << CAST({w1} - r AS INT)) AS s_set
      FROM alltime
    ),
    u AS (
      SELECT * FROM d_est UNION ALL SELECT * FROM w_est
      UNION ALL SELECT * FROM a_est
    )
    SELECT level, key, n_set, {est["est"]} AS hll_est FROM u
    """


@register(
    "q164_hll_rollup",
    _hll_rollup_oracle(),
    doc="Hierarchical HLL rollup — the property exact COUNT(DISTINCT) "
    "CANNOT offer: distinct users per day, per week, and overall, where "
    "the week and all-time levels are derived by re-aggregating the "
    "STORED daily register table (max per bucket = sketch union) "
    "without ever rescanning raw events. At 100 TB this is the "
    "pre-aggregated sketch-table pattern: persist days x m registers "
    "(KBs), answer any coarser distinct-count rollup from them — exact "
    "distinct counts do not compose (|A ∪ B| != |A| + |B|), HLL "
    "registers do, associatively and bit-reproducibly. Rollup "
    "estimates are bit-identical to direct estimates over the raw "
    "rows (unit-tested), and the whole query is bit-identical to the "
    "SQL oracle.",
)
def q164_hll_rollup(spark: SparkSession, sf_dir: str):
    from .llm.sketches import hll_estimate_exprs, hll_register_exprs

    reg = hll_register_exprs("user_id", p=6, engine="spark")
    est = hll_estimate_exprs(p=6)
    w1 = reg["w_bits"] + 1
    s_sum = (
        f"sum(shiftleft(cast(1 as bigint), cast({w1} - r as int)))"
    )
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.expr("user_id is not null"))
        .selectExpr(
            "cast(date_trunc('day', ts) as date) as day",
            f"{reg['bucket']} as bucket",
            f"{reg['rho']} as rho",
        )
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("r"))
        # the stored-sketch table is consumed by all three rollup
        # levels; unmaterialized, each level re-scans raw events
        # (plan-audited: 6 scans -> 2). days x m rows — tiny, exactly
        # what a real pipeline would persist as its sketch table.
        .transform(materialize, eager=True)
    )
    weekly = (
        daily.selectExpr(
            "cast(date_trunc('week', day) as date) as wk", "bucket", "r"
        )
        .groupBy("wk", "bucket")
        .agg(F.max("r").alias("r"))
    )
    alltime = daily.groupBy("bucket").agg(F.max("r").alias("r"))
    d_est = daily.groupBy("day").agg(
        F.expr("count(*)").alias("n_set"), F.expr(s_sum).alias("s_set")
    ).selectExpr(
        "'day' as level", "cast(day as string) as key", "n_set", "s_set"
    )
    w_est = weekly.groupBy("wk").agg(
        F.expr("count(*)").alias("n_set"), F.expr(s_sum).alias("s_set")
    ).selectExpr(
        "'week' as level", "cast(wk as string) as key", "n_set", "s_set"
    )
    a_est = alltime.agg(
        F.expr("count(*)").alias("n_set"), F.expr(s_sum).alias("s_set")
    ).selectExpr("'all' as level", "'*' as key", "n_set", "s_set")
    u = d_est.unionByName(w_est).unionByName(a_est)
    return u.selectExpr(
        "level", "key", "n_set", f"{est['est']} as hll_est"
    )


@register(
    "q166_conjunctive_search",
    """
    WITH qdocs AS (
      SELECT doc_id AS qid, str_split(text, ' ') AS words
      FROM documents WHERE doc_id < 8
    ),
    q AS (
      SELECT qid,
             UNNEST(list_distinct(list_filter(
               [words[1], words[3], words[5]],
               x -> x IS NOT NULL))) AS term
      FROM qdocs
    ),
    qn AS (SELECT qid, COUNT(*) AS n_terms FROM q GROUP BY qid),
    postings AS (
      SELECT doc_id, UNNEST(list_distinct(str_split(text, ' '))) AS term
      FROM documents
    ),
    m AS (
      SELECT q.qid, p.doc_id, COUNT(*) AS n_matched
      FROM q JOIN postings p USING (term) GROUP BY 1, 2
    )
    SELECT m.qid, m.doc_id, qn.n_terms
    FROM m JOIN qn USING (qid) WHERE m.n_matched = qn.n_terms
    """,
    doc="Conjunctive (ALL-terms) boolean retrieval — relational "
    "division, the AND-semantics complement to q110's ranked BM25 and "
    "the RRF fusion arms: a broadcast query-term panel equi-joins the "
    "distinct-word posting lists and a counting groupBy keeps (query, "
    "doc) pairs matching EVERY query term (n_matched == n_terms) — "
    "containment without a cross join, NOT EXISTS, or per-term "
    "re-scans. At 100 TB the postings explode is the only wide "
    "dependency (shuffled by term, skew bounded by df like q154's "
    "inverted index); the panel side is broadcast-tiny. Query terms "
    "derive deterministically from the panel docs' word positions "
    "1/3/5, null-guarded for short docs identically in both engines.",
)
def q166_conjunctive_search(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    qdocs = docs.filter(F.col("doc_id") < 8).selectExpr(
        "doc_id as qid", "split(text, ' ') as words"
    )
    q = qdocs.selectExpr(
        "qid",
        "explode(array_distinct(filter("
        "array(try_element_at(words, 1), try_element_at(words, 3), "
        "try_element_at(words, 5)), x -> x is not null))) as term",
    ).transform(materialize, eager=True)
    # <= panel x 3 rows, read by qn AND the join — unmaterialized, each
    # reference re-scans documents (plan-audited)
    qn = q.groupBy("qid").agg(F.count(F.lit(1)).alias("n_terms"))
    postings = docs.selectExpr(
        "doc_id", "explode(array_distinct(split(text, ' '))) as term"
    )
    m = (
        postings.join(F.broadcast(q), on="term")
        .groupBy("qid", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        m.join(F.broadcast(qn), on="qid")
        .filter(F.col("n_matched") == F.col("n_terms"))
        .select("qid", "doc_id", "n_terms")
    )


@register(
    "q167_leakage_safe_split",
    """
    WITH d AS (SELECT doc_id, md5(text) AS dg FROM documents),
    c AS (
      SELECT dg, MIN(doc_id) AS cluster_id, COUNT(*) AS n_members
      FROM d GROUP BY dg
    ),
    j AS (
      SELECT d.doc_id, c.cluster_id, c.n_members
      FROM d JOIN c USING (dg)
    ),
    u AS (
      SELECT *,
             CAST('0x' || substr(md5('split1'
                 || CAST(cluster_id AS VARCHAR)), 1, 15) AS BIGINT)
               / 1152921504606846976.0 AS r
      FROM j
    )
    SELECT doc_id, cluster_id, n_members,
           CASE WHEN r < 0.8 THEN 'train'
                WHEN r < 0.9 THEN 'val'
                ELSE 'test' END AS split
    FROM u
    """,
    doc="Leakage-safe train/val/test split (llm/sampling.py "
    "leakage_safe_split): the split draw is keyed by DUPLICATE CLUSTER "
    "(md5-exact groups, min-id representative — q30's digest-groupBy "
    "shape), so every copy of the same content lands in the same split "
    "by construction. A per-document hash split (q86/q126) lets dup "
    "pairs straddle train/test — the model then trains on its test "
    "set's twins; this closes that contamination channel, the "
    "post-dedup splitting step a real pretraining pipeline runs. One "
    "digest-keyed map-side-combinable shuffle + one equi-join; the "
    "assignment is deterministic and re-runnable (hash_uniform on "
    "cluster_id). Near-dup-atomic variant swaps the digest for the "
    "q47/q70 connected-component cluster id — same join shape.",
)
def q167_leakage_safe_split(spark: SparkSession, sf_dir: str):
    from .llm.sampling import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    return leakage_safe_split(docs)


def _kmv_oracle() -> str:
    from .llm.sketches import kmv_estimate_expr

    K = 128
    est_src = kmv_estimate_expr(K, "n_set", "hk")
    est_pair = kmv_estimate_expr(K, "ku", "hku")
    jacc = "(cast(x as double) / cast(ku as double))"
    return f"""
    WITH w AS (SELECT doc_id, source, {O_TOKENS} AS w FROM documents),
    g AS (SELECT source, unnest({O_SHINGLES}) AS sh FROM w),
    d AS (SELECT DISTINCT source, {o_h60('sh')} AS h FROM g),
    s AS (SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM d),
    sk AS (SELECT source, h FROM s WHERE rn <= {K}),
    ex AS (SELECT source, COUNT(*) AS n_ex FROM d GROUP BY 1),
    src AS (SELECT source, COUNT(*) AS n_set, MAX(h) AS hk
            FROM sk GROUP BY 1),
    src_rows AS (
      SELECT 'source' AS level, src.source AS key,
             src.n_set AS n_sketch, {est_src} AS kmv_est,
             CAST(ex.n_ex AS BIGINT) AS exact_n,
             CAST(NULL AS DOUBLE) AS jacc_est,
             CAST(NULL AS DOUBLE) AS jacc_exact
      FROM src JOIN ex USING (source)
    ),
    prs AS (SELECT a.source AS sa, a.n_ex AS na,
                   b.source AS sb, b.n_ex AS nb
            FROM ex a JOIN ex b ON a.source < b.source),
    pu AS (
      SELECT p.sa, p.sb, p.na, p.nb, s.h,
             MAX(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS ia,
             MAX(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS ib
      FROM prs p JOIN sk s ON s.source IN (p.sa, p.sb)
      GROUP BY 1, 2, 3, 4, 5
    ),
    pr AS (SELECT sa, sb, na, nb, h, ia, ib,
                  row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
           FROM pu),
    pagg AS (SELECT sa, sb, na, nb, COUNT(*) AS ku, MAX(h) AS hku,
                    SUM(ia * ib) AS x
             FROM pr WHERE rn <= {K} GROUP BY 1, 2, 3, 4),
    pex AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS shared
            FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
            GROUP BY 1, 2),
    pair_rows AS (
      SELECT 'pair' AS level, g.sa || '|' || g.sb AS key,
             g.ku AS n_sketch,
             {jacc} * ({est_pair}) AS kmv_est,
             CAST(COALESCE(px.shared, 0) AS BIGINT) AS exact_n,
             {jacc} AS jacc_est,
             CAST(COALESCE(px.shared, 0) AS DOUBLE)
               / CAST(g.na + g.nb - COALESCE(px.shared, 0) AS DOUBLE)
               AS jacc_exact
      FROM pagg g
      LEFT JOIN pex px ON px.sa = g.sa AND px.sb = g.sb
    )
    SELECT * FROM src_rows UNION ALL SELECT * FROM pair_rows
    """


@register(
    "q168_kmv_source_sketch",
    _kmv_oracle(),
    doc="KMV / bottom-k distinct sketch per source with SET-INTERSECTION "
    "algebra (Bar-Yossef et al. 2002; Beyer et al., SIGMOD 2007): per "
    "source, the k=128 smallest distinct shingle hashes estimate the "
    "source's distinct-shingle count; for every source PAIR, the k "
    "smallest of the two sketches' union give an unbiased Jaccard "
    "estimate (fraction present in both sketches — the one-hash bottom-k "
    "form of MinHash) and an intersection-size estimate jacc * |union|. "
    "This is the composition HLL registers cannot do: HLL unions, KMV "
    "intersects — the overlap matrix of 1000 corpus sources falls out of "
    "1000 tiny sketches (k rows each) with NO pass over the corpus "
    "cross-product. Sketch build is a map-side-combinable distinct + the "
    "q50-style striped min-k (llm/sketches.py kmv_min_k); pair algebra "
    "touches only sketch rows (pairs x 2k). The exact_n / jacc_exact "
    "columns are the audit arms (full distinct counts + h-keyed "
    "equi-join intersections — the expensive plan the sketch replaces "
    "at 100 TB). Every estimate is exact-int ordering plus one "
    "correctly-rounded double division, bit-identical to the oracle.",
)
def q168_kmv_source_sketch(spark: SparkSession, sf_dir: str):
    from .llm.dedup import hash60
    from .llm.sketches import kmv_estimate_expr, kmv_min_k

    K = 128
    est_src = kmv_estimate_expr(K, "n_set", "hk")
    est_pair = kmv_estimate_expr(K, "ku", "hku")
    jacc = "(cast(x as double) / cast(ku as double))"
    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.select(
            "source", F.explode(shingles(F.col("text"), 3)).alias("sh")
        )
        .select("source", hash60(F.col("sh")).alias("h"))
        .distinct()
        # consumed by the sketch build, the exact-count arm, and BOTH
        # sides of the exact-intersection join — checkpoint so the
        # tokenize+shingle+hash scan runs once, not four times
        .transform(materialize, eager=True)
    )
    # sk feeds the source rollup AND both pair sides (ra, rb) — three
    # striped min-k passes over the cached d without a barrier; ex feeds
    # src_rows + both pair-dim projections. Both are sketch-sized
    # (|sources| x K and |sources| rows) — lazy checkpoints make each
    # compute once (r13).
    sk = (
        kmv_min_k(d, ["source"], "h", k=K, stripes=8)
        .select("source", "h")
        .transform(materialize)
    )
    ex = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_ex"))
        .transform(materialize)
    )
    src = sk.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_set"), F.max("h").alias("hk")
    )
    src_rows = src.join(ex, "source").selectExpr(
        "'source' as level",
        "source as key",
        "n_set as n_sketch",
        f"{est_src} as kmv_est",
        "cast(n_ex as bigint) as exact_n",
        "cast(null as double) as jacc_est",
        "cast(null as double) as jacc_exact",
    )
    # pair frame: n_sources^2 rows (tiny dim x tiny dim — broadcast
    # inequality join; 1000 sources => 500k rows, still driver-trivial)
    ea = ex.selectExpr("source as sa", "n_ex as na")
    eb = ex.selectExpr("source as sb", "n_ex as nb")
    prs = ea.join(F.broadcast(eb), F.col("sa") < F.col("sb"))
    ra = prs.join(sk.selectExpr("source as sa", "h"), "sa").select(
        "sa", "sb", "na", "nb", "h",
        F.lit(1).alias("ia"), F.lit(0).alias("ib"),
    )
    rb = prs.join(sk.selectExpr("source as sb", "h"), "sb").select(
        "sa", "sb", "na", "nb", "h",
        F.lit(0).alias("ia"), F.lit(1).alias("ib"),
    )
    from pyspark.sql import Window

    u = (
        ra.unionByName(rb)
        .groupBy("sa", "sb", "na", "nb", "h")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    )
    w = Window.partitionBy("sa", "sb").orderBy("h")
    pagg = (
        u.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .groupBy("sa", "sb", "na", "nb")
        .agg(
            F.count(F.lit(1)).alias("ku"),
            F.max("h").alias("hku"),
            F.sum(F.col("ia") * F.col("ib")).alias("x"),
        )
    )
    da = d.selectExpr("source as sa", "h")
    db = d.selectExpr("source as sb", "h as h2")
    pex = (
        da.join(db, (F.col("h") == F.col("h2")) & (F.col("sa") < F.col("sb")))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    pair_rows = pagg.join(pex, ["sa", "sb"], "left").selectExpr(
        "'pair' as level",
        "concat(sa, '|', sb) as key",
        "ku as n_sketch",
        f"{jacc} * ({est_pair}) as kmv_est",
        "cast(coalesce(shared, 0) as bigint) as exact_n",
        f"{jacc} as jacc_est",
        "cast(coalesce(shared, 0) as double)"
        " / cast(na + nb - coalesce(shared, 0) as double) as jacc_exact",
    )
    return src_rows.unionByName(pair_rows)


def _priority_sample_oracle(K: int = 32, salt: str = "ps1") -> str:
    # parameterized for the fuzz arbiter (r13): oracle re-derived per
    # drawn (k, salt) — the registry row keeps the k=32/ps1 point
    from .llm.sampling import priority_exprs

    q = priority_exprs("n_chars", "doc_id", salt, "duckdb")["q"]
    return f"""
    WITH pr AS (
      SELECT source, doc_id AS key, CAST(n_chars AS BIGINT) AS w,
             {q} AS q
      FROM documents
    ),
    r AS (SELECT *, row_number() OVER (
            PARTITION BY source ORDER BY q DESC, key ASC) AS rn
          FROM pr),
    tau AS (SELECT source,
                   COALESCE(MAX(CASE WHEN rn = {K + 1} THEN q END), 0e0)
                     AS tau
            FROM r GROUP BY 1),
    samp AS (
      SELECT r.source, r.key, r.w,
             greatest(CAST(r.w AS DOUBLE), t.tau) AS w_adj, t.tau
      FROM r JOIN tau t USING (source) WHERE r.rn <= {K}
    ),
    est AS (SELECT source,
                   CAST(SUM(CASE WHEN CAST(w AS DOUBLE) >= tau
                            THEN w ELSE 0 END) AS DOUBLE)
                   + CAST(SUM(CASE WHEN CAST(w AS DOUBLE) < tau
                              THEN 1 ELSE 0 END) AS DOUBLE)
                   * MAX(tau) AS est_total
            FROM samp GROUP BY 1),
    exact AS (SELECT source,
                     CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT)
                       AS exact_total
              FROM documents GROUP BY 1)
    SELECT s.source, s.key, s.w, s.w_adj, s.tau,
           e.est_total, x.exact_total
    FROM samp s JOIN est e USING (source) JOIN exact x USING (source)
    """


@register(
    "q169_priority_sample",
    _priority_sample_oracle(),
    doc="Priority sampling (Duffield-Lund-Thorup, JACM 2007 — "
    "llm/sampling.py priority_sample): per source, a k=32 weighted "
    "sample of documents WITHOUT replacement by char weight, with the "
    "unbiased subset-sum estimator: priority q = w/u for a "
    "deterministic hash uniform u in (0,1], keep the top k, tau = the "
    "(k+1)-th priority, adjusted weight max(w, tau) — the sum of "
    "adjusted weights over the SAMPLE is an unbiased, near-variance-"
    "optimal estimate of the group's true total (exact_total is the "
    "audit arm). The sampling/estimation core of sample-based corpus "
    "accounting at 100 TB: token-cost estimates from k rows per source "
    "instead of a full scan, reproducible across runs/retries/engines "
    "because the draw is content-hashed, not RNG state. The "
    "exponential-key formulation (Efraimidis-Spirakis) needs ln() — "
    "libm-dependent, not bit-portable; priorities need only casts and "
    "correctly-rounded divisions, so the full sample AND both "
    "estimator columns are bit-identical to the oracle. Draw = scan "
    "expression; top-(k+1) = q50-style striped windows; totals = "
    "map-side-combinable exact-integer aggs.",
)
def q169_priority_sample(spark: SparkSession, sf_dir: str):
    from .llm.sampling import priority_sample

    docs = load_table(spark, sf_dir, "documents")
    return priority_sample(
        docs, ["source"], "doc_id", "n_chars", k=32, salt="ps1"
    )


_INTERLEAVE_ORACLE = f"""
    WITH h AS (
      SELECT source AS stratum, doc_id AS id,
             {o_h60("'il1' || CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    ),
    r AS (
      SELECT stratum, id,
             row_number() OVER (PARTITION BY stratum ORDER BY h, id)
               AS r_src,
             COUNT(*) OVER (PARTITION BY stratum) AS n_src
      FROM h
    ),
    p AS (
      SELECT stratum, id, r_src, CAST(n_src AS BIGINT) AS n_src2,
             (CAST(r_src AS DOUBLE) - 0.5e0) / CAST(n_src AS DOUBLE)
               AS pos_key
      FROM r
    )
    SELECT stratum, id, r_src, n_src2 AS n_src, pos_key,
           row_number() OVER (ORDER BY pos_key, stratum, id) AS seq
    FROM p
    """


@register(
    "q170_interleave_export",
    _INTERLEAVE_ORACLE,
    doc="Deterministic proportional interleave (llm/packing.py "
    "interleave_order) — the global ordering step of a training-data "
    "export: shuffle each source by a content hash, stride-merge at "
    "position key (r - 1/2)/n so EVERY prefix of the stream carries the "
    "corpus mix to within +-1 doc per source (a random shuffle leaves "
    "Theta(sqrt(L)) mix drift in an L-prefix; stride interleave caps it "
    "at 1 — the curriculum/mixing property data loaders assume). No "
    "single-reducer pass anywhere: within-source shuffle rank AND the "
    "global sequence both use the q50 two-phase striped-window rank "
    "(the global one striped by floor(pos_key * 256), monotone in the "
    "sort key), each composing local row_numbers with a tiny broadcast "
    "offset table — bit-identical to the oracle's single-window "
    "row_number at any partitioning. pos_key is one correctly-rounded "
    "double division of exact operands. At 100 TB the export writes "
    "repartitionByRange(pos_key) + per-file local sort; seq hands each "
    "doc its shard and offset.",
)
def q170_interleave_export(spark: SparkSession, sf_dir: str):
    from .llm.packing import interleave_order

    docs = load_table(spark, sf_dir, "documents")
    return interleave_order(docs, "source", "doc_id", salt="il1")


def _cms_oracle(D: int = 4, W: int = 256) -> str:
    # parameterized for the fuzz arbiter (r13): oracle re-derived per
    # drawn (d, w) grid — the registry row keeps the 4x256 point
    from .llm.sketches import cms_cell_exprs

    def build(src: str) -> str:
        cells = cms_cell_exprs("user_id", D, W, "cms", "duckdb")
        sel = " UNION ALL ".join(
            f"SELECT {j} AS j, {c} AS cell FROM {src}"
            for j, c in enumerate(cells)
        )
        return f"SELECT j, cell, COUNT(*) AS cnt FROM ({sel}) GROUP BY 1, 2"

    probe_cells = cms_cell_exprs("user_id", D, W, "cms", "duckdb")
    probes = " UNION ALL ".join(
        f"SELECT user_id, {j} AS j, {c} AS cell FROM panel"
        for j, c in enumerate(probe_cells)
    )
    return f"""
    WITH e1 AS (SELECT user_id FROM events
                WHERE ts < TIMESTAMP '2024-01-08'
                  AND user_id IS NOT NULL),
    e2 AS (SELECT user_id FROM events
           WHERE ts >= TIMESTAMP '2024-01-08'
             AND ts < TIMESTAMP '2024-01-15' AND user_id IS NOT NULL),
    sk1 AS ({build("e1")}),
    sk2 AS ({build("e2")}),
    panel AS (SELECT DISTINCT user_id FROM e1 WHERE user_id % 13 = 0),
    probes AS ({probes}),
    pest AS (SELECT p.user_id, MIN(COALESCE(s.cnt, 0)) AS est
             FROM probes p LEFT JOIN sk1 s USING (j, cell) GROUP BY 1),
    pexact AS (SELECT user_id, COUNT(*) AS ex FROM e1 GROUP BY 1),
    point_rows AS (
      SELECT 'point' AS level, CAST(p.user_id AS VARCHAR) AS key,
             CAST(pe.est AS BIGINT) AS est, CAST(px.ex AS BIGINT) AS exact
      FROM panel p JOIN pest pe USING (user_id)
      JOIN pexact px USING (user_id)
    ),
    ip AS (SELECT a.j, SUM(a.cnt * b.cnt) AS s
           FROM sk1 a JOIN sk2 b ON a.j = b.j AND a.cell = b.cell
           GROUP BY 1),
    jest AS (SELECT MIN(s) AS est FROM ip),
    c1 AS (SELECT user_id, COUNT(*) AS c FROM e1 GROUP BY 1),
    c2 AS (SELECT user_id, COUNT(*) AS c FROM e2 GROUP BY 1),
    jex AS (SELECT COALESCE(SUM(c1.c * c2.c), 0) AS ex
            FROM c1 JOIN c2 USING (user_id)),
    join_rows AS (
      SELECT 'join_size' AS level, '*' AS key,
             CAST(jest.est AS BIGINT) AS est, CAST(jex.ex AS BIGINT) AS exact
      FROM jest, jex
    )
    SELECT * FROM point_rows UNION ALL SELECT * FROM join_rows
    """


@register(
    "q171_cms_frequency",
    _cms_oracle(),
    doc="Count-Min sketch (Cormode-Muthukrishnan 2005 — llm/sketches.py "
    "cms_sketch/cms_point_estimates): a 4x256 counter grid per weekly "
    "event stream answers point-frequency queries for ANY key (min over "
    "4 seeded cells — an overestimate, never an under) in fixed d*w "
    "state, and the row-wise sketch INNER PRODUCT (min over rows of "
    "sum cell_a * cell_b) upper-bounds the equi-join size between the "
    "two weeks' activity — the AGM-style planner statistic that prices "
    "a join without running it. Completes the sketch shelf: q106 = "
    "exact heavy hitters (frequency top-k), q159/q164 = cardinality "
    "with union algebra, q168 = distinct-sample with intersection "
    "algebra, q171 = any-key frequency + join-size, mergeable by "
    "cellwise addition (disjoint executors sketch independently, the "
    "groupBy partial-aggregates map-side, the shuffle carries <= d*w "
    "counter partials per task). The est/exact column pairs are the "
    "audit arms; everything is exact integer arithmetic on md5 cells — "
    "bit-identical to the oracle.",
)
def q171_cms_frequency(spark: SparkSession, sf_dir: str):
    return _cms_frequency_plan(spark, sf_dir, 4, 256)


def _cms_frequency_plan(spark: SparkSession, sf_dir: str, D: int, W: int):
    """q171's plan parameterized by the counter grid (shared with the
    fuzz arbiter, which re-derives ``_cms_oracle(D, W)`` per draw)."""
    from .llm.sketches import cms_point_estimates, cms_sketch

    ev = load_table(spark, sf_dir, "events").filter("user_id is not null")
    e1 = ev.filter("ts < timestamp'2024-01-08'").select("user_id")
    e2 = ev.filter(
        "ts >= timestamp'2024-01-08' and ts < timestamp'2024-01-15'"
    ).select("user_id")
    # the grid is <= d*w rows and feeds both the point probes and the
    # inner product — checkpoint instead of re-sketching the stream
    sk1 = materialize(cms_sketch(e1, "user_id", D, W, "cms"), eager=True)
    sk2 = cms_sketch(e2, "user_id", D, W, "cms")
    # one exact per-user count table per week serves the probe panel,
    # the point-exact column, and both inner-product sides (r13: the
    # panel/pexact/c1 trio each re-ran the same e1 groupBy; |users|-
    # sized, checkpoint)
    cnts1 = (
        e1.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c1"))
        .transform(materialize)
    )
    panel = cnts1.filter("user_id % 13 = 0").select("user_id")
    pest = cms_point_estimates(sk1, panel, "user_id", D, W, "cms")
    pexact = cnts1.selectExpr("user_id", "c1 as ex")
    point_rows = (
        panel.join(pest, "user_id")
        .join(pexact, "user_id")
        .selectExpr(
            "'point' as level",
            "cast(user_id as string) as key",
            "cast(est as bigint) as est",
            "cast(ex as bigint) as exact",
        )
    )
    ip = (
        sk1.join(
            sk2.withColumnRenamed("cnt", "cnt2"), ["j", "cell"]
        )
        .groupBy("j")
        .agg(F.sum(F.col("cnt") * F.col("cnt2")).alias("s"))
    )
    jest = ip.agg(F.min("s").alias("est"))
    c1 = cnts1
    c2 = e2.groupBy("user_id").agg(F.count(F.lit(1)).alias("c2"))
    jex = (
        c1.join(c2, "user_id")
        .agg(
            F.coalesce(
                F.sum(F.col("c1") * F.col("c2")), F.lit(0)
            ).alias("ex")
        )
    )
    join_rows = jest.crossJoin(jex).selectExpr(
        "'join_size' as level",
        "'*' as key",
        "cast(est as bigint) as est",
        "cast(ex as bigint) as exact",
    )
    return point_rows.unionByName(join_rows)


_PPJOIN_ORACLE = f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents),
    g0 AS (SELECT doc_id AS id, {O_SHINGLES} AS grams FROM w),
    g AS (SELECT id, grams FROM g0 WHERE len(grams) > 0),
    dft AS (
      SELECT gram, COUNT(*) AS df
      FROM (SELECT unnest(grams) AS gram FROM g) GROUP BY 1
    ),
    rk AS (SELECT gram, row_number() OVER (ORDER BY df, gram) AS rk
           FROM dft),
    ranked AS (
      SELECT e.id,
             array_agg(e.gram ORDER BY r.rk) AS sorted_grams
      FROM (SELECT id, unnest(grams) AS gram FROM g) e
      JOIN rk r USING (gram) GROUP BY e.id
    ),
    pfx AS (
      SELECT id, len(sorted_grams) AS n,
             sorted_grams[1 : len(sorted_grams)
               - ((4 * len(sorted_grams) + 4) // 5) + 1] AS prefix
      FROM ranked
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM (SELECT id, n, unnest(prefix) AS gram FROM pfx) a
      JOIN (SELECT id, n, unnest(prefix) AS gram FROM pfx) b USING (gram)
      WHERE a.id < b.id
        AND 4 * a.n <= 5 * b.n AND 4 * b.n <= 5 * a.n
    )
    SELECT c.id_a, c.id_b,
           len(ga.grams) AS n_a, len(gb.grams) AS n_b,
           CAST(len(list_intersect(ga.grams, gb.grams)) AS BIGINT)
             AS shared,
           CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
             / CAST(len(ga.grams) + len(gb.grams)
                    - len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
             AS jacc
    FROM cand c
    JOIN g ga ON ga.id = c.id_a
    JOIN g gb ON gb.id = c.id_b
    WHERE 5 * len(list_intersect(ga.grams, gb.grams))
          >= 4 * (len(ga.grams) + len(gb.grams)
                  - len(list_intersect(ga.grams, gb.grams)))
    """


@register(
    "q175_ppjoin_pairs",
    _PPJOIN_ORACLE,
    doc="Prefix-filtered exact Jaccard self-join at threshold 4/5 "
    "(Chaudhuri et al. ICDE 2006; Xiao et al. WWW 2008 PPJoin — "
    "llm/dedup.py ppjoin_pairs): the SET complement to q154's exact "
    "TF-IDF cosine pairs. Candidates come from an equi-join on each "
    "doc's prefix — its p = n - ceil(t*n) + 1 RAREST shingles under a "
    "global (df, gram) order; the prefix-filter lemma makes recall at "
    "the threshold EXACT while only ~(1-t) of each doc's grams enter "
    "the join, and those are the low-df ones (boilerplate-hot grams "
    "never reach a prefix at high t — the skew the all-shared-gram "
    "join q31 would hit is pruned by construction). Verification is "
    "candidate-local (array_intersect per pair), and the threshold "
    "test is exact integer cross-multiplication — no double boundary. "
    "Third exact-recall candidate-generation discipline on the shelf: "
    "df-cap inverted index (q154), banded LSH/SimHash (probabilistic, "
    "q67/q78), prefix filter (q175).",
)
def q175_ppjoin_pairs(spark: SparkSession, sf_dir: str):
    from .llm.dedup import ppjoin_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ppjoin_pairs(docs, "text", "doc_id", 4, 5)


# ---------------------------------------------------------------------------
# q180 — token-budget waterfilling across sources
# ---------------------------------------------------------------------------

_WATERFILL_ORACLE = """
    WITH st AS (
      SELECT source, SUM(n_chars) AS cap,
             1 + COUNT(*) FILTER (WHERE n_chars BETWEEN 100 AND 1000) AS w
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT SUM(cap) // 2 AS budget, SUM(w) AS tw FROM st),
    s AS (
      SELECT st.source, st.cap, st.w, tot.budget, tot.tw,
             COALESCE(SUM(cap) OVER (
               ORDER BY CAST(cap AS DOUBLE) / w, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cprev,
             tot.tw - COALESCE(SUM(w) OVER (
               ORDER BY CAST(cap AS DOUBLE) / w, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS wrest
      FROM st CROSS JOIN tot
    ),
    lab AS (
      SELECT *, cap * wrest <= w * (budget - cprev) AS sat FROM s
    ),
    scal AS (
      SELECT COALESCE(SUM(cap) FILTER (WHERE sat), 0) AS sc,
             COALESCE(SUM(w) FILTER (WHERE sat), 0) AS sw
      FROM lab
    )
    SELECT source,
           CAST(cap AS BIGINT) AS cap,
           CAST(w AS BIGINT) AS weight,
           CAST(CASE WHEN sat THEN cap
                     WHEN tw - sw > 0
                     THEN (w * (budget - sc)) // (tw - sw)
                     ELSE 0 END AS BIGINT) AS alloc,
           CAST(sat AS INT) AS saturated
    FROM lab CROSS JOIN scal
    """


@register(
    "q180_budget_waterfill",
    _WATERFILL_ORACLE,
    doc="Token-budget waterfilling across sources (the data-mixture "
    "allocation step of corpus construction): allocate half the "
    "corpus's characters proportionally to a per-source quality weight "
    "(1 + count of mid-length docs), capped at each source's "
    "availability, redistributing excess — the capped proportional-"
    "fairness solution where every unsaturated source lands on one "
    "shared tokens-per-weight level. Exact by construction: sources "
    "sort by cap/weight (one IEEE division, tie-broken by name); in "
    "that order saturation is a prefix and each saturation test is an "
    "integer cross-multiplication over window prefix sums — no float "
    "thresholds; unsaturated allocations are integer division of the "
    "residual. Corpus-scale work is ONE map-side-combining groupBy "
    "(source); the waterfill runs on the KB-sized |sources| frame "
    "where a single-partition ordered window is the right plan "
    "(stripe with the q50 partitioner beyond ~10^7 sources). "
    "Library surface: llm/sampling.py budget_waterfill.",
)
def q180_budget_waterfill(spark: SparkSession, sf_dir: str):
    from .llm.sampling import budget_waterfill

    docs = load_table(spark, sf_dir, "documents")
    st = docs.groupBy("source").agg(
        F.sum("n_chars").alias("cap"),
        F.expr(
            "1 + sum(case when n_chars between 100 and 1000 "
            "then 1 else 0 end)"
        ).alias("w"),
    )
    return budget_waterfill(st, "source", "cap", "w", 1, 2)


# ---------------------------------------------------------------------------
# q183 — hierarchical budget allocation: languages, then sources within
# ---------------------------------------------------------------------------

_HIER_WATERFILL_ORACLE = """
    WITH src AS (
      SELECT lang, source, SUM(n_chars) AS cap,
             1 + COUNT(*) FILTER (WHERE n_chars BETWEEN 100 AND 1000) AS w
      FROM documents GROUP BY 1, 2
    ),
    lg AS (SELECT lang, SUM(cap) AS cap, SUM(w) AS w FROM src GROUP BY 1),
    tot AS (SELECT SUM(cap) // 2 AS budget, SUM(w) AS tw FROM lg),
    l1 AS (
      SELECT lg.lang, lg.cap, lg.w, tot.budget, tot.tw,
        COALESCE(SUM(cap) OVER (ORDER BY CAST(cap AS DOUBLE) / w, lang
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev,
        tot.tw - COALESCE(SUM(w) OVER (ORDER BY CAST(cap AS DOUBLE) / w,
          lang ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS wrest
      FROM lg CROSS JOIN tot
    ),
    l1lab AS (
      SELECT *, cap * wrest <= w * (budget - cprev) AS sat FROM l1
    ),
    l1scal AS (
      SELECT COALESCE(SUM(cap) FILTER (WHERE sat), 0) AS sc,
             COALESCE(SUM(w) FILTER (WHERE sat), 0) AS sw
      FROM l1lab
    ),
    lb AS (
      SELECT lang,
             CASE WHEN sat THEN cap
                  WHEN tw - sw > 0 THEN (w * (budget - sc)) // (tw - sw)
                  ELSE 0 END AS lang_alloc
      FROM l1lab CROSS JOIN l1scal
    ),
    s2 AS (
      SELECT src.lang, src.source, src.cap, src.w, lb.lang_alloc,
        SUM(src.w) OVER (PARTITION BY src.lang) AS tw2,
        COALESCE(SUM(src.cap) OVER (PARTITION BY src.lang
          ORDER BY CAST(src.cap AS DOUBLE) / src.w, src.source
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev,
        SUM(src.w) OVER (PARTITION BY src.lang)
          - COALESCE(SUM(src.w) OVER (PARTITION BY src.lang
            ORDER BY CAST(src.cap AS DOUBLE) / src.w, src.source
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS wrest
      FROM src JOIN lb ON src.lang = lb.lang
    ),
    s2lab AS (
      SELECT *, cap * wrest <= w * (lang_alloc - cprev) AS sat FROM s2
    ),
    s2scal AS (
      SELECT lang, COALESCE(SUM(cap) FILTER (WHERE sat), 0) AS sc,
             COALESCE(SUM(w) FILTER (WHERE sat), 0) AS sw
      FROM s2lab GROUP BY lang
    )
    SELECT a.lang, a.source,
           CAST(a.cap AS BIGINT) AS cap,
           CAST(a.w AS BIGINT) AS weight,
           CAST(a.lang_alloc AS BIGINT) AS lang_alloc,
           CAST(CASE WHEN a.sat THEN a.cap
                     WHEN a.tw2 - b.sw > 0
                     THEN (a.w * (a.lang_alloc - b.sc)) // (a.tw2 - b.sw)
                     ELSE 0 END AS BIGINT) AS alloc,
           CAST(a.sat AS INT) AS saturated
    FROM s2lab a JOIN s2scal b ON a.lang = b.lang
    """


@register(
    "q183_hierarchical_budget",
    _HIER_WATERFILL_ORACLE,
    doc="Hierarchical mixture allocation: a GLOBAL waterfill grants "
    "each language a share of the half-corpus budget (weights = summed "
    "source weights, capped at language availability), then a "
    "PER-LANGUAGE waterfill (llm/sampling.py grouped_budget_waterfill) "
    "splits each grant across that language's sources — the nested "
    "language->source budgeting of real corpus construction, where a "
    "language cap must bind before source caps are negotiated. Both "
    "levels use the q180 exact discipline (prefix saturation by "
    "integer cross-multiplication, integer-division residuals); the "
    "inner level's ordered windows are PARTITIONED BY language, so "
    "languages parallelize and the allocation state stays "
    "O(|sources|). Corpus-scale work is ONE groupBy(lang, source) "
    "scan; everything after runs on KB-sized frames.",
)
def q183_hierarchical_budget(spark: SparkSession, sf_dir: str):
    from .llm.sampling import budget_waterfill, grouped_budget_waterfill

    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("lang", "source").agg(
        F.sum("n_chars").alias("cap"),
        F.expr(
            "1 + sum(case when n_chars between 100 and 1000 "
            "then 1 else 0 end)"
        ).alias("w"),
    ).transform(materialize)  # feeds lg AND s2in: one corpus scan
    lg = src.groupBy("lang").agg(
        F.sum("cap").alias("cap"), F.sum("w").alias("w")
    )
    l1 = budget_waterfill(lg, "lang", "cap", "w", 1, 2).selectExpr(
        "lang", "alloc as lang_alloc"
    )
    s2in = src.join(F.broadcast(l1), "lang")
    out = grouped_budget_waterfill(
        s2in, "lang", "source", "cap", "w", "lang_alloc"
    )
    return out.join(F.broadcast(l1), "lang").select(
        "lang", "source", "cap", "weight",
        F.col("lang_alloc").cast("bigint").alias("lang_alloc"),
        "alloc", "saturated",
    )


# ---------------------------------------------------------------------------
# q184 — execute the mixture plan: hash-sample each source at its
# waterfill rate
# ---------------------------------------------------------------------------

_MIX_EXEC_ORACLE = """
    WITH st AS (
      SELECT source, SUM(n_chars) AS cap,
             1 + COUNT(*) FILTER (WHERE n_chars BETWEEN 100 AND 1000) AS w
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT SUM(cap) // 2 AS budget, SUM(w) AS tw FROM st),
    s AS (
      SELECT st.source, st.cap, st.w, tot.budget, tot.tw,
             COALESCE(SUM(cap) OVER (
               ORDER BY CAST(cap AS DOUBLE) / w, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cprev,
             tot.tw - COALESCE(SUM(w) OVER (
               ORDER BY CAST(cap AS DOUBLE) / w, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS wrest
      FROM st CROSS JOIN tot
    ),
    lab AS (
      SELECT *, cap * wrest <= w * (budget - cprev) AS sat FROM s
    ),
    scal AS (
      SELECT COALESCE(SUM(cap) FILTER (WHERE sat), 0) AS sc,
             COALESCE(SUM(w) FILTER (WHERE sat), 0) AS sw
      FROM lab
    ),
    plan AS (
      SELECT source, CAST(cap AS BIGINT) AS cap,
             CAST(CASE WHEN sat THEN cap
                       WHEN tw - sw > 0
                       THEN (w * (budget - sc)) // (tw - sw)
                       ELSE 0 END AS BIGINT) AS alloc
      FROM lab CROSS JOIN scal
    )
    SELECT p.source, p.cap, p.alloc,
           CAST(COUNT(d.doc_id) AS BIGINT) AS kept_docs,
           CAST(COALESCE(SUM(d.n_chars), 0) AS BIGINT) AS kept_chars
    FROM plan p
    LEFT JOIN documents d
      ON d.source = p.source
     AND CAST('0x' || substr(md5('mix1' || CAST(d.doc_id AS VARCHAR)),
              1, 15) AS BIGINT) / 1.152921504606846976e18
         < CAST(p.alloc AS DOUBLE) / p.cap
    GROUP BY 1, 2, 3
    """


@register(
    "q184_mixture_execute",
    _MIX_EXEC_ORACLE,
    doc="Executes q180's mixture plan: each source is hash-sampled at "
    "its waterfilled rate alloc/cap (llm/sampling.py hash_uniform — "
    "content-keyed md5 uniform, reproducible across runs, retries, "
    "partition layouts AND engines), and the report reconciles the "
    "achieved sample against the plan (kept_docs / kept_chars vs "
    "alloc; saturated sources keep everything since rate = 1). The "
    "keep decision is a per-row scan expression — no shuffle beyond "
    "the plan's KB-sized broadcast and the report's combining groupBy. "
    "Float discipline: the hash uniform is one bigint->double "
    "conversion + an exact power-of-two exponent shift, the rate is "
    "one double division — single-rounded ops, bit-identical across "
    "engines (the q86/q105 sampling discipline applied to a computed, "
    "plan-derived rate).",
)
def q184_mixture_execute(spark: SparkSession, sf_dir: str):
    from .llm.sampling import budget_waterfill, hash_uniform

    docs = load_table(spark, sf_dir, "documents")
    st = docs.groupBy("source").agg(
        F.sum("n_chars").alias("cap"),
        F.expr(
            "1 + sum(case when n_chars between 100 and 1000 "
            "then 1 else 0 end)"
        ).alias("w"),
    )
    plan = budget_waterfill(st, "source", "cap", "w", 1, 2).select(
        "source", "cap", "alloc"
    )
    kept = (
        docs.join(F.broadcast(plan), "source")
        .filter(
            hash_uniform(F.col("doc_id"), "mix1")
            < F.expr("cast(alloc as double) / cap")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("kd"),
            F.sum("n_chars").alias("kc"),
        )
    )
    return (
        # both report sides are |sources|-sized but sit behind windowed
        # plans with no stats — broadcast explicitly (the q176 lesson)
        plan.join(F.broadcast(kept), "source", "left")
        .selectExpr(
            "source", "cap", "alloc",
            "cast(coalesce(kd, 0) as bigint) as kept_docs",
            "cast(coalesce(kc, 0) as bigint) as kept_chars",
        )
    )


# ---------------------------------------------------------------------------
# q189 — export shard manifest with order-insensitive checksums
# ---------------------------------------------------------------------------

_MANIFEST_ORACLE = """
    WITH d AS (
      SELECT doc_id, n_chars,
             CAST('0x' || substr(md5('sh1' || CAST(doc_id AS VARCHAR)),
                  1, 15) AS BIGINT) % 8 AS shard,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' ||
                  md5(text)), 1, 15) AS BIGINT) AS rowhash
      FROM documents
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
           CAST(BIT_XOR(rowhash) AS BIGINT) AS checksum
    FROM d GROUP BY shard
    """


@register(
    "q189_shard_manifest",
    _MANIFEST_ORACLE,
    doc="Export shard manifest — the dataloader-facing integrity "
    "surface of a corpus export: every document is assigned to one of "
    "8 shards by a content-keyed md5 hash (deterministic across runs, "
    "retries, partition layouts AND engines — a re-export lands every "
    "row in the same shard), and each shard carries doc/char counts, "
    "id bounds, and an ORDER-INSENSITIVE bit_xor checksum of per-row "
    "content hashes (id + text digest), so two exports can be "
    "verified shard-by-shard without sorting either side and a "
    "single flipped row flips the checksum. XOR is the right "
    "aggregator here: associative/commutative like the sum a "
    "manifest wants, but closed over 60-bit values — no overflow "
    "discipline needed where a SUM of 2^60-scale hashes would leave "
    "BIGINT. Pure scan expressions into one combining groupBy(shard); "
    "at 100 TB the manifest is the free byproduct of the export's "
    "own shard shuffle. Raw doubles are excluded from the row "
    "encoding (engine-dependent casts); id + text digest covers the "
    "exported payload.",
)
def q189_shard_manifest(spark: SparkSession, sf_dir: str):
    from .llm.dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "n_chars",
        (hash60(F.concat(F.lit("sh1"), F.col("doc_id").cast("string"))) % 8)
        .alias("shard"),
        hash60(
            F.concat(
                F.col("doc_id").cast("string"), F.lit("|"), F.md5("text")
            )
        ).alias("rowhash"),
    )
    return d.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
        F.expr("bit_xor(rowhash)").cast("bigint").alias("checksum"),
    )


# ---------------------------------------------------------------------------
# q194 — collocation extraction: log-free PMI ranking of bigrams
# ---------------------------------------------------------------------------

_PMI_ORACLE = f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents),
    b AS (
      SELECT unnest(list_transform(
               generate_series(1, greatest(len(w) - 1, 0)),
               i -> struct_pack(x := w[i], y := w[i+1])),
             recursive := true)
      FROM w WHERE len(w) >= 2
    ),
    uni AS (
      SELECT unnest(w) AS t FROM w
    ),
    cw AS (SELECT t, COUNT(*) AS c FROM uni GROUP BY t),
    nbi AS (SELECT COUNT(*) AS n FROM b),
    bic AS (
      SELECT x, y, COUNT(*) AS cxy FROM b GROUP BY x, y
      HAVING COUNT(*) >= 5
    )
    SELECT x || ' ' || y AS pair,
           CAST(cxy AS BIGINT) AS cxy,
           CAST(cx.c AS BIGINT) AS cx,
           CAST(cy.c AS BIGINT) AS cy,
           CAST((SELECT n FROM nbi) * cxy AS DOUBLE) / (cx.c * cy.c)
             AS score
    FROM bic JOIN cw cx ON bic.x = cx.t JOIN cw cy ON bic.y = cy.t
    ORDER BY score DESC, pair
    LIMIT 20
    """


@register(
    "q194_pmi_collocations",
    _PMI_ORACLE,
    doc="Collocation extraction: top-20 bigrams by pointwise mutual "
    "information, ranked LOG-FREE — PMI's log is monotone, so "
    "ordering by the exact ratio N_bi*c_xy / (c_x*c_y) gives the "
    "identical ranking with zero libm dependence (ln/log10 are "
    "platform-varying; +,-,*,/ are correctly-rounded IEEE — the "
    "repo's standing doubles rule). Numerator and denominator are "
    "exact BIGINT products; the score is ONE division; the top-20 "
    "boundary is deterministic via the (score DESC, pair) tie-break "
    "evaluated identically by both engines. Scale: one token explode "
    "into two combining counts (unigrams, bigrams), then two "
    "token-keyed equi-joins back, both SALTED (q63 kit): the join "
    "inputs are compressed (distinct bigrams x distinct unigrams, "
    "multiplicity 1 on the vocab side) but the KEY distribution is "
    "Zipf-hot — the number of distinct bigrams starting with a "
    "stopword is bounded only by that token's unigram count, so the "
    "hot token's partition is a straggler at corpus scale. Salting "
    "the bigram side on the OTHER token (deterministic, per-row) "
    "spreads each hot key across n_salt reducers for the cost of "
    "replicating the vocab-count table n_salt times; placement-only, "
    "result identical (plan-tested). The c_xy >= 5 floor is the "
    "standard collocation guard: PMI inflates rare pairs, support "
    "bounds the variance.",
)
def q194_pmi_collocations(spark: SparkSession, sf_dir: str):
    from .llm.text_analysis import tokens
    from .operators.joins import salted_join

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(tokens(F.col("text")).alias("w"))
    n1 = F.greatest(F.size("w") - 1, F.lit(0))
    g2 = F.zip_with(
        F.slice(F.col("w"), 1, n1),
        F.slice(F.col("w"), 2, n1),
        lambda a, b: F.struct(a.alias("x"), b.alias("y")),
    )
    b = (
        w.filter(F.size("w") >= 2)
        .select(F.explode(g2).alias("g"))
        .select("g.x", "g.y")
    )
    uni = w.select(F.explode("w").alias("t"))
    cw = uni.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    nbi = b.agg(F.count(F.lit(1)).alias("n"))
    bic = (
        b.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .filter("cxy >= 5")
    )
    cx = cw.selectExpr("t as _xk", "c as cx")
    cy = cw.selectExpr("t as _yk", "c as cy")
    jx = salted_join(bic, cx, "x", "_xk", row_key="y").drop("_xk")
    jxy = salted_join(jx, cy, "y", "_yk", row_key="x").drop("_yk")
    return (
        jxy.crossJoin(F.broadcast(nbi))
        .selectExpr(
            "concat(x, ' ', y) as pair",
            "cast(cxy as bigint) as cxy",
            "cast(cx as bigint) as cx",
            "cast(cy as bigint) as cy",
            "cast(n * cxy as double) / (cx * cy) as score",
        )
        .orderBy(F.col("score").desc(), "pair")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q195 — vocabulary coverage curve: top-k token share
# ---------------------------------------------------------------------------

_COVERAGE_CURVE_ORACLE = f"""
    WITH w AS (SELECT {O_TOKENS} AS w FROM documents),
    uni AS (SELECT unnest(w) AS t FROM w),
    cw AS (SELECT t, COUNT(*) AS c FROM uni GROUP BY t),
    r AS (
      SELECT t, c,
             ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rnk,
             SUM(c) OVER (ORDER BY c DESC, t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER () AS s,
             COUNT(*) OVER () AS vocab
      FROM cw
    ),
    ks(k) AS (VALUES (1), (5), (10), (25))
    SELECT CAST(ks.k AS BIGINT) AS k,
           CAST(MAX(r.vocab) AS BIGINT) AS vocab_size,
           CAST(MAX(r.s) AS BIGINT) AS total_tokens,
           CAST(MAX(CASE WHEN r.rnk <= ks.k THEN r.cum END) AS BIGINT)
             AS covered_tokens,
           CAST(MAX(CASE WHEN r.rnk <= ks.k THEN r.cum END) AS DOUBLE)
             / MAX(r.s) AS coverage
    FROM ks CROSS JOIN r
    GROUP BY ks.k
    """


@register(
    "q195_vocab_coverage_curve",
    _COVERAGE_CURVE_ORACLE,
    doc="Vocabulary coverage curve: the share of all corpus tokens "
    "covered by the top-k most frequent types (k = 1/5/10/25) — the "
    "Zipf-head statistic that sizes tokenizer vocabularies and "
    "stopword lists (how much mass the head buys is the budget "
    "question; the tail length is the OOV question — both read off "
    "this curve). Exact integers throughout: type counts from one "
    "combining groupBy over the token explode, a (count DESC, type) "
    "ranked cumulative window over the VOCABULARY table (bounded by "
    "distinct types, never corpus rows — the q188 compressed-domain "
    "discipline; stripe the rank via the q50 partitioner at 10^8+ "
    "vocabularies), coverage as ONE division per grid point. "
    "Deterministic tie-break on the type string pins equal-count "
    "boundaries identically in both engines.",
)
def q195_vocab_coverage_curve(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    from .llm.text_analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    cw = (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wr = Window.orderBy(F.col("c").desc(), "t")
    r = cw.select(
        F.row_number().over(wr).alias("rnk"),
        F.sum("c")
        .over(wr.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("s"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("vocab"),
    )
    ks = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(1,), (5,), (10,), (25,)], "k long"
        )
    )
    return (
        ks.crossJoin(r)
        .groupBy("k")
        .agg(
            F.max("vocab").alias("_v"),
            F.max("s").alias("_s"),
            F.max(F.expr("case when rnk <= k then cum end")).alias("_cov"),
        )
        .selectExpr(
            "cast(k as bigint) as k",
            "cast(_v as bigint) as vocab_size",
            "cast(_s as bigint) as total_tokens",
            "cast(_cov as bigint) as covered_tokens",
            "cast(_cov as double) / _s as coverage",
        )
    )


# ---------------------------------------------------------------------------
# q197 — duplicate-cluster size distribution (dedup planning evidence)
# ---------------------------------------------------------------------------

_CLUSTER_DIST_ORACLE = """
    WITH d AS (
      SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
               AS digest
      FROM documents
    ),
    cl AS (SELECT digest, COUNT(*) AS sz FROM d GROUP BY digest),
    tot AS (
      SELECT COUNT(*) AS n_clusters, SUM(sz) AS n_docs,
             COUNT(*) FILTER (WHERE sz = 1) AS singletons
      FROM cl
    )
    SELECT CAST(cl.sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) * cl.sz AS BIGINT) AS n_docs_at_size,
           CAST((SELECT n_docs FROM tot) AS DOUBLE)
             / (SELECT n_clusters FROM tot) AS duplication_factor,
           CAST((SELECT singletons FROM tot) AS DOUBLE)
             / (SELECT n_clusters FROM tot) AS singleton_share
    FROM cl GROUP BY cl.sz
    """


@register(
    "q197_cluster_size_distribution",
    _CLUSTER_DIST_ORACLE,
    doc="Duplicate-cluster size distribution over exact normalized-"
    "text digests (q30's clustering key): how many clusters exist at "
    "each size, plus corpus duplication factor and singleton share — "
    "the measured power-law evidence behind the dedup stack's "
    "bounded-hot-band design (llm/dedup.py band_min_k caps band "
    "fan-out because a heavy tail here, boilerplate clusters of 10^4+ "
    "members, would make any cluster-keyed self-join quadratic in "
    "the hottest key; this histogram is how that cap is SIZED on a "
    "new corpus, before the expensive join runs). Two combining "
    "groupBys (digest, then size); the ratios are single divisions "
    "of exact counts. The normalization expression is the shared "
    "Spark/DuckDB digest spelling (whitespace-collapsed, trimmed, "
    "lowercased md5).",
)
def q197_cluster_size_distribution(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(_digest("text").alias("digest"))
    cl = d.groupBy("digest").agg(F.count(F.lit(1)).alias("sz"))
    tot = cl.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("sz").alias("n_docs"),
        F.sum(F.expr("case when sz = 1 then 1 else 0 end")).alias(
            "singletons"
        ),
    )
    return (
        cl.groupBy("sz")
        .agg(F.count(F.lit(1)).alias("n_clusters_at"))
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "cast(sz as bigint) as cluster_size",
            "cast(n_clusters_at as bigint) as n_clusters",
            "cast(n_clusters_at * sz as bigint) as n_docs_at_size",
            "cast(n_docs as double) / n_clusters as duplication_factor",
            "cast(singletons as double) / n_clusters as singleton_share",
        )
    )


# ---------------------------------------------------------------------------
# q198 — distinctive terms per language: log-free keyness ranking
# ---------------------------------------------------------------------------

_KEYNESS_ORACLE = f"""
    WITH w AS (SELECT lang, {O_TOKENS} AS w FROM documents),
    u AS (SELECT lang, unnest(w) AS t FROM w),
    cl AS (SELECT lang, t, COUNT(*) AS c FROM u GROUP BY 1, 2),
    ct AS (SELECT t, COUNT(*) AS c FROM u GROUP BY 1),
    nl AS (SELECT lang, COUNT(*) AS n FROM u GROUP BY 1),
    nt AS (SELECT COUNT(*) AS n FROM u),
    s AS (
      SELECT cl.lang, cl.t,
             cl.c AS c_in,
             ct.c - cl.c AS c_out,
             nl.n AS n_in,
             (SELECT n FROM nt) - nl.n AS n_out
      FROM cl JOIN ct ON cl.t = ct.t JOIN nl ON cl.lang = nl.lang
    ),
    r AS (
      SELECT lang, t, c_in, c_out,
             CAST(c_in * (n_out + 1) AS DOUBLE)
               / ((c_out + 1) * n_in) AS keyness,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
               CAST(c_in * (n_out + 1) AS DOUBLE)
                 / ((c_out + 1) * n_in) DESC, t) AS rk
      FROM s WHERE c_in >= 5
    )
    SELECT lang, t AS term,
           CAST(c_in AS BIGINT) AS c_in,
           CAST(c_out AS BIGINT) AS c_out,
           keyness, CAST(rk AS BIGINT) AS rank
    FROM r WHERE rk <= 5
    """


@register(
    "q198_keyness_terms",
    _KEYNESS_ORACLE,
    doc="Distinctive vocabulary per language: top-5 terms by keyness — "
    "the smoothed relative-rate ratio (c_in/n_in) / ((c_out+1)/"
    "(n_out+1)) of a term inside the language vs the rest of the "
    "corpus — the characteristic-terms complement to q194's "
    "collocations (keyness finds what a SLICE overuses; PMI finds "
    "what CO-OCCURS). Ranked LOG-FREE like q194: log-odds keyness is "
    "a monotone transform of the ratio, so ordering by the exact "
    "rational c_in*(n_out+1) / ((c_out+1)*n_in) — BIGINT products, "
    "ONE division — reproduces the ranking with zero libm; add-one "
    "smoothing bounds the out-rate for slice-exclusive terms. "
    "Deterministic top-5 via the (keyness DESC, term) tie-break; "
    "c_in >= 5 is the q194 support floor. Scale: one token explode "
    "into per-(lang, term) and per-term combining counts (map-side "
    "partial agg absorbs the stopword-hot raw keys), then a "
    "term-keyed equi-join back that — unlike q194's bigram join — is "
    "NOT skewed: both sides are post-aggregate and unique-per-key up "
    "to language (a term key carries at most n_langs cl rows plus "
    "one ct row, so every partition holds O(distinct terms / "
    "n_partitions * n_langs) rows regardless of token frequency), "
    "and the rank window runs per-language over the compressed "
    "vocabulary table. ONE corpus pass: the per-term (ct), "
    "per-language (nl), and global (nt) totals are all sums over the "
    "persisted cl table — an unpersisted plan re-tokenizes the corpus "
    "once per consumer (measured: 4 Generate nodes; plan-tested "
    "at 1).",
)
def q198_keyness_terms(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    from .llm.text_analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    u = docs.select("lang", F.explode(tokens(F.col("text"))).alias("t"))
    cl = materialize(
        u.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("c_in"))
    )
    ct = cl.groupBy("t").agg(F.sum("c_in").alias("c_tot"))
    nl = cl.groupBy("lang").agg(F.sum("c_in").alias("n_in"))
    nt = cl.agg(F.sum("c_in").alias("n_tot"))
    s = (
        cl.join(ct, "t")
        .join(F.broadcast(nl), "lang")
        .crossJoin(F.broadcast(nt))
        .selectExpr(
            "lang", "t", "c_in",
            "c_tot - c_in as c_out",
            "n_in", "n_tot - n_in as n_out",
        )
        .filter("c_in >= 5")
        .selectExpr(
            "lang", "t", "c_in", "c_out",
            "cast(c_in * (n_out + 1) as double) / ((c_out + 1) * n_in) "
            "as keyness",
        )
    )
    w = Window.partitionBy("lang").orderBy(F.col("keyness").desc(), "t")
    return (
        s.select("*", F.row_number().over(w).alias("rk"))
        .filter("rk <= 5")
        .selectExpr(
            "lang", "t as term",
            "cast(c_in as bigint) as c_in",
            "cast(c_out as bigint) as c_out",
            "keyness",
            "cast(rk as bigint) as rank",
        )
    )


# ---------------------------------------------------------------------------
# q200 — content-defined chunking (rolling-hash boundaries)
# ---------------------------------------------------------------------------

def _cdc_oracle(divisor: int = 16, hash_mod: int = 32768) -> str:
    """Oracle builder for llm/packing.py `cdc_chunks` (window fixed at 4,
    matching the operator's unrolled polynomial)."""
    B = hash_mod
    return f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents),
    p AS (SELECT doc_id, w, len(w) AS n FROM w WHERE len(w) > 0),
    h AS (
      SELECT doc_id, w, n,
             list_transform(w, t -> {o_h60("t")} % {B}) AS hs
      FROM p
    ),
    r AS (
      SELECT doc_id, w, n,
             list_filter(list_transform(generate_series(4, n),
               j -> CASE WHEN (((hs[j-3] * {B} + hs[j-2]) * {B}
                                + hs[j-1]) * {B} + hs[j]) % {divisor} = 0
                         THEN j ELSE -1 END), b -> b > 0) AS bpos
      FROM h
    ),
    c AS (
      SELECT doc_id, w, n,
             list_prepend(1, list_transform(bpos, b -> b + 1)) AS starts,
             list_append(bpos, n) AS ends
      FROM r
    )
    SELECT doc_id,
           CAST(i - 1 AS BIGINT) AS chunk_id,
           CAST(ends[i] - starts[i] + 1 AS BIGINT) AS n_chunk_tokens,
           array_to_string(list_slice(w, starts[i], ends[i]), ' ')
             AS chunk_text
    FROM c, UNNEST(generate_series(1, len(starts))) AS t(i)
    WHERE starts[i] <= ends[i]
    """


_CDC_ORACLE = _cdc_oracle(divisor=16, hash_mod=32768)


@register(
    "q200_cdc_chunks",
    _CDC_ORACLE,
    doc="Content-defined chunking (LBFS/Rabin boundary discipline — "
    "Muthitacharoen et al. SOSP'01): cut wherever the rolling hash of "
    "the last 4 tokens is 0 mod 16, so chunk boundaries follow LOCAL "
    "CONTENT instead of position. The edit-stability complement to "
    "q76's fixed-stride windows: inserting one token under fixed "
    "stride shifts and invalidates every later chunk; under CDC only "
    "the chunks containing the edit re-cut, which is what makes "
    "chunk-level dedup and delta-sync of revised corpora work. "
    "Registry-policy case: a new chunking discipline (content-defined "
    "vs fixed-stride), not a parameter variation. Engine-exact by "
    "construction: md5-derived 15-bit token hashes, base-32768 "
    "polynomial window hash in pure BIGINT (< 2^60, ANSI-safe), the "
    "identical expressions evaluated by the oracle. Plan: entirely "
    "array-side per-row work + ONE explode — no shuffle, no windows "
    "(rolling hash via chained zip_with over shifted slices, the "
    "codegen-friendly spelling).",
)
def q200_cdc_chunks(spark: SparkSession, sf_dir: str):
    from .llm.packing import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunks(docs, "text", "doc_id", window=4, divisor=16)
