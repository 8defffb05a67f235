"""Round-2 enrichment queries (q82+): block-level dedup, PII masking,
semi-structured JSON extraction, corpus rarity scoring, deterministic
train/val/test splits, and a k-means (Lloyd) refinement step for the IVF
quantizer.

Same conventions as the other query modules (registry.py docstring):
decimal-exact sums for doubles, explicit tie-breaks, aliases mirrored
verbatim in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .functions.text_fns import count_digit_runs, mask_digit_runs
from .llm.dedup import block_dedup
from .llm.sampling import hash_uniform
from .llm.similarity import kmeans_lloyd_step
from .queries_llm import O_TOKENS, o_dot, o_h60
from .registry import load_table, register
from .session import materialize

# ---------------------------------------------------------------------------
# q82 — block-level (substring) dedup
# ---------------------------------------------------------------------------

@register(
    "q82_block_dedup",
    f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents),
    b AS (
      SELECT doc_id, i AS pos,
             array_to_string(w[(8*i + 1):(8*i + 8)], ' ') AS block
      FROM w, UNNEST(generate_series(0, (len(w) + 7) // 8 - 1)) AS t(i)
      WHERE len(w) > 0
    ),
    k AS (
      SELECT doc_id, pos, block,
             row_number() OVER (PARTITION BY md5(block)
                                ORDER BY doc_id, pos) AS rn
      FROM b
    ),
    cnt AS (SELECT doc_id, count(*) AS n_blocks FROM k GROUP BY doc_id),
    kept AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(block, ' ' ORDER BY pos) AS text_dedup
      FROM k WHERE rn = 1 GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(c.n_blocks, 0) AS n_blocks,
           COALESCE(kp.n_kept, 0) AS n_kept,
           kp.text_dedup
    FROM documents d
    LEFT JOIN cnt c USING (doc_id)
    LEFT JOIN kept kp USING (doc_id)
    """,
    doc="Substring-level (8-token block) dedup — Lee et al. 2022 at chunk "
    "granularity: keep the globally-first occurrence of every distinct "
    "block (ordered by id, position) and reassemble the survivors per "
    "document. Removes boilerplate *inside* otherwise-unique documents, "
    "which whole-document dedup (q30) cannot. Two shuffles total: block "
    "hash (uniform md5 keys) for keep-first, doc id for reassembly.",
)
def q82_block_dedup(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    return block_dedup(docs, "text", "doc_id", block_words=8)


# ---------------------------------------------------------------------------
# q83 — PII-style identifier masking
# ---------------------------------------------------------------------------

@register(
    "q83_pii_mask",
    r"""
    WITH u AS (
      SELECT 'customer' AS entity, c_custkey AS key, c_name AS name
      FROM customer
      UNION ALL
      SELECT 'supplier' AS entity, s_suppkey AS key, s_name AS name
      FROM supplier
    )
    SELECT entity, key,
           regexp_replace(name, '[0-9]{4,}([0-9]{2})', '[ID]\1', 'g')
             AS masked_name,
           CAST(len(regexp_extract_all(name, '[0-9]{4,}[0-9]{2}'))
                AS BIGINT) AS n_masked
    FROM u
    """,
    doc="PII-style scrubbing over entity names: redact every >=6-digit "
    "identifier run but keep its last two digits as a join-suffix "
    "('Customer#000000042' -> 'Customer#[ID]42') — the "
    "redact-but-keep-linkage pattern of training-data pipelines. Pure "
    "per-row regexp expressions at scan speed over a union of sources.",
)
def q83_pii_mask(spark: SparkSession, sf_dir: str):
    cust = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("entity"),
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("entity"),
        F.col("s_suppkey").alias("key"),
        F.col("s_name").alias("name"),
    )
    u = cust.unionByName(sup)
    return u.select(
        "entity",
        "key",
        mask_digit_runs("name").alias("masked_name"),
        count_digit_runs("name").alias("n_masked"),
    )


# ---------------------------------------------------------------------------
# q84 — semi-structured JSON extraction
# ---------------------------------------------------------------------------

@register(
    "q84_json_extract",
    """
    WITH j AS (
      -- json_valid guard: DuckDB's json_extract_string ERRORS on
      -- malformed JSON where Spark's get_json_object returns NULL (r10
      -- adversarial census pin) — gate extraction to valid documents so
      -- both engines yield NULL for garbage rows
      SELECT event_type,
             CASE WHEN props IS NOT NULL AND json_valid(props)
                  THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
             END AS k
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           COUNT(DISTINCT k) AS n_distinct_k,
           MAX(k) AS max_k
    FROM j
    GROUP BY event_type
    """,
    doc="Semi-structured extraction: pull a typed field out of the events "
    "table's JSON props column (get_json_object — JVM-side, no Python) "
    "and aggregate per event type. The schema-on-read path every log/"
    "clickstream pipeline needs; at scale the extraction is a scan "
    "expression and the aggregate is one partial-agg shuffle.",
)
def q84_json_extract(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.countDistinct(k).alias("n_distinct_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# q85 — corpus-frequency rarity scoring
# ---------------------------------------------------------------------------

@register(
    "q85_token_rarity",
    f"""
    WITH w AS (SELECT doc_id, {O_TOKENS} AS w FROM documents),
    tok AS (SELECT doc_id, unnest(list_distinct(w)) AS token FROM w),
    dfreq AS (SELECT token, count(*) AS df FROM tok GROUP BY token)
    SELECT doc_id,
           count(*) AS n_distinct_tokens,
           CAST(sum(df) AS DOUBLE) / count(*) AS avg_token_df,
           min(df) AS rarest_df
    FROM tok JOIN dfreq USING (token)
    GROUP BY doc_id
    """,
    doc="Document rarity scoring against the corpus itself (the integer-"
    "exact analog of CCNet's LM-perplexity filter): per document, the "
    "mean and min document-frequency of its distinct tokens — low means "
    "rare/noisy vocabulary, high means boilerplate. Integer sums keep "
    "the score bit-exact across engines. Scale shape: one vocabulary "
    "aggregation, one token-keyed join (AQE handles hot stopword keys), "
    "one doc-keyed re-aggregation.",
)
def q85_token_rarity(spark: SparkSession, sf_dir: str):
    from .llm.text_analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("token"),
    )
    dfreq = tok.groupBy("token").agg(F.count("*").alias("df"))
    return (
        tok.join(dfreq, on="token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_distinct_tokens"),
            (F.sum("df").cast("double") / F.count("*")).alias("avg_token_df"),
            F.min("df").alias("rarest_df"),
        )
    )


# ---------------------------------------------------------------------------
# q86 — deterministic train/val/test split
# ---------------------------------------------------------------------------

@register(
    "q86_train_split",
    f"""
    WITH s AS (
      SELECT doc_id, lang,
             CASE WHEN {o_h60("'split' || CAST(doc_id AS VARCHAR)")}
                       / 1152921504606846976.0 < 0.8 THEN 'train'
                  WHEN {o_h60("'split' || CAST(doc_id AS VARCHAR)")}
                       / 1152921504606846976.0 < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, lang, count(*) AS n_docs,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM s GROUP BY split, lang
    """,
    doc="Deterministic 80/10/10 train/val/test split: the side a document "
    "lands on is a pure function of its id's md5 uniform — stable across "
    "runs, engines, partition layouts, and retries, so no training "
    "example ever migrates between splits (the leakage rand() splits "
    "risk). Per-row scan expression + one count aggregation.",
)
def q86_train_split(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    u = hash_uniform(F.col("doc_id"), salt="split")
    split = (
        F.when(u < 0.8, F.lit("train"))
        .when(u < 0.9, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.groupBy(split.alias("split"), "lang").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# ---------------------------------------------------------------------------
# q87 — k-means (Lloyd) refinement of the IVF coarse quantizer
# ---------------------------------------------------------------------------

_KMEANS_COS0 = (
    f"{o_dot('v', 'centv', 'len(v)')} / (sqrt({o_dot('v', 'v', 'len(v)')}) "
    f"* sqrt({o_dot('centv', 'centv', 'len(centv)')}))"
)


def _kmeans_ctes(n_cells: int = 8) -> str:
    """Shared CTE chain for the Lloyd step (q87) and its semantic-dedup
    composition (q103): seed centroids → assignment → exact integer-
    micro-unit means → refined centroids ``c1``."""
    cos0 = _KMEANS_COS0
    return f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < {n_cells}),
    s0 AS (
      SELECT e.vec_id, e.v, c.cell, {cos0} AS cs
      FROM e CROSS JOIN c0 c
    ),
    a0 AS (
      SELECT vec_id, v, cell AS cell_init
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cs DESC, cell) AS rk
            FROM s0)
      WHERE rk = 1
    ),
    comp AS (
      SELECT cell_init, i - 1 AS pos, CAST(v[i] AS DOUBLE) AS x
      FROM a0, UNNEST(generate_series(1, len(v))) AS t(i)
    ),
    means AS (
      SELECT cell_init AS cell, pos,
             CAST(SUM(CAST(round(x * 1000000.0) AS BIGINT)) AS DOUBLE)
               / CAST(COUNT(*) * 1000000 AS DOUBLE) AS m
      FROM comp GROUP BY 1, 2
    ),
    c1 AS (SELECT cell, list(m ORDER BY pos) AS centv FROM means GROUP BY cell)"""


def _kmeans_oracle(n_cells: int = 8) -> str:
    cos0 = _KMEANS_COS0
    return f"""{_kmeans_ctes(n_cells)},
    s1 AS (
      SELECT a.vec_id, a.cell_init, c.cell, {cos0} AS cs
      FROM (SELECT vec_id, cell_init, v FROM a0) a CROSS JOIN c1 c
    )
    SELECT vec_id,
           CAST(cell_init AS BIGINT) AS cell_init,
           CAST(cell AS BIGINT) AS cell_next,
           cs AS cos_next
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cs DESC, cell) AS rk
          FROM s1)
    WHERE rk = 1
    """


@register(
    "q87_kmeans_step",
    _kmeans_oracle(),
    doc="One Lloyd (k-means) iteration over cosine cells: assign every "
    "vector to its nearest seed centroid (q49's deterministic coarse "
    "quantizer), recompute centroids as elementwise means in integer "
    "micro-units (exact summation, bit-identical across engines), "
    "reassign. The step that turns "
    "the IVF quantizer data-driven; production loops it a fixed number "
    "of rounds. Scale: assignment broadcasts 8 centroids; the update is "
    "one shuffle over (cell, component) keys so no reducer holds a full "
    "cell.",
)
def q87_kmeans_step(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd_step(emb, "vec_id", "embedding", n_cells=8)


# ---------------------------------------------------------------------------
# q103 — semantic dedup (k-means cells + within-cell cosine prune)
# ---------------------------------------------------------------------------

# Oracle generated from the same constants the Spark call uses. The
# synthetic embeddings are near-orthogonal random vectors (max within-
# cluster cosine ~0.51 at sf0.01), so the production-style 0.85+ threshold
# would never fire; 0.3 exercises kept AND pruned verdicts here.
_Q103_N_CELLS = 8
_Q103_THRESHOLD = 0.3


def _semantic_dedup_oracle(n_cells: int, threshold: float) -> str:
    cos0 = _KMEANS_COS0
    cosp = (
        f"{o_dot('va', 'vb', 'len(va)')} / (sqrt({o_dot('va', 'va', 'len(va)')}) "
        f"* sqrt({o_dot('vb', 'vb', 'len(vb)')}))"
    )
    return f"""{_kmeans_ctes(n_cells)},
    s1 AS (
      SELECT a.vec_id, a.v, c.cell, {cos0} AS cs
      FROM (SELECT vec_id, v FROM a0) a CROSS JOIN c1 c
    ),
    a1 AS (
      SELECT vec_id, v, cell
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cs DESC, cell) AS rk
            FROM s1)
      WHERE rk = 1
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
      FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT id_a, id_b, {cosp} AS cs FROM pairs
    ),
    dup AS (
      SELECT id_b, id_a AS dup_of, cs AS max_cos
      FROM (SELECT *, row_number() OVER (PARTITION BY id_b
                                         ORDER BY cs DESC, id_a) AS rk
            FROM scored WHERE cs >= {threshold})
      WHERE rk = 1
    )
    SELECT a1.vec_id,
           CAST(a1.cell AS BIGINT) AS cell,
           CASE WHEN d.dup_of IS NOT NULL THEN 'pruned' ELSE 'kept' END
             AS status,
           d.dup_of, d.max_cos
    FROM a1 LEFT JOIN dup d ON d.id_b = a1.vec_id
    """


@register(
    "q103_semantic_dedup",
    _semantic_dedup_oracle(_Q103_N_CELLS, _Q103_THRESHOLD),
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023): one k-means "
    "Lloyd step (q87's oracle-exact broadcast-centroid shape) clusters "
    "the embedding space, then vectors are pruned iff a LOWER-id vector "
    "in the SAME cluster has cosine >= threshold (0.3 here so the "
    "near-orthogonal synthetic embeddings exercise both verdicts; "
    "production uses ~0.95) — the embedding-level "
    "complement to lexical MinHash dedup, catching paraphrases with no "
    "shared shingles. No cross-cluster pairs ever form (plan-tested "
    "equi-join on the cell id); n_cells is the knob that keeps the "
    "per-cluster quadratic bounded as the corpus grows.",
)
def q103_semantic_dedup(spark: SparkSession, sf_dir: str):
    from .llm.similarity import semantic_dedup

    # distinct ingestion (q100/q110 contract): duplicate primary-key
    # redeliveries collapse before the pipeline — without it the final
    # verdict join back to the raw projection re-multiplies dup vec_ids
    # (r10 adversarial pin; the oracle's rk=1-per-vec_id does the same)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).distinct()
    return semantic_dedup(
        emb, "vec_id", "embedding",
        n_cells=_Q103_N_CELLS, threshold=_Q103_THRESHOLD,
    )


# ---------------------------------------------------------------------------
# q88 — corpus distribution stats (exact quantiles)
# ---------------------------------------------------------------------------

@register(
    "q88_corpus_quantiles",
    f"""
    WITH t AS (
      SELECT lang, CAST(n_chars AS DOUBLE) AS nc,
             CAST(len({O_TOKENS}) AS DOUBLE) AS nt
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           quantile_cont(nc, 0.5) AS chars_p50,
           quantile_cont(nc, 0.9) AS chars_p90,
           quantile_cont(nc, 0.99) AS chars_p99,
           quantile_cont(nt, 0.5) AS tokens_p50,
           quantile_cont(nt, 0.9) AS tokens_p90
    FROM t GROUP BY lang
    """,
    doc="Corpus length-distribution stats per language: exact p50/p90/p99 "
    "of chars and whitespace tokens (Spark `percentile` and DuckDB "
    "`quantile_cont` share the linear-interpolation definition, so the "
    "comparison is bit-exact). Exact quantiles sort within each bounded "
    "language group; the unbounded-cardinality path at 100 TB is "
    "`approx_percentile` (t-digest sketch, mergeable map-side) — same "
    "query shape, documented accuracy trade.",
)
def q88_corpus_quantiles(spark: SparkSession, sf_dir: str):
    from .llm.text_analysis import corpus_quantiles

    docs = load_table(spark, sf_dir, "documents")
    return corpus_quantiles(docs, exact=True)


# ---------------------------------------------------------------------------
# q89 — closed-form OLS trend per group
# ---------------------------------------------------------------------------

# Fixed regression origin (2024-01-01 UTC) keeps the integer-unit x values
# small enough that every per-row product fits in a BIGINT exactly.
_OLS_BASE = 1704067200.0


@register(
    "q89_linear_trend",
    f"""
    WITH u AS (
      SELECT event_type,
             CAST(round((CAST(epoch(ts) AS DOUBLE) - {_OLS_BASE}) * 1000000.0)
                  AS BIGINT) AS ix,
             CAST(round(value * 100.0) AS BIGINT) AS iy
      FROM events
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(ix) AS DOUBLE) AS sx, CAST(SUM(iy) AS DOUBLE) AS sy,
             CAST(SUM(CAST(ix AS HUGEINT) * iy) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(ix AS HUGEINT) * ix) AS DOUBLE) AS sxx
      FROM u GROUP BY event_type
    )
    SELECT event_type, n,
           ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 10000.0
             AS slope_per_sec,
           (sy / (100.0 * n))
             - (((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 10000.0)
               * (sx / (1000000.0 * n)) AS intercept_at_base
    FROM s
    """,
    doc="Closed-form per-group OLS: the linear trend of event value over "
    "time per event_type, from the five classic sufficient statistics "
    "(n, Σx, Σy, Σxy, Σx²) — the distributed form of the reference's "
    "per-series sklearn LinearRegression fit (app_calculo_necesidad_"
    "recepción_call_center.py:620-713), as ONE partial-aggregatable "
    "shuffle instead of a driver-side model loop. Inputs are quantized "
    "to integer micro-sec/cent units so every sum is exact integer "
    "arithmetic (bit-identical across engines); the final slope/"
    "intercept arithmetic is the same double expression on both sides. "
    "Scales to any group count — no data leaves the cluster.",
)
def q89_linear_trend(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    ix = F.round(
        (F.col("ts").cast("double") - F.lit(_OLS_BASE)) * 1e6
    ).cast("long")
    iy = F.round(F.col("value") * 100.0).cast("long")
    u = ev.select("event_type", ix.alias("ix"), iy.alias("iy"))
    s = u.groupBy("event_type").agg(
        F.count("*").alias("n"),
        # decimal(38,0) accumulators: micro-unit ix is ~2.6e12 per row, so
        # a plain BIGINT sum overflows past ~3.5M rows/group; the oracle's
        # SUM auto-promotes to HUGEINT, so match its headroom
        F.sum(F.col("ix").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("iy").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(
            F.col("ix").cast("decimal(38,0)") * F.col("iy")
        ).cast("double").alias("sxy"),
        F.sum(
            F.col("ix").cast("decimal(38,0)") * F.col("ix")
        ).cast("double").alias("sxx"),
    )
    slope_uc = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    slope = slope_uc * 10000.0
    intercept = (F.col("sy") / (100.0 * F.col("n"))) - slope * (
        F.col("sx") / (1000000.0 * F.col("n"))
    )
    return s.select(
        "event_type",
        "n",
        slope.alias("slope_per_sec"),
        intercept.alias("intercept_at_base"),
    )


# ---------------------------------------------------------------------------
# q92 — rolling time-range window (7-day trailing demand)
# ---------------------------------------------------------------------------

@register(
    "q92_rolling_window",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(epoch(CAST(CAST(ts AS DATE) AS TIMESTAMP)) // 86400
                  AS BIGINT) AS day_num,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type, day, n,
           CAST(SUM(n) OVER w AS BIGINT) AS n_7d,
           CAST(SUM(n) OVER w AS DOUBLE) / COUNT(*) OVER w AS avg_7d_present
    FROM d
    WINDOW w AS (PARTITION BY event_type ORDER BY day_num
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    doc="Rolling 7-day trailing window per event type (RANGE frame over "
    "day number, so calendar gaps shrink the frame instead of silently "
    "widening it like a ROWS frame would): daily count, trailing-week "
    "total, and mean over days *with data*. Pre-aggregates to one row "
    "per (type, day) before the window — the frame runs over bounded "
    "daily rows partitioned by type, not raw events, so the serial "
    "window is never the scale bottleneck.",
)
def q92_rolling_window(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "day_num",
            (F.col("day").cast("timestamp").cast("long") / 86400)
            .cast("long"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-6, 0)
    )
    return d.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(w).alias("n_7d"),
        (F.sum("n").over(w).cast("double") / F.count("*").over(w)).alias(
            "avg_7d_present"
        ),
    )


# ---------------------------------------------------------------------------
# q93 — multi-dimensional subtotals (CUBE / grouping sets)
# ---------------------------------------------------------------------------

@register(
    "q93_cube_subtotals",
    """
    SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
           CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END
             AS source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT)
             AS grouping_id
    FROM documents
    GROUP BY CUBE (lang, source)
    """,
    doc="Multi-dimensional OLAP subtotals: corpus counts by language x "
    "source with every subtotal combination in ONE pass (CUBE = 4 "
    "grouping sets), subtotal rows identified by GROUPING() — not the "
    "NULL-coalescing trap ADVICE flagged on q17 (a natural NULL group "
    "stays distinguishable from a subtotal). One shuffle; each grouping "
    "set aggregates map-side before it, vs 4 separate scans+shuffles "
    "for the union-of-groupbys a 100 TB report would otherwise run.",
)
def q93_cube_subtotals(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.cube("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.grouping("lang").alias("_gl"),
            F.grouping("source").alias("_gs"),
        )
        .select(
            # GROUPING()-based labels (not NULL-coalescing): a natural
            # NULL group would stay distinguishable from a subtotal row
            F.when(F.col("_gl") == 1, F.lit("ALL"))
            .otherwise(F.col("lang"))
            .alias("lang"),
            F.when(F.col("_gs") == 1, F.lit("ALL"))
            .otherwise(F.col("source"))
            .alias("source"),
            "n_docs",
            "total_chars",
            (F.col("_gl") * 2 + F.col("_gs")).cast("long").alias("grouping_id"),
        )
    )


# ---------------------------------------------------------------------------
# q94 — timezone conversion (UTC → America/Bogota)
# ---------------------------------------------------------------------------

@register(
    "q94_local_time",
    """
    SELECT EXTRACT(hour FROM timezone('America/Bogota',
                                      CAST(ts AS TIMESTAMPTZ)))
             AS local_hour,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1
    """,
    doc="Timezone-aware local-time analytics: the events table stores UTC "
    "instants; the reference's clinic network operates on America/Bogota "
    "wall clock (UTC-5, no DST — conversion is engine-portable), so "
    "operational per-hour load curves must bucket by LOCAL hour. "
    "from_utc_timestamp is a per-row scan expression; one aggregation "
    "shuffle.",
)
def q94_local_time(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    local = F.from_utc_timestamp(F.col("ts"), "America/Bogota")
    return ev.groupBy(
        F.hour(local).cast("long").alias("local_hour")
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# q96 — gaps-and-islands: longest same-type streak per user
# ---------------------------------------------------------------------------

@register(
    "q96_longest_streak",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn_t
      FROM events
    ),
    runs AS (
      SELECT user_id, event_type, rn - rn_t AS island,
             COUNT(*) AS streak_len, MIN(rn) AS run_start
      FROM o GROUP BY user_id, event_type, rn - rn_t
    )
    SELECT user_id, event_type AS streak_type,
           streak_len, CAST(run_start AS BIGINT) AS run_start
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY streak_len DESC, run_start)
                      AS pick
          FROM runs)
    WHERE pick = 1
    """,
    doc="Gaps-and-islands sequence analytics: the longest consecutive "
    "run of a single event type per user (ordered by ts, event_id; ties "
    "pick the earliest run). The row_number-difference island id turns "
    "an imperative scan-the-sequence loop into two windows + one "
    "aggregate, all partitioned by user — the distributed form of "
    "per-entity behavioral streak features for training data. No "
    "serial pass; parallelism = #users.",
)
def q96_longest_streak(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    o = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w_all).alias("rn"),
        F.row_number().over(w_typ).alias("rn_t"),
    )
    runs = (
        o.withColumn("island", F.col("rn") - F.col("rn_t"))
        .groupBy("user_id", "event_type", "island")
        .agg(
            F.count("*").alias("streak_len"),
            F.min("rn").alias("run_start"),
        )
    )
    pick = Window.partitionBy("user_id").orderBy(
        F.desc("streak_len"), F.col("run_start")
    )
    return (
        runs.withColumn("pick", F.row_number().over(pick))
        .filter(F.col("pick") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("streak_type"),
            "streak_len",
            F.col("run_start").cast("long").alias("run_start"),
        )
    )


# ---------------------------------------------------------------------------
# q97 — time-decayed EWMA (applyInPandas recurrence)
# ---------------------------------------------------------------------------

@register(
    "q97_ewma",
    """
    WITH RECURSIVE o AS (
      -- user_id IS NOT NULL: the EWMA is per-user state; an unattributed
      -- event has no state key (and the recursive join's NULL = NULL
      -- would silently orphan the chain after its seed row — r10
      -- adversarial pin). Both engines drop NULL users explicitly.
      SELECT user_id, event_id, value,
             CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS t,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id IS NOT NULL
    ),
    r AS (
      SELECT user_id, event_id, rn, t, CAST(value AS DOUBLE) AS ewma
      FROM o WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.event_id, o.rn, o.t,
             (o.t - r.t) / ((o.t - r.t) + 600.0) * o.value
             + (1.0 - (o.t - r.t) / ((o.t - r.t) + 600.0)) * r.ewma
      FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, event_id, ewma FROM r
    """,
    doc="Per-user time-decayed EWMA with a gap-dependent rational gain "
    "a = dt/(dt+600) — a data-dependent linear recurrence no fixed-frame "
    "window can express: the documented legitimate applyInPandas case "
    "(one shuffle to co-locate keys, Arrow batches, two floats of state "
    "per key). No exp/pow — pure +*/ keeps it IEEE-identical across "
    "engines; the oracle is a recursive CTE stepping the same formula. "
    "Parallelism = #users; the behavioral-feature op (decayed activity "
    "level) of a training-data pipeline. ORACLE HOT-KEY HAZARD (r11): "
    "the recursive CTE's iteration count is max-events-per-key, so a "
    "skewed key makes the ORACLE (not the operator — one linear pass "
    "per key) infeasible: the sf1-skew census's 200k-event hot user "
    "never finishes in DuckDB. Above verify_all.Q97_RECURSION_FEASIBLE "
    "events on one key, the census swaps in a sanctioned driver-side "
    "python-recurrence arbiter automatically (data-driven, recorded in "
    "the artifact row under 'arbiter'; r12). The arbiter is pinned "
    "row/bit-exact against this CTE on feasible sizes "
    "(tests/test_verify_harness.py) and against the operator at a 50k-"
    "event hot key (tests/test_adversarial.py).",
)
def q97_ewma(spark: SparkSession, sf_dir: str):
    from .operators.windows import ewma_time_decay

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()  # see oracle note: no state key
    )
    return ewma_time_decay(
        ev, "user_id", "ts", "event_id", "value", tau_seconds=600.0
    )


# ---------------------------------------------------------------------------
# q98 — unpivot (melt): wide measures → long form
# ---------------------------------------------------------------------------

@register(
    "q98_unpivot_measures",
    """
    WITH long AS (
      SELECT l_orderkey, measure, val
      FROM lineitem
      UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice,
                                   l_discount, l_tax))
    )
    SELECT measure, COUNT(*) AS n,
           -- decimal -> VARCHAR -> DOUBLE: at sf1 the extendedprice sum
           -- (1.45e11, unscaled 1.45e17 > 2^53) exposes Spark's decimal->
           -- double as a DOUBLE ROUNDING (unscaled long -> double, then
           -- /1e6) one ulp off DuckDB's single rounding; the string
           -- bridge prints exact digits and parses with one correctly-
           -- rounded step in both engines (r10 sf1 census finding)
           CAST(CAST(SUM(CAST(val AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
             AS total,
           MAX(val) AS max_val
    FROM long GROUP BY measure
    """,
    doc="Unpivot/melt — the inverse of the pivot family (A12): the four "
    "lineitem measure columns reshaped to (measure, value) long form in "
    "one scan (each input row emits 4 narrow rows JVM-side, no shuffle), "
    "then a per-measure decimal-exact rollup. The stay-long reshape "
    "every wide export needs before entering the engine; Spark's "
    "`unpivot` keeps it a single pass where the naive form is one scan "
    "per measure.",
)
def q98_unpivot_measures(spark: SparkSession, sf_dir: str):
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_orderkey"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    ).filter(
        # SQL UNPIVOT drops NULL measures by default (EXCLUDE NULLS);
        # Spark's unpivot keeps them — align to the SQL semantics (r10
        # adversarial pin: NULL l_discount/l_tax rows inflated n)
        F.col("val").isNotNull()
    )
    return long.groupBy("measure").agg(
        F.count("*").alias("n"),
        # string-bridge cast — see oracle note (exact past 2^53 unscaled)
        F.sum(F.col("val").cast("decimal(25,6)"))
        .cast("string").cast("double").alias("total"),
        F.max("val").alias("max_val"),
    )


# ---------------------------------------------------------------------------
# q99 — per-stratum percentile-rank normalization
# ---------------------------------------------------------------------------

@register(
    "q99_quality_percentile",
    f"""
    WITH t AS (
      SELECT doc_id, lang, len({O_TOKENS}) AS n_tokens FROM documents
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           percent_rank() OVER (PARTITION BY lang
                                ORDER BY n_tokens, doc_id) AS pr,
           percent_rank() OVER (PARTITION BY lang
                                ORDER BY n_tokens, doc_id) >= 0.7
             AS keep_top30
    FROM t
    """,
    doc="Per-stratum percentile-rank normalization: a raw quality signal "
    "(token count) becomes a comparable [0,1] rank WITHIN each language, "
    "so one global threshold ('keep the top 30 percent per language') "
    "works across strata with different scales — the corpus-filtering "
    "companion to q72's rate-based rebalancing. percent_rank = "
    "(rank-1)/(n-1): integer arithmetic + one division, engine-exact; "
    "doc_id tiebreak makes ranks deterministic. One window shuffle per "
    "bounded stratum.",
)
def q99_quality_percentile(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    from .llm.text_analysis import token_count_ws

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", token_count_ws(F.col("text")).alias("n_tokens")
    )
    # asc_nulls_last: DuckDB's default ASC null order is NULLS LAST while
    # Spark's is NULLS FIRST — NULL-text documents (NULL n_tokens) must
    # rank at the top end in both engines (r10 adversarial pin)
    w = Window.partitionBy("lang").orderBy(
        F.col("n_tokens").asc_nulls_last(), "doc_id"
    )
    pr = F.percent_rank().over(w)
    return t.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        pr.alias("pr"),
        (pr >= 0.7).alias("keep_top30"),
    )


# ---------------------------------------------------------------------------
# q100 — corpus prep v3: the round-2 ops composed end-to-end
# ---------------------------------------------------------------------------

_O_DTOKENS = (
    r"list_filter(str_split_regex(trim(text_dedup), '\s+'), x -> x <> '')"
)


@register(
    "q100_corpus_prep_v3",
    f"""
    WITH dd AS (
      -- idempotent ingestion: exact duplicate rows (re-delivered docs)
      -- collapse before the pipeline — a duplicate primary key with
      -- DIFFERENT content is a contract violation (q141's check), but
      -- identical redeliveries must not perturb dedup/rank/split (r10
      -- adversarial pin)
      SELECT DISTINCT doc_id, lang, text FROM documents
    ),
    w AS (SELECT doc_id, lang, {O_TOKENS} AS w FROM dd),
    b AS (
      SELECT doc_id, i AS pos,
             array_to_string(w[(8*i + 1):(8*i + 8)], ' ') AS block
      FROM w, UNNEST(generate_series(0, (len(w) + 7) // 8 - 1)) AS t(i)
      WHERE len(w) > 0
    ),
    k AS (
      SELECT doc_id, pos, block,
             row_number() OVER (PARTITION BY md5(block)
                                ORDER BY doc_id, pos) AS rn
      FROM b
    ),
    kept AS (
      SELECT doc_id, string_agg(block, ' ' ORDER BY pos) AS text_dedup
      FROM k WHERE rn = 1 GROUP BY doc_id
    ),
    scored AS (
      SELECT d.doc_id, d.lang, len({_O_DTOKENS}) AS n_tokens
      FROM dd d JOIN kept USING (doc_id)
    ),
    gated AS (SELECT * FROM scored WHERE n_tokens >= 20),
    ranked AS (
      SELECT doc_id, lang, n_tokens,
             percent_rank() OVER (PARTITION BY lang
                                  ORDER BY n_tokens, doc_id) AS pr
      FROM gated
    ),
    final AS (
      SELECT doc_id, lang, n_tokens,
             CASE WHEN {o_h60("'split' || CAST(doc_id AS VARCHAR)")}
                       / 1152921504606846976.0 < 0.8 THEN 'train'
                  WHEN {o_h60("'split' || CAST(doc_id AS VARCHAR)")}
                       / 1152921504606846976.0 < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM ranked WHERE pr >= 0.5
    )
    SELECT split, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM final GROUP BY split, lang
    """,
    doc="Corpus prep v3 — the round-2 operator families composed into one "
    "lazy plan: block-level dedup (q82) rewrites documents with "
    "boilerplate blocks removed, a token-count floor gates fragments, "
    "per-language percentile ranking (q99) keeps the top half per "
    "stratum, the deterministic hash split (q86) assigns train/val/test, "
    "and a rollup summarizes the shipped mix. Catalyst fuses the chain; "
    "wide stages remain exactly the block-hash shuffle, doc reassembly, "
    "per-stratum window, and final aggregate — no barrier between "
    "composed operators.",
)
def q100_corpus_prep_v3(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    from .llm.text_analysis import token_count_ws

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .distinct()  # idempotent ingestion — see oracle note
    )
    deduped = block_dedup(docs, "text", "doc_id", block_words=8).filter(
        F.col("n_kept") > 0
    )
    scored = deduped.join(
        docs.select("doc_id", "lang"), on="doc_id"
    ).select(
        "doc_id",
        "lang",
        token_count_ws(F.col("text_dedup")).alias("n_tokens"),
    )
    gated = scored.filter(F.col("n_tokens") >= 20)
    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    ranked = gated.withColumn("pr", F.percent_rank().over(w))
    u = hash_uniform(F.col("doc_id"), salt="split")
    split = (
        F.when(u < 0.8, F.lit("train"))
        .when(u < 0.9, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    final = ranked.filter(F.col("pr") >= 0.5).withColumn("split", split)
    return final.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# ---------------------------------------------------------------------------
# q111 — multi-round k-means training (q87's Lloyd step iterated)
# ---------------------------------------------------------------------------

def _kmeans_train_oracle(n_cells: int = 8, rounds: int = 3) -> str:
    """Unrolled Lloyd training: the same assign → integer-micro-unit-mean
    chain as q87, repeated ``rounds`` times as chained CTEs generated
    from the constants the Spark call uses."""
    cos0 = _KMEANS_COS0
    ctes = [
        f"""e AS (SELECT vec_id, embedding AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < {n_cells}),
    s0 AS (
      SELECT e.vec_id, e.v, c.cell, {cos0} AS cs
      FROM e CROSS JOIN c0 c
    ),
    a0 AS (
      SELECT vec_id, v, cell, cs
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cs DESC, cell) AS rk
            FROM s0)
      WHERE rk = 1
    )"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""comp{r} AS (
      SELECT cell, i - 1 AS pos, CAST(v[i] AS DOUBLE) AS x
      FROM a{r - 1}, UNNEST(generate_series(1, len(v))) AS t(i)
    ),
    mn{r} AS (
      SELECT cell, pos,
             CAST(SUM(CAST(round(x * 1000000.0) AS BIGINT)) AS DOUBLE)
               / CAST(COUNT(*) * 1000000 AS DOUBLE) AS m
      FROM comp{r} GROUP BY 1, 2
    ),
    c{r} AS (SELECT cell, list(m ORDER BY pos) AS centv FROM mn{r} GROUP BY cell),
    s{r} AS (
      SELECT e.vec_id, e.v, c.cell, {cos0} AS cs
      FROM e CROSS JOIN c{r} c
    ),
    a{r} AS (
      SELECT vec_id, v, cell, cs
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cs DESC, cell) AS rk
            FROM s{r})
      WHERE rk = 1
    )""")
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain}
    SELECT a0.vec_id,
           CAST(a0.cell AS BIGINT) AS cell_init,
           CAST(a{rounds}.cell AS BIGINT) AS cell_final,
           a{rounds}.cs AS cos_final
    FROM a0 JOIN a{rounds} ON a{rounds}.vec_id = a0.vec_id
    """


@register(
    "q111_kmeans_train",
    _kmeans_train_oracle(n_cells=8, rounds=3),
    doc="Full IVF-quantizer training: q87's Lloyd step iterated 3 fixed "
    "rounds from the deterministic seed centroids — assignment broadcasts "
    "8 centroids per round, the centroid update shuffles (cell, "
    "component) keys, and each round's (tiny) centroid frame is "
    "materialize-truncated so the plan stays flat (the CC-loop "
    "rationale). Fixed round count, not a convergence test: "
    "deterministic, and the oracle unrolls the identical rounds as "
    "chained CTEs from the same constants. Integer micro-unit means "
    "keep every round's centroids bit-identical across engines.",
)
def q111_kmeans_train(spark: SparkSession, sf_dir: str):
    from .llm.similarity import kmeans_train

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_train(emb, "vec_id", "embedding", n_cells=8, rounds=3)


# ---------------------------------------------------------------------------
# q116 — ordered funnel analysis (view -> click -> purchase)
# ---------------------------------------------------------------------------

@register(
    "q116_funnel",
    """
    WITH r AS (
      SELECT user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    v AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN rn END)
                      OVER (PARTITION BY user_id) AS v_rn FROM r),
    c AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND value > 150
                             AND rn > v_rn THEN rn END)
                      OVER (PARTITION BY user_id) AS c_rn FROM v),
    p AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND value > 150
                             AND rn > c_rn THEN rn END)
                      OVER (PARTITION BY user_id) AS p_rn FROM c),
    u AS (
      SELECT user_id,
             MAX(CASE WHEN p_rn IS NOT NULL THEN 3
                      WHEN c_rn IS NOT NULL THEN 2
                      WHEN v_rn IS NOT NULL THEN 1 ELSE 0 END) AS reached
      FROM p GROUP BY user_id
    )
    SELECT reached, COUNT(*) AS n_users FROM u GROUP BY reached
    """,
    doc="Ordered funnel analysis: how many users completed view -> "
    "high-value click (> 150) -> high-value purchase (> 150) IN "
    "SEQUENCE (each later stage strictly after the "
    "earlier one in the user's (ts, event_id) order) — the event-"
    "sequence-mining primitive behind conversion and curriculum "
    "analyses. Three chained per-user window minima share ONE exchange "
    "(all partition by user_id; each stage's first-match rank gates the "
    "next), then a per-user verdict and a tiny rollup. No per-user "
    "arrays are collected: state per row is three ranks, so a user with "
    "millions of events costs the same window sort the per-user ordering "
    "already requires.",
)
def q116_funnel(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    r = ev.select(
        "user_id",
        "event_type",
        "value",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    v = r.withColumn(
        "v_rn",
        F.min(F.when(F.col("event_type") == "view", F.col("rn"))).over(wu),
    )
    c = v.withColumn(
        "c_rn",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("value") > 150)
                & (F.col("rn") > F.col("v_rn")),
                F.col("rn"),
            )
        ).over(wu),
    )
    p = c.withColumn(
        "p_rn",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > 150)
                & (F.col("rn") > F.col("c_rn")),
                F.col("rn"),
            )
        ).over(wu),
    )
    reached = (
        F.when(F.col("p_rn").isNotNull(), F.lit(3))
        .when(F.col("c_rn").isNotNull(), F.lit(2))
        .when(F.col("v_rn").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
    )
    u = p.groupBy("user_id").agg(F.max(reached).alias("reached"))
    return u.groupBy("reached").agg(F.count(F.lit(1)).alias("n_users"))


# ---------------------------------------------------------------------------
# q121 — point-in-interval range join via time binning (attribution)
# ---------------------------------------------------------------------------

@register(
    "q121_attribution_range_join",
    """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
               FROM events WHERE event_type = 'purchase'),
    v AS (SELECT event_id AS view_id, user_id, ts AS v_ts
          FROM events WHERE event_type = 'view')
    SELECT v.user_id, view_id, purchase_id,
           epoch_us(p_ts) - epoch_us(v_ts) AS micros_before
    FROM v JOIN p ON v.user_id = p.user_id
     AND v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts <= p_ts
    """,
    doc="Batch attribution via point-in-interval range join: every view "
    "within the hour BEFORE the same user's purchase (the batch analog "
    "of q95's stream-stream interval join). Spark plans a naive BETWEEN "
    "predicate as a nested-loop pairing; range_join_binned rewrites it "
    "to a pure EQUI-join on (user_id, hour-bucket) — intervals explode "
    "to <= 2 bucket rows (window length == bin width), points map to "
    "one bucket, the exact BETWEEN filters co-located candidates, and a "
    "qualifying pair forms exactly once (no dedup pass). Plan-tested: "
    "no CartesianProduct / BroadcastNestedLoopJoin; the join is "
    "hash-partitioned and AQE/salting-compatible like any equi-join.",
)
def q121_attribution_range_join(spark: SparkSession, sf_dir: str):
    from .operators.joins import range_join_binned

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("v_ts"),
    )
    return range_join_binned(
        views, purchases,
        on="user_id", point_ts="v_ts", start_ts="w_start", end_ts="p_ts",
        bin_seconds=3600,
    ).select(
        "user_id",
        "view_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("micros_before"),
    )


# ---------------------------------------------------------------------------
# q123 — IVF ANN over TRAINED centroids (kmeans_train -> ivf_topk)
# ---------------------------------------------------------------------------

def _ivf_trained_oracle(
    n_cells: int = 8, rounds: int = 2, k: int = 5, nprobe: int = 2
) -> str:
    """q111's unrolled Lloyd chain up to the trained centroid table
    c{rounds}, then q49/q74's IVF assignment + cell-local top-k against
    it — generated from the same constants the Spark call uses."""
    cos0 = _KMEANS_COS0
    cos_q = (
        f"{o_dot('qv', 'cv')} / (sqrt({o_dot('qv', 'qv')}) "
        f"* sqrt({o_dot('cv', 'cv', 'len(cv)')}))"
    )
    ctes = [
        f"""e AS (SELECT vec_id, embedding AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < {n_cells}),
    s0 AS (
      SELECT e.vec_id, e.v, c.cell, {cos0} AS cs
      FROM e CROSS JOIN c0 c
    ),
    a0 AS (
      SELECT vec_id, v, cell, cs
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cs DESC, cell) AS rk
            FROM s0)
      WHERE rk = 1
    )"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""comp{r} AS (
      SELECT cell, i - 1 AS pos, CAST(v[i] AS DOUBLE) AS x
      FROM a{r - 1}, UNNEST(generate_series(1, len(v))) AS t(i)
    ),
    mn{r} AS (
      SELECT cell, pos,
             CAST(SUM(CAST(round(x * 1000000.0) AS BIGINT)) AS DOUBLE)
               / CAST(COUNT(*) * 1000000 AS DOUBLE) AS m
      FROM comp{r} GROUP BY 1, 2
    ),
    c{r} AS (SELECT cell, list(m ORDER BY pos) AS centv FROM mn{r} GROUP BY cell)""")
        if r < rounds:
            ctes.append(f"""s{r} AS (
      SELECT e.vec_id, e.v, c.cell, {cos0} AS cs
      FROM e CROSS JOIN c{r} c
    ),
    a{r} AS (
      SELECT vec_id, v, cell, cs
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cs DESC, cell) AS rk
            FROM s{r})
      WHERE rk = 1
    )""")
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain},
    tscored AS (
      SELECT e.vec_id, e.v, c.cell, {cos0} AS cs
      FROM e CROSS JOIN c{rounds} c
    ),
    tasg AS (
      SELECT vec_id, v, cell, rk
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cs DESC, cell) AS rk
            FROM tscored)
      WHERE rk <= {nprobe}
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, cell FROM tasg
          WHERE vec_id < 10),
    p AS (SELECT vec_id AS neighbor_id, v AS cv, cell FROM tasg WHERE rk = 1),
    dots AS (
      SELECT query_id, neighbor_id, q.cell AS cell, {cos_q} AS cos_sim
      FROM q JOIN p USING (cell) WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(cell AS BIGINT) AS cell, cos_sim,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rk
          FROM dots)
    WHERE rk <= {k}
    """


@register(
    "q123_ann_ivf_trained",
    _ivf_trained_oracle(n_cells=8, rounds=2, k=5, nprobe=2),
    doc="The production IVF loop closed: q111's k-means training "
    "produces the centroid table, q74's IVF search runs against it — "
    "kmeans_train_centroids feeds ivf_topk(centroids=...). Plan shape "
    "identical to q49/q74 (broadcast trained centroids, cell-keyed "
    "posting-list equi-join, nprobe=2 union of cell keys); the seed-id "
    "quantizer the earlier rows use is the documented stand-in, this "
    "row retires it end-to-end. Integer micro-unit centroid means keep "
    "the trained table bit-identical across engines, so even the "
    "cell-boundary assignments agree exactly.",
)
def q123_ann_ivf_trained(spark: SparkSession, sf_dir: str):
    from .llm.similarity import ivf_topk, kmeans_train_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_train_centroids(
        emb, "vec_id", "embedding", n_cells=8, rounds=2
    )
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10),
        n_cells=8, k=5, nprobe=2, centroids=cents,
    ).withColumn("cell", F.col("cell").cast("long"))


# ---------------------------------------------------------------------------
# q127 — batch gap sessionization (30-min inactivity)
# ---------------------------------------------------------------------------

@register(
    "q127_batch_sessionize",
    """
    WITH o AS (
      SELECT user_id, event_id, event_type, ts,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    m AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                     THEN 1 ELSE 0 END AS is_new
      FROM o
    ),
    s AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS session_seq
      FROM m
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS start_us,
           CAST(epoch_us(MAX(ts)) AS BIGINT) AS end_us,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT)
             AS duration_us,
           CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS has_purchase
    FROM s GROUP BY user_id, session_seq
    """,
    doc="Batch gap sessionization — the q69 streaming session window's "
    "batch analog: a new session starts after > 30 min of per-user "
    "inactivity; session ids are the running sum of session-start "
    "flags. LAG + cumulative-sum + the session aggregate all partition "
    "by user_id, so the three window passes and the final groupBy share "
    "ONE exchange (the W3/q116 single-exchange discipline); per-row "
    "state is a flag and a running count — a user with millions of "
    "events costs only the per-user sort the ordering already requires. "
    "Micros-exact epoch arithmetic keeps the 30-min boundary "
    "bit-identical across engines.",
)
def q127_batch_sessionize(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    m = ev.select(
        "user_id", "event_id", "event_type", "ts",
        F.lag("ts").over(wo).alias("prev_ts"),
    ).withColumn(
        "is_new",
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.unix_micros("ts") - F.unix_micros("prev_ts")
                > 1_800_000_000
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    s = m.withColumn(
        "session_seq",
        F.sum("is_new")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min(F.unix_micros("ts")).cast("long").alias("start_us"),
        F.max(F.unix_micros("ts")).cast("long").alias("end_us"),
        (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts")))
        .cast("long")
        .alias("duration_us"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("has_purchase"),
    )


# ---------------------------------------------------------------------------
# q128 — weekly cohort retention
# ---------------------------------------------------------------------------

@register(
    "q128_cohort_retention",
    """
    WITH f AS (
      SELECT user_id,
             MIN(date_trunc('week', CAST(ts AS DATE)))
               AS cohort_week
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             date_trunc('week', CAST(e.ts AS DATE)) AS activity_week
      FROM events e JOIN f ON f.user_id = e.user_id
    )
    SELECT CAST(cohort_week AS VARCHAR) AS cohort_week,
           -- day-diff // 7, NOT datediff('week', ...): DuckDB's week
           -- datediff counts its own week-boundary crossings, which for
           -- multi-year spans (boundary-timestamp rows) disagrees with
           -- Monday-aligned exact-week arithmetic (r10 adversarial pin);
           -- both inputs are date_trunc('week') Mondays so // 7 is exact
           CAST(datediff('day', cohort_week, activity_week) // 7 AS BIGINT)
             AS weeks_since,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM a GROUP BY cohort_week, weeks_since
    """,
    doc="Weekly cohort retention: users grouped by first-seen week, "
    "counted distinct per (cohort, weeks-since-cohort) — the retention "
    "triangle every event-analytics engine ships. Three aggregations "
    "(first-seen, distinct user-week activity, final rollup), each a "
    "partial-agg shuffle on bounded keys; the cohort join broadcasts "
    "the per-user first-seen table at dim scale (or hash-joins on "
    "user_id beyond it). Week truncation on DATE (not timestamp) and "
    "VARCHAR cohort labels keep the group keys engine-identical; the "
    "week difference is exact integer arithmetic on date_trunc "
    "boundaries (both engines truncate to Monday).",
)
def q128_cohort_retention(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts").cast("date"))).alias(
            "cohort_week"
        )
    )
    a = (
        ev.join(f, on="user_id")
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", F.col("ts").cast("date")).alias(
                "activity_week"
            ),
        )
        .distinct()
    )
    return a.groupBy(
        F.col("cohort_week").cast("date").cast("string").alias("cohort_week"),
        (
            F.datediff(F.col("activity_week"), F.col("cohort_week")) / 7
        ).cast("long").alias("weeks_since"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))


# ---------------------------------------------------------------------------
# q129 — Z-order (Morton) layout keys
# ---------------------------------------------------------------------------

def _zorder_oracle(bits: int = 8) -> str:
    inter = " + ".join(
        f"((({d} >> {b}) & 1) << {b * 2 + i})"
        for b in range(bits)
        for i, d in enumerate(("du", "dd"))
    )
    mx = (1 << bits) - 1
    return f"""
    WITH e AS (
      SELECT event_id, user_id,
             floor((epoch(ts) - 1704067200.0) / 86400.0) AS day
      FROM events
    ),
    n AS (
      SELECT event_id,
             CAST(floor(least(greatest(CAST(user_id AS DOUBLE), 0.0), 149.0)
                        / 149.0 * {mx}.0) AS BIGINT) AS du,
             CAST(floor(least(greatest(day, 0.0), 365.0)
                        / 365.0 * {mx}.0) AS BIGINT) AS dd
      FROM e
    )
    SELECT event_id, CAST({inter} AS BIGINT) AS zkey FROM n
    """


@register(
    "q129_zorder_keys",
    _zorder_oracle(),
    doc="Z-order (Morton) layout keys over (user_id, event-day): each "
    "dimension linearly normalized to 8 bits over its known domain, "
    "bits interleaved into one sort key — sorting by it co-locates rows "
    "close in BOTH dimensions, so every written file's min/max footer "
    "spans stay narrow on user AND time at once and row-group pruning "
    "works for filters on either (Delta/Iceberg OPTIMIZE ZORDER BY; "
    "Morton 1966). Pure shift/mask integer expressions at scan speed, "
    "engine-identical; the layout test (test_layout.py) measures the "
    "pruning claim directly: z-ordered file spans cover a fraction of "
    "the non-leading dimension vs a user-id sort.",
)
def q129_zorder_keys(spark: SparkSession, sf_dir: str):
    from .operators.layout import normalize_to_bits, zorder_key

    ev = load_table(spark, sf_dir, "events")
    day = F.floor(
        (F.col("ts").cast("double") - F.lit(1704067200.0)) / F.lit(86400.0)
    )
    du = normalize_to_bits(F.col("user_id"), 0.0, 149.0, 8)
    dd = normalize_to_bits(day, 0.0, 365.0, 8)
    return ev.select(
        "event_id", zorder_key([du, dd], bits=8).alias("zkey")
    )


# ---------------------------------------------------------------------------
# q132 — per-user event-type transition matrix (first-order Markov)
# ---------------------------------------------------------------------------

@register(
    "q132_event_transitions",
    """
    WITH o AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    c AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM o WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    ),
    t AS (SELECT prev_type, SUM(n) AS tot FROM c GROUP BY prev_type)
    SELECT c.prev_type, c.next_type, CAST(c.n AS BIGINT) AS n,
           CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
    FROM c JOIN t ON t.prev_type = c.prev_type
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: LAG pairs each event with its predecessor (per-user "
    "(ts, event_id) order — ONE exchange), then a bounded-key "
    "(prev, next) count and row-normalized probabilities (exact integer "
    "counts, one division). The behavioral-model primitive behind "
    "next-action prediction and anomaly scoring; at any scale the "
    "transition table is |event_types|^2 rows — the rollup and "
    "normalizer join are dim-sized.",
)
def q132_event_transitions(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id", "event_type",
        F.lag("event_type").over(wo).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    c = o.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    # materialize the (|types|^2-row) count table once: t and the join
    # both read it, and without the barrier the whole LAG pipeline
    # re-executes per reference (plan showed 5 exchanges; 2 after)
    c = materialize(c)
    t = c.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    return c.join(F.broadcast(t), on="prev_type").select(
        "prev_type", "next_type", "n",
        (F.col("n").cast("double") / F.col("tot").cast("double")).alias("p"),
    )


# ---------------------------------------------------------------------------
# q133 — RFM customer segmentation
# ---------------------------------------------------------------------------

@register(
    "q133_rfm_segments",
    """
    WITH mx AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
    base AS (
      SELECT o_custkey,
             datediff('day', MAX(o_orderdate), (SELECT maxd FROM mx))
               AS recency_days,
             COUNT(*) AS frequency,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey AS custkey,
           CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency, monetary,
           CAST(ntile(4) OVER (ORDER BY recency_days ASC, o_custkey)
                AS BIGINT) AS r_quartile,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey)
                AS BIGINT) AS f_quartile,
           CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey)
                AS BIGINT) AS m_quartile
    FROM base
    """,
    doc="RFM segmentation: per customer the days since last order "
    "(recency vs the corpus max date), order count (frequency), and "
    "decimal-exact spend (monetary), each cut into quartiles with "
    "deterministic tie-breaks — the classic customer-value "
    "segmentation. One groupBy on custkey; the quartile windows rank "
    "the per-customer AGGREGATE (rows = customers, not orders). At "
    "catalog scale the global ntile windows are the single-reducer "
    "hazard — the production form derives quartile boundaries from "
    "approx_percentile and joins them broadcast (q88's knob), "
    "documented here, exact windows kept for oracle parity.",
)
def q133_rfm_segments(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("maxd"))
    base = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("lastd"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.datediff("maxd", "lastd").cast("long").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    return base.select(
        "custkey", "recency_days", "frequency", "monetary",
        F.ntile(4).over(
            Window.orderBy(F.asc("recency_days"), F.col("custkey"))
        ).cast("long").alias("r_quartile"),
        F.ntile(4).over(
            Window.orderBy(F.desc("frequency"), F.col("custkey"))
        ).cast("long").alias("f_quartile"),
        F.ntile(4).over(
            Window.orderBy(F.desc("monetary"), F.col("custkey"))
        ).cast("long").alias("m_quartile"),
    )


# ---------------------------------------------------------------------------
# q137 — trailing-window z-score anomaly detection on daily volumes
# ---------------------------------------------------------------------------

@register(
    "q137_volume_anomalies",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY event_type, day
    ),
    w AS (
      SELECT event_type, day, n,
             COUNT(*) OVER tw AS k,
             SUM(n) OVER tw AS s,
             SUM(n * n) OVER tw AS ss
      FROM d
      WINDOW tw AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    ),
    z AS (
      SELECT event_type, CAST(day AS VARCHAR) AS day, CAST(n AS BIGINT) AS n,
             CASE WHEN k >= 3 THEN CAST(s AS DOUBLE) / CAST(k AS DOUBLE) END
               AS mean7,
             CASE WHEN k >= 3 AND (ss * k - s * s) > 0
                  THEN sqrt(CAST(ss * k - s * s AS DOUBLE)
                            / CAST(k * (k - 1) AS DOUBLE)) END AS std7
      FROM w
    )
    SELECT event_type, day, n, mean7, std7,
           CASE WHEN std7 IS NOT NULL AND std7 > 0
                THEN (CAST(n AS DOUBLE) - mean7) / std7 END AS zscore,
           (std7 IS NOT NULL AND std7 > 0
            AND abs((CAST(n AS DOUBLE) - mean7) / std7) > 2.0) AS is_anomaly
    FROM z
    """,
    doc="Volume anomaly detection: per event type, each day's count "
    "against the TRAILING 7-day window (excluding today) — z-score "
    "against the trailing mean/sample-std, flagged at |z| > 2, the "
    "data-quality tripwire every ingestion pipeline runs. The moments "
    "come from INTEGER window sums (sum, sum-of-squares over counts — "
    "exact at any order), so the double mean/std/z are bit-identical "
    "across engines; the builtin stddev was deliberately avoided (its "
    "Welford accumulation is order-dependent). One window exchange per "
    "event_type, frame state = 3 integers; warm-up days (< 3 trailing "
    "points) and zero-variance windows yield null z and never flag.",
)
def q137_volume_anomalies(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    tw = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    w = d.select(
        "event_type", "day", "n",
        F.count(F.lit(1)).over(tw).alias("k"),
        F.sum("n").over(tw).alias("s"),
        F.sum(F.col("n") * F.col("n")).over(tw).alias("ss"),
    )
    mean7 = F.when(
        F.col("k") >= 3, F.col("s").cast("double") / F.col("k").cast("double")
    )
    var_num = F.col("ss") * F.col("k") - F.col("s") * F.col("s")
    std7 = F.when(
        (F.col("k") >= 3) & (var_num > 0),
        F.sqrt(
            var_num.cast("double")
            / (F.col("k") * (F.col("k") - 1)).cast("double")
        ),
    )
    z = w.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.col("n").cast("long").alias("n"),
        mean7.alias("mean7"),
        std7.alias("std7"),
    ).select(
        "event_type", "day", "n", "mean7", "std7",
        F.when(
            F.col("std7").isNotNull() & (F.col("std7") > 0),
            (F.col("n").cast("double") - F.col("mean7")) / F.col("std7"),
        ).alias("zscore"),
    )
    return z.withColumn(
        "is_anomaly",
        F.col("std7").isNotNull()
        & (F.col("std7") > 0)
        & (F.abs(F.col("zscore")) > 2.0),
    )


# ---------------------------------------------------------------------------
# q139 — SCD Type-2 dimension build from a change log
# ---------------------------------------------------------------------------

@register(
    "q139_scd2_intervals",
    """
    SELECT user_id,
           event_type AS state,
           CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
           CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)) AS BIGINT)
             AS valid_to_us,
           (lead(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) IS NULL) AS is_current
    FROM events
    """,
    doc="SCD Type-2 dimension build: turn a change log into validity "
    "intervals — each user event becomes a [valid_from, valid_to) state "
    "row, closed by the NEXT event's timestamp (LEAD over the per-user "
    "(ts, event_id) order; the open row is flagged current) — the "
    "warehouse pattern every dimension history table is built with, and "
    "the interval table q121's binned range join then probes "
    "point-in-time. One per-user exchange, one window pass, zero "
    "self-joins (the naive form joins the log to itself on "
    "next-change-after, quadratic per key).",
)
def q139_scd2_intervals(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(wo)
    return ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.unix_micros("ts").cast("long").alias("valid_from_us"),
        F.unix_micros(nxt).cast("long").alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# q140 — session path mining (top 3-step event paths)
# ---------------------------------------------------------------------------

@register(
    "q140_top_session_paths",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             lag(ts) OVER w AS prev_ts,
             lag(event_type, 1) OVER w AS t1,
             lag(event_type, 2) OVER w AS t2,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > 1800000000 THEN 1 ELSE 0 END AS brk1,
             CASE WHEN lag(ts, 1) OVER w IS NULL
                    OR epoch_us(lag(ts, 1) OVER w)
                      - epoch_us(lag(ts, 2) OVER w) > 1800000000
                    OR lag(ts, 2) OVER w IS NULL THEN 1 ELSE 0 END AS brk2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    p AS (
      SELECT t2 || ' > ' || t1 || ' > ' || event_type AS path
      FROM o
      WHERE t2 IS NOT NULL AND brk1 = 0 AND brk2 = 0
    ),
    c AS (SELECT path, COUNT(*) AS n FROM p GROUP BY path)
    SELECT path, CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY n DESC, path) AS rk FROM c)
    WHERE rk <= 20
    """,
    doc="Session path mining: the top-20 3-step event-type paths taken "
    "WITHIN a session (both inter-event gaps <= 30 min; a session break "
    "anywhere in the triple disqualifies it — q127's gap rule applied "
    "to path windows). Three LAGs share the one per-user exchange; "
    "paths roll up on a bounded key space (|types|^3); the top-20 is "
    "heap-based before a 20-row rank. The navigation-analysis primitive "
    "behind funnel discovery (q116 checks a KNOWN sequence; this MINES "
    "the frequent ones).",
)
def q140_top_session_paths(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 1_800_000_000
    o = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("t1"),
        F.lag("event_type", 2).over(w).alias("t2"),
        F.lag("ts", 0).over(w).alias("ts0"),
        F.lag("ts", 1).over(w).alias("ts1"),
        F.lag("ts", 2).over(w).alias("ts2"),
    )
    ok = (
        F.col("t2").isNotNull()
        & (F.unix_micros("ts0") - F.unix_micros("ts1") <= gap_us)
        & (F.unix_micros("ts1") - F.unix_micros("ts2") <= gap_us)
    )
    p = o.filter(ok).select(
        F.concat_ws(" > ", "t2", "t1", "event_type").alias("path")
    )
    c = p.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    top = c.orderBy(F.desc("n"), F.col("path")).limit(20)
    wr = Window.orderBy(F.desc("n"), F.col("path"))
    return (
        top.withColumn("rank", F.row_number().over(wr).cast("long"))
        .select("path", F.col("n").cast("long").alias("n"), "rank")
    )


# ---------------------------------------------------------------------------
# q142 — fixed-width histogram
# ---------------------------------------------------------------------------

@register(
    "q142_value_histogram",
    """
    WITH b AS (
      SELECT CASE WHEN value <= 0.0 THEN 0
                  WHEN value >= 200.0 THEN 19
                  ELSE CAST(floor(value / 10.0) AS BIGINT) END AS bin
      FROM events WHERE value IS NOT NULL
    )
    SELECT bin, bin * 10.0 AS bin_lo, (bin + 1) * 10.0 AS bin_hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM b GROUP BY bin
    """,
    doc="Fixed-width histogram of the event value distribution: 20 "
    "width-10 bins with clamped edges — the distribution primitive "
    "behind every profiling dashboard. Bin assignment is one floor "
    "division at scan speed, the rollup is a partial-agg shuffle on at "
    "most 20 keys; bin edges are exact double multiples so membership "
    "is engine-identical (the equal-width complement to q88's exact "
    "quantiles — width_bucket semantics stated explicitly rather than "
    "relying on engine-specific builtins).",
)
def q142_value_histogram(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    bin_c = (
        F.when(F.col("value") <= 0.0, F.lit(0))
        .when(F.col("value") >= 200.0, F.lit(19))
        .otherwise(F.floor(F.col("value") / 10.0))
        .cast("long")
    )
    return (
        ev.select(bin_c.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "bin",
            (F.col("bin") * 10.0).alias("bin_lo"),
            ((F.col("bin") + 1) * 10.0).alias("bin_hi"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# q143 — chi-square independence test (source x lang contingency)
# ---------------------------------------------------------------------------

@register(
    "q143_chi_square_source_lang",
    """
    WITH c AS (
      SELECT source, lang, COUNT(*) AS obs FROM documents GROUP BY source, lang
    ),
    rt AS (SELECT source, SUM(obs) AS r FROM c GROUP BY source),
    ct AS (SELECT lang, SUM(obs) AS k FROM c GROUP BY lang),
    n AS (SELECT SUM(obs) AS total FROM c),
    cell AS (
      SELECT c.source, c.lang, c.obs,
             CAST(rt.r AS DOUBLE) * CAST(ct.k AS DOUBLE)
               / CAST((SELECT total FROM n) AS DOUBLE) AS exp
      FROM c JOIN rt USING (source) JOIN ct USING (lang)
    ),
    contrib AS (
      SELECT CAST(round((CAST(obs AS DOUBLE) - exp) * (CAST(obs AS DOUBLE) - exp)
                        / exp * 1000000000.0) AS BIGINT) AS u
      FROM cell
    )
    SELECT CAST((SELECT COUNT(*) FROM rt) AS BIGINT) AS n_sources,
           CAST((SELECT COUNT(*) FROM ct) AS BIGINT) AS n_langs,
           CAST((SELECT total FROM n) AS BIGINT) AS n_docs,
           CAST(SUM(u) AS DOUBLE) / 1000000000.0 AS chi_square,
           CAST(((SELECT COUNT(*) FROM rt) - 1)
                * ((SELECT COUNT(*) FROM ct) - 1) AS BIGINT) AS dof
    FROM contrib
    """,
    doc="Chi-square independence test on the (source x lang) "
    "contingency table — is language mix independent of crawl source? "
    "The corpus-composition diagnostic behind mix-rebalancing decisions "
    "(a big statistic says per-source language quotas like q105/q109 "
    "are load-bearing). Observed counts and margins are exact integers; "
    "each cell's (obs-exp)^2/exp rounds to nano-unit integers before "
    "the exact sum (the q138 discipline — the one double-sensitive sum "
    "made order-independent), so the statistic is bit-identical across "
    "engines. Cell count = |sources| x |langs| — dim-sized at any "
    "corpus scale.",
)
def q143_chi_square_source_lang(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("obs")
    )
    c = materialize(c)
    rt = c.groupBy("source").agg(F.sum("obs").alias("r"))
    ct = c.groupBy("lang").agg(F.sum("obs").alias("k"))
    tot = c.agg(F.sum("obs").alias("total"))
    cell = (
        c.join(F.broadcast(rt), on="source")
        .join(F.broadcast(ct), on="lang")
        .crossJoin(F.broadcast(tot))
        .select(
            (
                F.col("r").cast("double")
                * F.col("k").cast("double")
                / F.col("total").cast("double")
            ).alias("exp"),
            F.col("obs").cast("double").alias("obsd"),
        )
    )
    contrib = cell.select(
        F.round(
            (F.col("obsd") - F.col("exp"))
            * (F.col("obsd") - F.col("exp"))
            / F.col("exp")
            * F.lit(1e9)
        ).cast("long").alias("u")
    )
    stats = contrib.agg(
        (F.sum("u").cast("double") / F.lit(1e9)).alias("chi_square")
    )
    dims = (
        rt.agg(F.count(F.lit(1)).alias("n_sources"))
        .crossJoin(ct.agg(F.count(F.lit(1)).alias("n_langs")))
        .crossJoin(tot)
    )
    return (
        dims.crossJoin(stats)
        .select(
            F.col("n_sources").cast("long").alias("n_sources"),
            F.col("n_langs").cast("long").alias("n_langs"),
            F.col("total").cast("long").alias("n_docs"),
            "chi_square",
            ((F.col("n_sources") - 1) * (F.col("n_langs") - 1))
            .cast("long")
            .alias("dof"),
        )
    )


# ---------------------------------------------------------------------------
# q144 — time-to-conversion distribution
# ---------------------------------------------------------------------------

@register(
    "q144_conversion_latency",
    """
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT user_id,
             epoch_us(first_purchase) - epoch_us(first_view) AS lat_us
      FROM u
      WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_view
    )
    SELECT CAST(least(floor(lat_us / 86400000000.0), 7) AS BIGINT)
             AS days_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(lat_us) AS BIGINT) AS min_us,
           CAST(MAX(lat_us) AS BIGINT) AS max_us
    FROM d GROUP BY days_bucket
    """,
    doc="Time-to-conversion distribution: per user the micros between "
    "FIRST view and FIRST purchase (users who purchased at or after "
    "their first view), bucketed by whole days with a 7+ clamp — the "
    "latency histogram behind attribution-window tuning (it tells you "
    "whether q121's 1-hour window is the right one). One conditional-"
    "min groupBy on user_id (partial-agg, no window needed), a "
    "micros-exact duration, and a <= 8-key rollup.",
)
def q144_conversion_latency(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("first_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    d = u.filter(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select(
        (
            F.unix_micros("first_purchase") - F.unix_micros("first_view")
        ).alias("lat_us")
    )
    return (
        d.select(
            F.least(
                F.floor(F.col("lat_us") / F.lit(86400000000.0)), F.lit(7)
            ).cast("long").alias("days_bucket"),
            "lat_us",
        )
        .groupBy("days_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.min("lat_us").cast("long").alias("min_us"),
            F.max("lat_us").cast("long").alias("max_us"),
        )
    )


# ---------------------------------------------------------------------------
# q147 — robust outlier counts via median absolute deviation (MAD)
# ---------------------------------------------------------------------------

@register(
    "q147_mad_length_outliers",
    """
    WITH m AS (
      SELECT source, quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
      FROM documents GROUP BY source
    ),
    dev AS (
      SELECT d.source, CAST(d.n_chars AS DOUBLE) AS x, m.med,
             abs(CAST(d.n_chars AS DOUBLE) - m.med) AS adev
      FROM documents d JOIN m USING (source)
    ),
    mad AS (
      SELECT source, quantile_cont(adev, 0.5) AS mad FROM dev
      GROUP BY source
    )
    SELECT dev.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ANY_VALUE(dev.med) AS median_chars,
           ANY_VALUE(mad.mad) AS mad_chars,
           CAST(SUM(CASE WHEN mad.mad > 0
                          AND abs(dev.x - dev.med) > 5.0 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (source)
    GROUP BY dev.source
    """,
    doc="Robust length-outlier report per source: median and MAD "
    "(median absolute deviation) of document length, counting docs "
    "beyond 5 MADs — the outlier gate that, unlike q137's z-score, a "
    "few extreme documents cannot drag (mean/std break down exactly "
    "where outlier detection matters). Two exact-median passes "
    "(linear-interpolation percentile — engine-parity proven at q88) "
    "+ one counting pass, all grouped on the bounded source key; "
    "zero-MAD sources (constant length) flag nothing by definition. "
    "approx_percentile is the documented unbounded-cardinality knob, "
    "as with q88/q133.",
)
def q147_mad_length_outliers(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("double").alias("x")
    )
    # NOT checkpointed (r13, measured): both dev consumers broadcast the
    # identical aggregate subtree, so ReuseExchange computes it once; a
    # checkpoint barrier tripled q147 at sf0.1 (1.2 s -> 3.3 s A/B)
    m = docs.groupBy("source").agg(
        F.percentile(F.col("x"), F.lit(0.5)).alias("med")
    )
    dev = docs.join(F.broadcast(m), on="source").select(
        "source", "x", "med", F.abs(F.col("x") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("source").agg(
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), on="source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.any_value("med").alias("median_chars"),
            F.any_value("mad").alias("mad_chars"),
            F.sum(
                F.when(
                    (F.col("mad") > 0)
                    & (F.abs(F.col("x") - F.col("med")) > 5.0 * F.col("mad")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# q148 — user growth accounting (new + cumulative users per day)
# ---------------------------------------------------------------------------

@register(
    "q148_user_growth",
    """
    WITH f AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT CAST(first_day AS VARCHAR) AS day, COUNT(*) AS n_new
      FROM f GROUP BY first_day
    )
    SELECT day, CAST(n_new AS BIGINT) AS n_new,
           CAST(SUM(n_new) OVER (ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM d
    """,
    doc="User growth accounting: per calendar day the count of users "
    "seen for the FIRST time, and the cumulative registered-user curve "
    "— the top-line growth chart. Per-user first-seen is one "
    "partial-agg groupBy; the daily rollup is calendar-sized; the "
    "running sum's unpartitioned window orders DAYS (tens to thousands "
    "of rows at any corpus scale — the one place a global window is "
    "genuinely safe, and stated as such).",
)
def q148_user_growth(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    d = f.groupBy(
        F.col("first_day").cast("string").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return d.select(
        "day",
        F.col("n_new").cast("long").alias("n_new"),
        F.sum("n_new").over(w).cast("long").alias("cumulative_users"),
    )


# ---------------------------------------------------------------------------
# q150 — rolling 7-day distinct users (DAU / WAU engagement)
# ---------------------------------------------------------------------------

@register(
    "q150_rolling_wau",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    contrib AS (
      SELECT d.day, ud.user_id
      FROM days d JOIN ud
        ON ud.day <= d.day AND ud.day >= d.day - INTERVAL 6 DAY
    ),
    wau AS (
      SELECT day, COUNT(DISTINCT user_id) AS wau FROM contrib GROUP BY day
    ),
    dau AS (
      SELECT day, COUNT(*) AS dau FROM ud GROUP BY day
    )
    SELECT CAST(wau.day AS VARCHAR) AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
    FROM wau JOIN dau ON dau.day = wau.day
    """,
    doc="Rolling engagement: per day the DAU, the trailing-7-day WAU "
    "(distinct users — NOT a sum of daily counts, which double-counts "
    "returnees), and the DAU/WAU stickiness ratio. Distinct-over-a-"
    "sliding-window cannot be a window aggregate (distinct state does "
    "not merge by frame); the distributed shape is: dedup to (user, "
    "day) rows once, fan each out to the <= 7 windows it belongs to "
    "(calendar join — here via the tiny distinct-days table; at scale "
    "an explode of 7 day keys per row, both forms equi-joins), then "
    "one distinct-count per window key. Cost: 7x the DEDUPED (user, "
    "day) rows — independent of raw event volume.",
)
def q150_rolling_wau(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    # the deduped (user, day) frame feeds BOTH the fan-out and the DAU
    # rollup — materialize it once (without the barrier the scan +
    # distinct re-execute per reference; plan showed 5 exchanges)
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct().transform(materialize)
    # fan out: each (user, day) row contributes to windows day..day+6 —
    # the explode form (scales with deduped rows; no days-table join)
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), 6),
                F.expr("interval 1 day"),
            )
        ).alias("wday"),
    )
    wau = contrib.groupBy("wday").agg(
        F.countDistinct("user_id").alias("wau")
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    # windows beyond the last active day exist in the explode form but
    # not the oracle's days-table form — keep only days with activity
    return (
        dau.join(wau, dau["day"] == wau["wday"])
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            (
                F.col("dau").cast("double") / F.col("wau").cast("double")
            ).alias("stickiness"),
        )
    )


@register(
    "q153_incident_session_overlap",
    """
    WITH o AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    m AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                     THEN 1 ELSE 0 END AS is_new
      FROM o
    ),
    s AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM m
    ),
    sess AS (
      SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
             CAST(epoch_us(MIN(ts)) AS BIGINT) AS start_us,
             CAST(epoch_us(MAX(ts)) AS BIGINT) AS end_us
      FROM s GROUP BY 1, 2
    ),
    h AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hour_num,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT event_type, SUM(n) AS t, COUNT(*) AS hrs
            FROM h GROUP BY 1),
    busy AS (
      SELECT h.event_type, h.hour_num
      FROM h JOIN tot USING (event_type)
      WHERE 2 * h.n * tot.hrs >= 3 * tot.t
    ),
    isl AS (
      SELECT event_type, hour_num,
             hour_num - row_number() OVER (PARTITION BY event_type
                                           ORDER BY hour_num) AS grp
      FROM busy
    ),
    inc AS (
      SELECT event_type, MIN(hour_num) * 3600000000 AS i0,
             (MAX(hour_num) + 1) * 3600000000 AS i1
      FROM isl GROUP BY event_type, grp
    ),
    ov AS (
      SELECT sess.user_id, sess.session_seq,
             least(sess.end_us, inc.i1)
               - greatest(sess.start_us, inc.i0) AS ov_us
      FROM sess JOIN inc
        ON least(sess.end_us, inc.i1)
             - greatest(sess.start_us, inc.i0) > 0
    )
    SELECT user_id, session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_incidents,
           CAST(SUM(ov_us) AS BIGINT) AS overlap_us
    FROM ov GROUP BY user_id, session_seq
    """,
    doc="Which user sessions ran during a volume incident, and for how "
    "long — composes THREE operator families: (1) exact rational "
    "busy-hour classification per event_type (an hour is busy when its "
    "count >= 1.5x the type's hourly mean, stated as the integer "
    "cross-product 2*n*hrs >= 3*t so the boundary is bit-identical), "
    "(2) gaps-and-islands coalescing of consecutive busy hours into "
    "incident intervals (operators/windows.py coalesce_islands: the "
    "seq - row_number constant-island trick, one exchange), and (3) the "
    "interval-x-interval OVERLAP join (operators/joins.py "
    "interval_overlap_join: both sides explode to shared hour buckets, "
    "candidates pair on an EQUI-key — never a nested loop — then the "
    "exact positive-overlap predicate filters and measures). Overlap "
    "micros are exact integer arithmetic end to end. Sessions are the "
    "q127 30-min-gap build sharing one per-user exchange.",
)
def q153_incident_session_overlap(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    from .operators.joins import interval_overlap_join
    from .operators.windows import coalesce_islands

    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    m = ev.select(
        "user_id", "event_id", "ts", F.lag("ts").over(wo).alias("prev_ts")
    ).withColumn(
        "is_new",
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.unix_micros("ts") - F.unix_micros("prev_ts")
                > 1_800_000_000
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = (
        m.withColumn(
            "session_seq",
            F.sum("is_new")
            .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.min(F.unix_micros("ts")).cast("long").alias("start_us"),
            F.max(F.unix_micros("ts")).cast("long").alias("end_us"),
        )
    )
    h = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("hour_num"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = h.groupBy("event_type").agg(
        F.sum("n").alias("t"), F.count(F.lit(1)).alias("hrs")
    )
    busy = (
        h.join(F.broadcast(tot), on="event_type")
        .filter(2 * F.col("n") * F.col("hrs") >= 3 * F.col("t"))
        .select("event_type", "hour_num")
    )
    inc = coalesce_islands(busy, ["event_type"], "hour_num").select(
        "event_type",
        (F.col("seq_start") * 3_600_000_000).cast("long")
        .alias("inc_start_us"),
        ((F.col("seq_end") + 1) * 3_600_000_000).cast("long")
        .alias("inc_end_us"),
    )
    ovj = interval_overlap_join(
        sess, inc,
        l_keys=["user_id", "session_seq"], r_keys=["event_type"],
        l_start="start_us", l_end="end_us",
        r_start="inc_start_us", r_end="inc_end_us",
    )
    return ovj.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).cast("long").alias("n_incidents"),
        F.sum("overlap_us").cast("long").alias("overlap_us"),
    )


# ---------------------------------------------------------------------------
# q172 — incremental rollup maintenance (partial-aggregate algebra)
# ---------------------------------------------------------------------------

_INC_ROLLUP_ORACLE = """
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
             AS total_value,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_value,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events
    GROUP BY 1, 2
    """


@register(
    "q172_incremental_rollup",
    _INC_ROLLUP_ORACLE,
    doc="Incremental rollup maintenance via partial-aggregate algebra: "
    "a STORED daily-partials table (one row per (day, event_type): "
    "count, decimal-exact sum, min/max ts) absorbs a delta batch — new "
    "days AND late-arriving rows for old days (event_id % 37 == 0 in "
    "days 15-20 withheld from the initial state) — by a full-outer "
    "merge that adds counts/sums and min/maxes bounds, NO re-read of "
    "historical raw data; the weekly rollup re-aggregates the merged "
    "partials. The oracle computes the same rollup DIRECTLY from all "
    "raw events, so the green row proves merge(state, delta) == "
    "recompute(everything) bit-exactly — count/sum/min/max compose "
    "associatively (decimal sums are exact integer arithmetic, so even "
    "the double total is order-independent); COUNT(DISTINCT) is "
    "exactly what does NOT compose, which is q164's register-table "
    "job. At 100 TB this is the nightly-pipeline pattern: state is "
    "days x types rows, a delta touches only its own partials, and "
    "late data folds in without reprocessing its partition.",
)
def q172_incremental_rollup(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "event_type",
        "ts",
        "value",
        "cast(date_trunc('day', ts) as date) as day",
    )
    late = (
        "(event_id % 37 = 0 and day between date'2024-01-15' "
        "and date'2024-01-20')"
    )
    initial = ev.filter(f"day <= date'2024-01-20' and not {late}")
    delta = ev.filter(f"day > date'2024-01-20' or {late}")

    def partials(df):
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(25,6)"))
            .cast("decimal(25,6)")
            .alias("vsum"),
            F.min("ts").alias("mn"),
            F.max("ts").alias("mx"),
        )

    # the stored state table — materialized, as it would be on disk
    state = materialize(partials(initial), eager=True)
    dpart = partials(delta)
    merged = (
        state.selectExpr(
            "day", "event_type", "cnt as c1", "vsum as s1",
            "mn as mn1", "mx as mx1",
        )
        .join(
            dpart.selectExpr(
                "day", "event_type", "cnt as c2", "vsum as s2",
                "mn as mn2", "mx as mx2",
            ),
            ["day", "event_type"],
            "full_outer",
        )
        .selectExpr(
            "day",
            "event_type",
            "coalesce(c1, 0) + coalesce(c2, 0) as cnt",
            "cast(coalesce(s1, cast(0 as decimal(25,6))) "
            "+ coalesce(s2, cast(0 as decimal(25,6))) "
            "as decimal(25,6)) as vsum",
            "least(coalesce(mn1, mn2), coalesce(mn2, mn1)) as mn",
            "greatest(coalesce(mx1, mx2), coalesce(mx2, mx1)) as mx",
        )
    )
    return merged.groupBy(
        F.expr("cast(date_trunc('week', day) as date)").alias("week"),
        "event_type",
    ).agg(
        F.sum("cnt").cast("long").alias("n_events"),
        F.sum(F.col("vsum")).cast("double").alias("total_value"),
        (
            F.sum(F.col("vsum")).cast("double")
            / F.sum("cnt").cast("double")
        ).alias("avg_value"),
        F.min("mn").alias("first_ts"),
        F.max("mx").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# q173 — mergeable histogram quantile sketch (q88's documented scale path)
# ---------------------------------------------------------------------------

_HISTQ_BIN = 16
_HISTQ_DIM = [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)]


def _histq_oracle() -> str:
    qdim = " UNION ALL ".join(
        f"SELECT '{lbl}' AS qtile, {num} AS num, {den} AS den"
        for lbl, num, den in _HISTQ_DIM
    )
    return f"""
    WITH v AS (
      -- n_chars IS NOT NULL: a NULL length has no rank position, and the
      -- engines disagree on where NULLs sit in cumulative windows
      -- (Spark NULLS FIRST vs DuckDB NULLS LAST) — excluded explicitly
      -- in both (r10 adversarial pin)
      SELECT lang, n_chars, COUNT(*) AS c FROM documents
      WHERE n_chars IS NOT NULL GROUP BY 1, 2
    ),
    n AS (SELECT lang, SUM(c) AS n FROM v GROUP BY 1),
    qd AS ({qdim}),
    rq AS (
      SELECT n.lang, qd.qtile,
             (qd.num * n.n + qd.den - 1) // qd.den AS r, n.n
      FROM n, qd
    ),
    vc AS (
      SELECT lang, n_chars,
             SUM(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum
      FROM v
    ),
    exact AS (
      SELECT rq.lang, rq.qtile, rq.n, MIN(vc.n_chars) AS exact
      FROM rq JOIN vc ON vc.lang = rq.lang AND vc.cum >= rq.r
      GROUP BY 1, 2, 3
    ),
    b AS (
      SELECT lang, n_chars // {_HISTQ_BIN} AS bin, COUNT(*) AS c
      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2
    ),
    bc AS (
      SELECT lang, bin,
             SUM(c) OVER (PARTITION BY lang ORDER BY bin) AS cum
      FROM b
    ),
    est AS (
      SELECT rq.lang, rq.qtile,
             MIN(bc.bin) * {_HISTQ_BIN} AS est_lo
      FROM rq JOIN bc ON bc.lang = rq.lang AND bc.cum >= rq.r
      GROUP BY 1, 2
    )
    SELECT e.lang, e.qtile, CAST(x.n AS BIGINT) AS n,
           CAST(e.est_lo AS BIGINT) AS est_lo,
           CAST(x.exact AS BIGINT) AS exact
    FROM est e JOIN exact x ON x.lang = e.lang AND x.qtile = e.qtile
    """


@register(
    "q173_histogram_quantiles",
    _histq_oracle(),
    doc="Mergeable histogram quantile sketch — the scale path q88's "
    "docstring promises: per-language p50/p90/p99 of doc length from "
    "FIXED-WIDTH bin counts (state = langs x 256 bins regardless of "
    "corpus size; bins build with one map-side-combinable groupBy and "
    "MERGE across partitions/days/clusters by bin-count addition — the "
    "property an exact sort-based quantile does not have), with the "
    "exact discrete quantile as the audit arm (bin lower bound <= "
    "exact < bound + width, pinned in the unit test). Rank targets "
    "ceil(q*N) are computed in exact integer arithmetic ((num*N + "
    "den - 1) div den) and selection is a cumulative-count threshold "
    "over the tiny bin table — no doubles anywhere, bit-identical to "
    "the oracle. At 100 TB this is the ANALYZE-statistics / data-"
    "quality-monitor shape: distribution summaries from a KB-sized "
    "mergeable state table, exact arms run on demand.",
)
def q173_histogram_quantiles(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()  # see oracle note: no rank position
    )
    # the compressed value table feeds the group totals AND the exact
    # cumulative chain — checkpoint (|lang × distinct n_chars|-sized)
    # so the corpus groupBy runs once; the rank grid feeds both the
    # exact and histogram locators (r13)
    v = docs.groupBy("lang", "n_chars").agg(
        F.count(F.lit(1)).alias("c")
    ).transform(materialize)
    n = v.groupBy("lang").agg(F.sum("c").alias("n"))
    qd = docs.sparkSession.createDataFrame(
        _HISTQ_DIM, "qtile string, num int, den int"
    )
    rq = n.crossJoin(F.broadcast(qd)).selectExpr(
        "lang", "qtile", "(num * n + den - 1) div den as r", "n"
    ).transform(materialize)
    wv = (
        Window.partitionBy("lang")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    vc = v.withColumn("cum", F.sum("c").over(wv))
    exact = (
        rq.join(vc, "lang")
        .filter(F.col("cum") >= F.col("r"))
        .groupBy("lang", "qtile", "n")
        .agg(F.min("n_chars").alias("exact"))
    )
    b = docs.selectExpr(
        "lang", f"n_chars div {_HISTQ_BIN} as bin"
    ).groupBy("lang", "bin").agg(F.count(F.lit(1)).alias("c"))
    wb = (
        Window.partitionBy("lang")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    bc = b.withColumn("cum", F.sum("c").over(wb))
    est = (
        rq.join(bc, "lang")
        .filter(F.col("cum") >= F.col("r"))
        .groupBy("lang", "qtile")
        .agg((F.min("bin") * _HISTQ_BIN).alias("est_lo"))
    )
    return est.join(exact, ["lang", "qtile"]).selectExpr(
        "lang", "qtile", "cast(n as bigint) as n",
        "cast(est_lo as bigint) as est_lo",
        "cast(exact as bigint) as exact",
    )


# ---------------------------------------------------------------------------
# q176 — A-priori frequent itemsets (Agrawal & Srikant, VLDB 1994)
# ---------------------------------------------------------------------------

_ITEMSETS_ORACLE = """
    WITH b AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS br
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    ms AS (SELECT (3 * COUNT(DISTINCT o) + 999) // 1000 AS ms FROM b),
    l1 AS (
      SELECT br FROM b GROUP BY br
      HAVING COUNT(*) >= (SELECT ms FROM ms)
    ),
    bf AS (SELECT b.o, b.br FROM b SEMI JOIN l1 ON b.br = l1.br),
    l2 AS (
      SELECT a.br AS x, c.br AS y, COUNT(*) AS support
      FROM bf a JOIN bf c ON a.o = c.o AND a.br < c.br
      GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT ms FROM ms)
    ),
    cand3 AS (
      SELECT p1.x, p1.y, p2.y AS z
      FROM l2 p1 JOIN l2 p2 ON p1.x = p2.x AND p1.y < p2.y
      WHERE EXISTS (SELECT 1 FROM l2 q
                    WHERE q.x = p1.y AND q.y = p2.y)
    ),
    t3 AS (
      -- c.o = d.o is implied by transitivity but stated explicitly: the
      -- join-order optimizer is otherwise free to start with (c, d),
      -- whose only direct predicate is the inequality c.br < d.br — a
      -- quadratic blowup (measured: >10 min at sf0.1 vs ~1 s with the
      -- redundant equality in place).
      SELECT a.br AS x, c.br AS y, d.br AS z, a.o
      FROM bf a JOIN bf c ON a.o = c.o AND a.br < c.br
      JOIN bf d ON a.o = d.o AND c.o = d.o AND c.br < d.br
    ),
    l3 AS (
      SELECT t.x, t.y, t.z, COUNT(*) AS support
      FROM t3 t SEMI JOIN cand3 cd
        ON t.x = cd.x AND t.y = cd.y AND t.z = cd.z
      GROUP BY 1, 2, 3 HAVING COUNT(*) >= (SELECT ms FROM ms)
    )
    SELECT 2 AS level, x || '|' || y AS itemset,
           CAST(support AS BIGINT) AS support
    FROM l2
    UNION ALL
    SELECT 3 AS level, x || '|' || y || '|' || z AS itemset,
           CAST(support AS BIGINT) AS support
    FROM l3
    """


@register(
    "q176_frequent_itemsets",
    _ITEMSETS_ORACLE,
    doc="A-priori frequent itemsets (Agrawal-Srikant, VLDB 1994): "
    "frequent brand pairs and triples across order baskets at support "
    ">= ceil(0.3% of baskets), the association-mining family. The "
    "scale discipline is the A-priori property: level-3 CANDIDATES are "
    "generated only from frequent level-2 pairs (join L2 with itself "
    "on the shared first item, then require the third face (y,z) to "
    "also be frequent via a semi-join), so basket triple enumeration "
    "aggregates through a broadcast-tiny candidate list instead of "
    "counting all C(brands,3) combinations — on a Zipfian real-world "
    "catalog the candidate set is orders of magnitude below the cube. "
    "Shuffle discipline: baskets are built as sorted item ARRAYS with "
    "a single groupBy(basket) collect_set — the ONLY corpus-scale "
    "shuffle (it subsumes the dedup a row-level DISTINCT would cost); "
    "pair/triple enumeration is then a pure map-side array-comprehension "
    "explode (C(k,2)/C(k,3) per basket, k = avg 3.75 distinct brands "
    "here — basket-bounded) whose counting shuffle is map-side-combined "
    "down to <= |candidates| rows per partition. A join-enumeration "
    "formulation (the oracle's shape) re-shuffles the basket table "
    "once per itemset position — 6 corpus-scale shuffles vs this "
    "plan's 1 (measured: 3.3 s vs 4.2 s warm at sf0.1, and the gap is "
    "structural at cluster scale). Minsup is derived in-query with "
    "exact integer ceil arithmetic. Pure counting — bit-identical to "
    "the oracle by construction.",
)
def q176_frequent_itemsets(spark: SparkSession, sf_dir: str):
    from .operators.mining import frequent_itemsets

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"]).selectExpr(
        "l_orderkey as o", "p_brand as br"
    )
    return frequent_itemsets(b, "o", "br", minsup_num=3, minsup_den=1000)


# ---------------------------------------------------------------------------
# q177 — association rules from frequent itemsets (Agrawal & Srikant, 1994)
# ---------------------------------------------------------------------------

_RULES_ORACLE = """
    WITH b AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS br
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n AS (SELECT COUNT(DISTINCT o) AS n FROM b),
    ms AS (SELECT (3 * n + 999) // 1000 AS ms FROM n),
    s1 AS (
      SELECT br, COUNT(*) AS sup FROM b GROUP BY br
      HAVING COUNT(*) >= (SELECT ms FROM ms)
    ),
    bf AS (SELECT b.o, b.br FROM b SEMI JOIN s1 ON b.br = s1.br),
    s2 AS (
      SELECT a.br AS x, c.br AS y, COUNT(*) AS sup
      FROM bf a JOIN bf c ON a.o = c.o AND a.br < c.br
      GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT ms FROM ms)
    ),
    dir2 AS (
      SELECT x AS ante, y AS cons, sup FROM s2
      UNION ALL
      SELECT y AS ante, x AS cons, sup FROM s2
    ),
    rules AS (
      SELECT d.ante, d.cons, d.sup,
             CAST(d.sup AS DOUBLE) / sa.sup AS confidence,
             CAST((SELECT n FROM n) * d.sup AS DOUBLE)
               / (sa.sup * sc.sup) AS lift
      FROM dir2 d
      JOIN s1 sa ON d.ante = sa.br
      JOIN s1 sc ON d.cons = sc.br
    )
    SELECT ante, cons, CAST(sup AS BIGINT) AS support, confidence, lift
    FROM rules
    WHERE 5 * sup >= (SELECT sup FROM s1 WHERE br = rules.ante)
    """


@register(
    "q177_association_rules",
    _RULES_ORACLE,
    doc="Association-rule generation from frequent pairs (the second "
    "half of Agrawal-Srikant 1994, after q176's itemset mining): every "
    "directed rule x -> y over frequent brand pairs with support, "
    "confidence = sup(x,y)/sup(x), and lift = N*sup(x,y)/(sup(x)*"
    "sup(y)), kept at confidence >= 20%. The confidence gate is "
    "applied by exact integer cross-multiplication (5*sup >= sup_ante) "
    "so the threshold has no double boundary; confidence and lift "
    "themselves are each ONE correctly-rounded IEEE division of exact "
    "integer counts — bit-identical across engines (the repo's "
    "single-rounded-op doubles rule; never a double SUM). All joins "
    "are on the tiny frequent-item/pair tables (<=|brands|^2 rows) and "
    "broadcast; the only corpus-scale work is the single "
    "groupBy(basket) collect_set basket build (q176's one-shuffle "
    "array architecture) and the map-side-combined pair count.",
)
def q177_association_rules(spark: SparkSession, sf_dir: str):
    from .operators.mining import association_rules

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"]).selectExpr(
        "l_orderkey as o", "p_brand as br"
    )
    return association_rules(
        b, "o", "br", minsup_num=3, minsup_den=1000,
        minconf_num=1, minconf_den=5,
    )


# ---------------------------------------------------------------------------
# q178 — sequential pattern support (GSP exists-counting, Srikant &
# Agrawal EDBT 1996) via order-statistics collapse
# ---------------------------------------------------------------------------

_SEQPAT_ORACLE = """
    WITH tmm AS (
      SELECT user_id AS u, event_type AS t, MIN(ts) AS mn, MAX(ts) AS mx
      FROM events GROUP BY 1, 2
    ),
    nu AS (SELECT COUNT(DISTINCT user_id) AS nu FROM events),
    ms AS (SELECT (5 * nu + 99) // 100 AS ms FROM nu),
    p2 AS (
      SELECT a.t AS x, c.t AS y, COUNT(*) AS support
      FROM tmm a JOIN tmm c ON a.u = c.u
      WHERE a.mn < c.mx
      GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT ms FROM ms)
    ),
    mid AS (
      SELECT DISTINCT a.u, a.t AS x, e.event_type AS y, c.t AS z
      FROM tmm a
      JOIN tmm c ON a.u = c.u
      JOIN events e ON e.user_id = a.u
      WHERE e.ts > a.mn AND e.ts < c.mx
    ),
    p3 AS (
      SELECT x, y, z, COUNT(*) AS support
      FROM mid GROUP BY 1, 2, 3
      HAVING COUNT(*) >= (SELECT ms FROM ms)
    )
    SELECT 2 AS level, x || '>' || y AS pattern,
           CAST(support AS BIGINT) AS support
    FROM p2
    UNION ALL
    SELECT 3 AS level, x || '>' || y || '>' || z AS pattern,
           CAST(support AS BIGINT) AS support
    FROM p3
    """


@register(
    "q178_sequential_patterns",
    _SEQPAT_ORACLE,
    doc="Sequential pattern support (GSP exists-counting, Srikant & "
    "Agrawal EDBT 1996): how many users' event histories contain the "
    "subsequence <A,B> (resp. <A,B,C>) in timestamp order, gaps "
    "allowed, kept at minsup = ceil(5% of users) — the ordered "
    "complement of q132's adjacent-transition matrix and q116's fixed "
    "funnel. The scale move is an order-statistics collapse that "
    "avoids per-user subsequence enumeration entirely: a user "
    "supports <A,B> iff min_ts(A) < max_ts(B), and <A,B,C> iff some "
    "B-event lies strictly inside the open interval (min_ts(A), "
    "max_ts(C))  — so the corpus-scale work is ONE groupBy(user, type) "
    "min/max aggregation (map-side combining, |users|x|types| output) "
    "plus, for triples, an events-to-(A,C)-interval equi-join on "
    "user_id whose fan-out is |types|^2 per event, NEVER C(history,3) "
    "per user. Handles repeated types correctly (<A,B,A> needs two "
    "distinct A-events; the strict inequalities enforce it). Pure "
    "integer counting over micros-exact timestamps — bit-identical "
    "across engines.",
)
def q178_sequential_patterns(spark: SparkSession, sf_dir: str):
    from .operators.mining import sequential_pattern_support

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    return sequential_pattern_support(
        ev, "user_id", "event_type", "ts", minsup_num=5, minsup_den=100
    )


# ---------------------------------------------------------------------------
# q179 — embargoed temporal split (purged time-series governance)
# ---------------------------------------------------------------------------

_EMBARGO_ORACLE = """
    WITH span AS (
      SELECT epoch_us(MIN(ts)) AS mn, epoch_us(MAX(ts)) AS mx FROM events
    ),
    cut AS (
      SELECT mn + (8 * (mx - mn)) // 10 AS cutoff,
             mn + (8 * (mx - mn)) // 10 + 86400000000 AS emb_end
      FROM span
    ),
    labeled AS (
      SELECT CASE WHEN epoch_us(e.ts) < c.cutoff THEN 'train'
                  WHEN epoch_us(e.ts) >= c.emb_end THEN 'test'
                  ELSE 'embargo' END AS split,
             e.user_id, epoch_us(e.ts) AS us
      FROM events e CROSS JOIN cut c
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(MIN(us) AS BIGINT) AS min_us,
           CAST(MAX(us) AS BIGINT) AS max_us
    FROM labeled
    GROUP BY split
    """


@register(
    "q179_embargo_split",
    _EMBARGO_ORACLE,
    doc="Embargoed temporal split (the purged walk-forward governance "
    "of time-series ML, cf. Lopez de Prado 2018 ch.7): train = events "
    "before the 80%-of-span cutoff, test = events after a 24 h embargo "
    "gap, embargo-zone rows quarantined and ACCOUNTED FOR (the report "
    "row proves what was dropped — silent row loss is the failure "
    "mode). Complements q167's duplicate-cluster-atomic split: q167 "
    "guards content leakage, this guards temporal leakage (features "
    "computed near the boundary can straddle it; the gap removes the "
    "overlap). All boundary arithmetic is exact integer micros "
    "(epoch_us both engines, span-fraction by integer div) — no "
    "percentile estimation, no double boundaries. Two scans at corpus "
    "scale: a min/max stat pass (columnar, partial-agg) and one "
    "labeling pass with the 1-row cutoff frame broadcast; the report "
    "is a 3-row map-side-combined groupBy.",
)
def q179_embargo_split(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    cut = (
        ev.agg(
            F.expr("unix_micros(min(ts))").alias("mn"),
            F.expr("unix_micros(max(ts))").alias("mx"),
        )
        .selectExpr(
            "mn + (8 * (mx - mn)) div 10 as cutoff",
            "mn + (8 * (mx - mn)) div 10 + 86400000000 as emb_end",
        )
    )
    return (
        ev.crossJoin(F.broadcast(cut))
        .selectExpr(
            "case when unix_micros(ts) < cutoff then 'train' "
            "when unix_micros(ts) >= emb_end then 'test' "
            "else 'embargo' end as split",
            "user_id",
            "unix_micros(ts) as us",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("us").alias("min_us"),
            F.max("us").alias("max_us"),
        )
        .selectExpr(
            "split",
            "cast(n_events as bigint) as n_events",
            "cast(n_users as bigint) as n_users",
            "cast(min_us as bigint) as min_us",
            "cast(max_us as bigint) as max_us",
        )
    )


# ---------------------------------------------------------------------------
# q181 — robust outlier stats: lower-median + MAD (Hampel identifier)
# ---------------------------------------------------------------------------

_ROBUST_ORACLE = """
    WITH v AS (
      SELECT event_type AS t, value AS x FROM events WHERE value IS NOT NULL
    ),
    r1 AS (
      SELECT t, x,
             ROW_NUMBER() OVER (PARTITION BY t ORDER BY x) AS rn,
             COUNT(*) OVER (PARTITION BY t) AS n
      FROM v
    ),
    med AS (SELECT t, n, x AS med FROM r1 WHERE rn = (n + 1) // 2),
    d AS (
      SELECT v.t, v.x, med.n, med.med, ABS(v.x - med.med) AS dev
      FROM v JOIN med ON v.t = med.t
    ),
    r2 AS (
      SELECT t, n, med, dev,
             ROW_NUMBER() OVER (PARTITION BY t ORDER BY dev) AS rn
      FROM d
    ),
    mad AS (SELECT t, n, med, dev AS mad FROM r2 WHERE rn = (n + 1) // 2),
    j AS (
      SELECT d.t, d.n, d.med, mad.mad,
             CASE WHEN d.dev > 3 * mad.mad THEN 1 ELSE 0 END AS is_out
      FROM d JOIN mad ON d.t = mad.t
    )
    SELECT t AS event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           MAX(med) AS med,
           MAX(mad) AS mad,
           CAST(SUM(is_out) AS BIGINT) AS n_outliers
    FROM j GROUP BY t
    """


@register(
    "q181_robust_outliers",
    _ROBUST_ORACLE,
    doc="Robust per-group outlier statistics (Hampel identifier): "
    "lower median and lower-median absolute deviation of event value, "
    "then |x - med| > 3*MAD outlier counts — the heavy-tail-safe "
    "complement to q137's mean/std anomaly gate (one planted 10^6 "
    "outlier shifts a mean but not a median). Cross-engine exactness "
    "by ORDER STATISTICS, not interpolation: the lower median is the "
    "value AT rank (n+1) div 2 (a data value — no arithmetic; Spark's "
    "percentile()/DuckDB's quantile_cont interpolate with DIFFERENT "
    "rounding, a + (b-a)*f vs a*(1-f) + b*f, so interpolated medians "
    "are not bit-portable); the only float ops are one subtraction "
    "per row and one multiply per comparison — each a single "
    "correctly-rounded IEEE op. Scale: two ranked windows PARTITIONED "
    "by group (parallel across groups; within-group single-reducer is "
    "the exact arm's documented cost — q173's mergeable histogram is "
    "the sketch arm at 100 TB), one broadcast of the |groups|-row "
    "median frame.",
)
def q181_robust_outliers(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter("value is not null")
        .selectExpr("event_type as t", "value as x")
    )
    w1 = Window.partitionBy("t").orderBy("x")
    r1 = ev.select(
        "t",
        "x",
        F.row_number().over(w1).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("t")).alias("n"),
    )
    # NOT checkpointed (r13, measured): the broadcast subtrees below are
    # identical, so ReuseExchange runs the rank window once; a checkpoint
    # barrier regressed q181 at sf0.1 (2.2 s -> 3.9 s A/B)
    med = r1.filter("rn = (n + 1) div 2").select("t", "n", F.col("x").alias("med"))
    d = ev.join(F.broadcast(med), "t").selectExpr(
        "t", "n", "med", "abs(x - med) as dev"
    )
    w2 = Window.partitionBy("t").orderBy("dev")
    mad = (
        d.select("t", "dev", F.row_number().over(w2).alias("rn"), "n")
        .filter("rn = (n + 1) div 2")
        .select("t", F.col("dev").alias("mad"))
    )
    return (
        d.join(F.broadcast(mad), "t")
        .selectExpr(
            "t", "n", "med", "mad",
            "case when dev > 3 * mad then 1 else 0 end as is_out",
        )
        .groupBy("t")
        .agg(
            F.max("n").alias("_n"),
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.sum("is_out").alias("_no"),
        )
        .selectExpr(
            "t as event_type",
            "cast(_n as bigint) as n",
            "med",
            "mad",
            "cast(_no as bigint) as n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# q182 — exact median by two-pass binned selection (no per-group sort)
# ---------------------------------------------------------------------------

_SELECT_MEDIAN_ORACLE = """
    WITH v AS (
      SELECT event_type AS t, value AS x FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT t, x,
             ROW_NUMBER() OVER (PARTITION BY t ORDER BY x) AS rn,
             COUNT(*) OVER (PARTITION BY t) AS n
      FROM v
    )
    SELECT t AS event_type, CAST(n AS BIGINT) AS n, x AS med
    FROM r WHERE rn = (n + 1) // 2
    """


@register(
    "q182_selection_median",
    _SELECT_MEDIAN_ORACLE,
    doc="Exact lower median per group WITHOUT a within-group sort — "
    "two-pass binned selection (Blum et al. selection by partition, "
    "the distributed classic): pass 1 histograms each group into 4096 "
    "equi-width bins (map-side combining groupBy — every partition "
    "contributes <= |groups| x 4096 partial rows regardless of data "
    "volume); the rank-containing bin is located on the KB-sized "
    "histogram; pass 2 ranks ONLY the candidate bin's rows (expected "
    "n/4096 of the group). This closes q181's documented exact-arm "
    "gap: the within-group single-reducer sort is gone — both "
    "corpus-scale passes are fully parallel scans + combining "
    "aggregations, and the only ordered window runs on the ~n/4096 "
    "candidate slice (pathological concentration into one bin would "
    "need recursive refinement; documented, not needed here). The "
    "ORACLE is the plain rank-window SQL: the selected value is "
    "algorithm-independent, so the green row proves the two-pass "
    "selection exactly equals the sort-based median. Bin indices use "
    "multi-op double arithmetic freely — they only route rows "
    "Spark-side and never cross engines.",
)
def q182_selection_median(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter("value is not null")
        .selectExpr("event_type as t", "value as x")
    )
    # NOT checkpointed (r13, measured): the consumers broadcast the same
    # aggregate subtree (ReuseExchange dedups it); a checkpoint barrier
    # regressed q182 at sf0.1 (2.8 s -> 3.7 s A/B)
    stats = ev.groupBy("t").agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    # eqNullSafe joins throughout: the group key is a raw event_type that
    # can be NULL, and a plain equi-join would silently drop the NULL
    # group from the selection while the oracle's window keeps it (r10
    # adversarial census pin — same class as the q19 partitioner bug)
    b = ev.join(
        F.broadcast(stats.withColumnRenamed("t", "_t")),
        F.col("t").eqNullSafe(F.col("_t")),
    ).selectExpr(
        "t", "x", "n",
        "case when mx = mn then 0 else "
        "least(4095, cast(floor((x - mn) / (mx - mn) * 4096) as int)) "
        "end as bin",
    )
    hist = b.groupBy("t", "bin").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("t")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    located = (
        hist.join(
            F.broadcast(stats.selectExpr("t as _t", "n")),
            F.col("t").eqNullSafe(F.col("_t")),
        )
        .select(
            "t", "bin", "c", "n",
            F.coalesce(F.sum("c").over(wcum), F.lit(0)).alias("below"),
        )
        .filter("below < (n + 1) div 2 and below + c >= (n + 1) div 2")
        .selectExpr("t", "bin", "n", "(n + 1) div 2 - below as k_in_bin")
    )
    cand = b.drop("n").join(
        F.broadcast(located.selectExpr("t as _t", "bin as _bin",
                                       "n", "k_in_bin")),
        F.col("t").eqNullSafe(F.col("_t")) & (F.col("bin") == F.col("_bin")),
    )
    wsel = Window.partitionBy("t").orderBy("x")
    return (
        cand.select(
            "t", "x", "n", "k_in_bin",
            F.row_number().over(wsel).alias("rn"),
        )
        .filter("rn = k_in_bin")
        .selectExpr("t as event_type", "cast(n as bigint) as n", "x as med")
    )


# ---------------------------------------------------------------------------
# q185 — exact quantile grid by one-histogram multi-rank selection
# ---------------------------------------------------------------------------

_QGRID_ORACLE = """
    WITH v AS (
      SELECT event_type AS t, value AS x FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT t, x,
             ROW_NUMBER() OVER (PARTITION BY t ORDER BY x) AS rn,
             COUNT(*) OVER (PARTITION BY t) AS n
      FROM v
    ),
    qs(q, num, den) AS (
      VALUES ('p25', 1, 4), ('p50', 1, 2), ('p75', 3, 4),
             ('p90', 9, 10), ('p99', 99, 100)
    )
    SELECT t AS event_type, qs.q,
           CAST(r.n AS BIGINT) AS n, r.x AS val
    FROM r JOIN qs
      ON r.rn = GREATEST(1, (qs.num * r.n + qs.den - 1) // qs.den)
    """


@register(
    "q185_quantile_grid_selection",
    _QGRID_ORACLE,
    doc="Exact per-group quantile grid (p25/p50/p75/p90/p99, lower "
    "order statistic at rank max(1, ceil(q*n)) — q173's rank "
    "convention) computed by ONE histogram pass + multi-rank "
    "selection, generalizing q182: the 4096-bin combining histogram "
    "is built once, every grid rank is located on the KB-sized "
    "cumulative histogram (a broadcast range probe), and only the "
    "union of candidate bins (<= 5 bins/group, ~n/4096 rows each) is "
    "ranked. One corpus-scale scan serves the WHOLE grid — the "
    "ANALYZE-statistics workload where a sort-based plan pays the "
    "full ordering once per group and q173's sketch trades exactness "
    "for state. The oracle is the plain rank-window SQL; the green "
    "row proves one-pass multi-rank selection == sort-based "
    "quantiles bit-exactly (selected values are data values — no "
    "interpolation arithmetic crosses engines).",
)
def q185_quantile_grid_selection(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter("value is not null")
        .selectExpr("event_type as t", "value as x")
    )
    # stats feeds the rank grid AND the bin expression's broadcast —
    # checkpoint the |groups|-sized frame (r13: un-materialized, each
    # consumer re-aggregated the corpus; 8 scans in the executed plan)
    stats = ev.groupBy("t").agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ).transform(materialize)
    qs = F.broadcast(
        ev.sparkSession.createDataFrame(
            [("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4),
             ("p90", 9, 10), ("p99", 99, 100)],
            "q string, num int, den int",
        )
    )
    ranks = stats.crossJoin(qs).selectExpr(
        "t", "q", "n", "greatest(1, (num * n + den - 1) div den) as k"
    )
    # eqNullSafe joins on the group key — NULL event_type groups must
    # survive the histogram/candidate equi-joins (r10 adversarial pin,
    # same fix as q182)
    b = ev.join(
        F.broadcast(stats.withColumnRenamed("t", "_t")),
        F.col("t").eqNullSafe(F.col("_t")),
    ).selectExpr(
        "t", "x",
        "case when mx = mn then 0 else "
        "least(4095, cast(floor((x - mn) / (mx - mn) * 4096) as int)) "
        "end as bin",
    )
    hist = b.groupBy("t", "bin").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("t")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.select(
        "t", "bin", "c",
        F.coalesce(F.sum("c").over(wcum), F.lit(0)).alias("below"),
    )
    located = (
        cum.join(
            F.broadcast(ranks.withColumnRenamed("t", "_t")),
            F.col("t").eqNullSafe(F.col("_t")),
        )
        .filter("below < k and below + c >= k")
        .selectExpr("t", "bin", "q", "n", "k - below as k_in_bin")
        .transform(materialize)  # <= 5 rows/group; feeds the
        # candidate-bin broadcast AND the final rank join
    )
    cand = b.join(
        F.broadcast(
            located.selectExpr("t as _ct", "bin as _cbin").distinct()
        ),
        F.col("t").eqNullSafe(F.col("_ct")) & (F.col("bin") == F.col("_cbin")),
    )
    wsel = Window.partitionBy("t", "bin").orderBy("x")
    ranked = cand.select(
        "t", "bin", "x", F.row_number().over(wsel).alias("rn")
    )
    return (
        ranked.join(
            F.broadcast(located),
            ranked["t"].eqNullSafe(located["t"])
            & (ranked["bin"] == located["bin"])
            & (ranked["rn"] == located["k_in_bin"]),
        )
        .select(
            ranked["t"].alias("event_type"),
            "q",
            F.col("n").cast("bigint").alias("n"),
            ranked["x"].alias("val"),
        )
    )


# ---------------------------------------------------------------------------
# q186 — exact two-sample KS drift between embargo-split train and test
# ---------------------------------------------------------------------------

_KS_DRIFT_ORACLE = """
    WITH span AS (
      SELECT epoch_us(MIN(ts)) AS mn, epoch_us(MAX(ts)) AS mx FROM events
    ),
    cut AS (
      SELECT mn + (8 * (mx - mn)) // 10 AS cutoff,
             mn + (8 * (mx - mn)) // 10 + 86400000000 AS emb_end
      FROM span
    ),
    lab AS (
      SELECT e.event_type AS t, e.value AS x,
             CASE WHEN epoch_us(e.ts) < c.cutoff THEN 1 ELSE 0 END AS s1,
             CASE WHEN epoch_us(e.ts) >= c.emb_end THEN 1 ELSE 0 END AS s2
      FROM events e CROSS JOIN cut c
      WHERE e.value IS NOT NULL
        AND (epoch_us(e.ts) < c.cutoff OR epoch_us(e.ts) >= c.emb_end)
    ),
    cum AS (
      SELECT t, x,
             SUM(s1) OVER (PARTITION BY t ORDER BY x
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
             SUM(s2) OVER (PARTITION BY t ORDER BY x
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2,
             SUM(s1) OVER (PARTITION BY t) AS n1,
             SUM(s2) OVER (PARTITION BY t) AS n2
      FROM lab
    )
    SELECT t AS event_type,
           CAST(MAX(n1) AS BIGINT) AS n_train,
           CAST(MAX(n2) AS BIGINT) AS n_test,
           CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS BIGINT) AS ks_num,
           CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS DOUBLE)
             / (MAX(n1) * MAX(n2)) AS ks
    FROM cum GROUP BY t
    """


@register(
    "q186_ks_drift",
    _KS_DRIFT_ORACLE,
    doc="Exact two-sample Kolmogorov-Smirnov drift statistic per event "
    "type between q179's embargoed train and test splits — the "
    "continuous-distribution complement of q143's categorical "
    "chi-square, auditing the covariate shift a temporal split "
    "inevitably introduces. Exact by integer arithmetic: KS = "
    "max|F1 - F2| over the pooled order is max|c1*n2 - c2*n1| / "
    "(n1*n2), with the numerator kept as an exact BIGINT column and "
    "ONE final division for the statistic; the cumulative counts use "
    "RANGE frames so ties collapse to the post-tie CDF value in both "
    "engines. Scale: one labeling scan (the broadcast 1-row cutoff "
    "frame), then a per-group ordered cumulative window — the exact "
    "arm; at extreme group sizes the q185 histogram locates the "
    "max-gap region first (same two-pass discipline). No per-user "
    "state, no joins beyond broadcasts.",
)
def q186_ks_drift(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "ts")
    cut = (
        ev.agg(
            F.expr("unix_micros(min(ts))").alias("mn"),
            F.expr("unix_micros(max(ts))").alias("mx"),
        )
        .selectExpr(
            "mn + (8 * (mx - mn)) div 10 as cutoff",
            "mn + (8 * (mx - mn)) div 10 + 86400000000 as emb_end",
        )
    )
    lab = (
        ev.crossJoin(F.broadcast(cut))
        .filter(
            "value is not null and "
            "(unix_micros(ts) < cutoff or unix_micros(ts) >= emb_end)"
        )
        .selectExpr(
            "event_type as t",
            "value as x",
            "case when unix_micros(ts) < cutoff then 1 else 0 end as s1",
            "case when unix_micros(ts) >= emb_end then 1 else 0 end as s2",
        )
    )
    wr = (
        Window.partitionBy("t")
        .orderBy("x")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("t")
    cum = lab.select(
        "t",
        F.sum("s1").over(wr).alias("c1"),
        F.sum("s2").over(wr).alias("c2"),
        F.sum("s1").over(wt).alias("n1"),
        F.sum("s2").over(wt).alias("n2"),
    )
    return (
        cum.groupBy("t")
        .agg(
            F.max("n1").alias("_n1"),
            F.max("n2").alias("_n2"),
            F.max(F.expr("abs(c1 * n2 - c2 * n1)")).alias("_kn"),
        )
        .selectExpr(
            "t as event_type",
            "cast(_n1 as bigint) as n_train",
            "cast(_n2 as bigint) as n_test",
            "cast(_kn as bigint) as ks_num",
            # try_divide: a group present in only one split has n1*n2 = 0 —
            # its KS is undefined (NULL), matching DuckDB x/0 (r10
            # adversarial pin)
            "try_divide(cast(_kn as double), _n1 * _n2) as ks",
        )
    )


# ---------------------------------------------------------------------------
# q187 — mixture concentration: exact Gini / HHI / top-share per language
# ---------------------------------------------------------------------------

_CONCENTRATION_ORACLE = """
    WITH st AS (
      SELECT lang, source, SUM(n_chars) AS chars
      FROM documents GROUP BY 1, 2
    ),
    r AS (
      SELECT lang, chars,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY chars, source) AS rn
      FROM st
    ),
    a AS (
      SELECT lang,
             COUNT(*) AS n,
             SUM(chars) AS s,
             SUM(rn * chars) AS t,
             SUM(chars * chars) AS sq,
             MAX(chars) AS mx
      FROM r GROUP BY lang
    )
    SELECT lang,
           CAST(n AS BIGINT) AS n_sources,
           CAST(s AS BIGINT) AS total_chars,
           CAST(2 * t - (n + 1) * s AS BIGINT) AS gini_num,
           CAST(2 * t - (n + 1) * s AS DOUBLE) / (n * s) AS gini,
           CAST(sq AS DOUBLE) / (s * s) AS hhi,
           CAST(mx AS DOUBLE) / s AS top1_share
    FROM a
    """


@register(
    "q187_mixture_concentration",
    _CONCENTRATION_ORACLE,
    doc="Mixture-concentration governance per language: exact Gini "
    "coefficient over per-source character mass (sorted-rank formula "
    "G = (2*sum(rank*x) - (n+1)*sum(x)) / (n*sum(x)) — the numerator "
    "carried as an exact BIGINT column, ONE division for the "
    "statistic), Herfindahl-Hirschman index (sum(x^2)/S^2 — exact "
    "integer numerator and denominator, one division), and top-1 "
    "source share — the diversity dashboard a corpus mixture is "
    "steered by (a lang at gini ~1 / hhi ~1 is one source wearing a "
    "language's hat; q180/q183's waterfill is the remediation). "
    "Rank ties (equal masses) are order-invariant in the Gini sum, "
    "so the source tie-break only pins engine parity. One corpus "
    "scan into a combining groupBy(lang, source); everything after "
    "is KB-sized.",
)
def q187_mixture_concentration(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    st = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.sum("n_chars").alias("chars"))
    )
    r = st.select(
        "lang",
        "chars",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("chars", "source"))
        .alias("rn"),
    )
    return (
        r.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("chars").alias("s"),
            F.sum(F.expr("rn * chars")).alias("t"),
            F.sum(F.expr("chars * chars")).alias("sq"),
            F.max("chars").alias("mx"),
        )
        .selectExpr(
            "lang",
            "cast(n as bigint) as n_sources",
            "cast(s as bigint) as total_chars",
            "cast(2 * t - (n + 1) * s as bigint) as gini_num",
            "cast(2 * t - (n + 1) * s as double) / (n * s) as gini",
            "cast(sq as double) / (s * s) as hhi",
            "cast(mx as double) / s as top1_share",
        )
    )


# ---------------------------------------------------------------------------
# q188 — weighted order statistic: the corpus mass median length
# ---------------------------------------------------------------------------

_MASS_MEDIAN_ORACLE = """
    WITH g AS (
      SELECT lang, n_chars AS len, SUM(n_chars) AS mass
      FROM documents GROUP BY 1, 2
    ),
    c AS (
      SELECT lang, len, mass,
             SUM(mass) OVER (PARTITION BY lang ORDER BY len
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(mass) OVER (PARTITION BY lang) AS s
      FROM g
    )
    SELECT lang,
           CAST(MIN(s) AS BIGINT) AS total_chars,
           CAST(MIN(len) AS BIGINT) AS mass_median_len
    FROM c
    WHERE cum >= (s + 1) // 2
    GROUP BY lang
    """


@register(
    "q188_mass_median_length",
    _MASS_MEDIAN_ORACLE,
    doc="Weighted order statistic per language: the smallest document "
    "length L such that documents of length <= L carry at least half "
    "the language's character mass — 'where the median character "
    "lives', the statistic that decides chunking and packing budgets "
    "(a count median is dominated by short docs; training cost "
    "follows MASS). Pure integers end-to-end: per-(lang, len) mass "
    "via a combining groupBy (the ONLY corpus-scale shuffle, output "
    "bounded by distinct lengths), an ordered cumulative window over "
    "the compressed length histogram (KB-sized — the window never "
    "sees row-level data), and an exact ceil(S/2) threshold. The "
    "same shape generalizes to any weighted quantile and any mass "
    "column (tokens, bytes).",
)
def q188_mass_median_length(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    g = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", F.col("n_chars").alias("len"))
        .agg(F.sum("n_chars").alias("mass"))
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("len")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = g.select(
        "lang",
        "len",
        F.sum("mass").over(w).alias("cum"),
        F.sum("mass").over(Window.partitionBy("lang")).alias("s"),
    )
    return (
        c.filter("cum >= (s + 1) div 2")
        .groupBy("lang")
        .agg(
            F.min("s").cast("bigint").alias("total_chars"),
            F.min("len").cast("bigint").alias("mass_median_len"),
        )
    )


# ---------------------------------------------------------------------------
# q190 — exact Mann-Whitney U / AUC drift between train and test
# ---------------------------------------------------------------------------

_MWU_ORACLE = """
    WITH span AS (
      SELECT epoch_us(MIN(ts)) AS mn, epoch_us(MAX(ts)) AS mx FROM events
    ),
    cut AS (
      SELECT mn + (8 * (mx - mn)) // 10 AS cutoff,
             mn + (8 * (mx - mn)) // 10 + 86400000000 AS emb_end
      FROM span
    ),
    lab AS (
      SELECT e.event_type AS t, e.value AS x,
             CASE WHEN epoch_us(e.ts) < c.cutoff THEN 1 ELSE 0 END AS s1,
             CASE WHEN epoch_us(e.ts) >= c.emb_end THEN 1 ELSE 0 END AS s2
      FROM events e CROSS JOIN cut c
      WHERE e.value IS NOT NULL
        AND (epoch_us(e.ts) < c.cutoff OR epoch_us(e.ts) >= c.emb_end)
    ),
    blk AS (
      SELECT t, x, SUM(s1) AS c1, COUNT(*) AS c
      FROM lab GROUP BY t, x
    ),
    cum AS (
      SELECT t, c1,
             SUM(c) OVER (PARTITION BY t ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ble,
             SUM(c) OVER (PARTITION BY t ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
               AS blt
      FROM blk
    ),
    g AS (
      SELECT t,
             SUM(c1) AS n1,
             MAX(ble) - SUM(c1) AS n2,
             SUM(c1 * (blt + ble + 1)) AS r1x2
      FROM cum GROUP BY t
    )
    SELECT t AS event_type,
           CAST(n1 AS BIGINT) AS n_train,
           CAST(n2 AS BIGINT) AS n_test,
           CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1x2,
           CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / (2 * n1 * n2) AS auc
    FROM g
    """


@register(
    "q190_mwu_drift",
    _MWU_ORACLE,
    doc="Exact Mann-Whitney U / rank-biserial AUC between q179's "
    "embargoed train and test values per event type — completing the "
    "bit-exact drift-test kit (q143 chi-square: categorical; q186 KS: "
    "max CDF gap; this: stochastic dominance, AUC = P(train value > "
    "test value) + P(tie)/2). Tie handling is exact via DOUBLED "
    "ranks: a tie block's average rank is (below+1 + cum_le)/2, so "
    "2*R1 = sum over blocks of c1*(blt + ble + 1) stays integer; "
    "2*U1 = 2*R1 - n1*(n1+1) is carried as an exact BIGINT column "
    "and the AUC is ONE division by 2*n1*n2. The rank machinery runs "
    "on the COMPRESSED (type, value) block table (groupBy first — "
    "the window never sees row-level data, the q188 discipline), so "
    "the per-group ordered window is bounded by distinct values, not "
    "rows.",
)
def q190_mwu_drift(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "ts")
    cut = (
        ev.agg(
            F.expr("unix_micros(min(ts))").alias("mn"),
            F.expr("unix_micros(max(ts))").alias("mx"),
        )
        .selectExpr(
            "mn + (8 * (mx - mn)) div 10 as cutoff",
            "mn + (8 * (mx - mn)) div 10 + 86400000000 as emb_end",
        )
    )
    lab = (
        ev.crossJoin(F.broadcast(cut))
        .filter(
            "value is not null and "
            "(unix_micros(ts) < cutoff or unix_micros(ts) >= emb_end)"
        )
        .selectExpr(
            "event_type as t",
            "value as x",
            "case when unix_micros(ts) < cutoff then 1 else 0 end as s1",
        )
    )
    blk = lab.groupBy("t", "x").agg(
        F.sum("s1").alias("c1"), F.count(F.lit(1)).alias("c")
    )
    w = (
        Window.partitionBy("t")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = blk.select(
        "t",
        "c1",
        F.sum("c").over(w).alias("ble"),
        (F.sum("c").over(w) - F.col("c")).alias("blt"),
    )
    return (
        cum.groupBy("t")
        .agg(
            F.sum("c1").alias("n1"),
            (F.max("ble") - F.sum("c1")).alias("n2"),
            F.sum(F.expr("c1 * (blt + ble + 1)")).alias("r1x2"),
        )
        .selectExpr(
            "t as event_type",
            "cast(n1 as bigint) as n_train",
            "cast(n2 as bigint) as n_test",
            "cast(r1x2 - n1 * (n1 + 1) as bigint) as u1x2",
            # try_divide: one-sided groups (n1*n2 = 0) have undefined AUC
            # (r10 adversarial pin)
            "try_divide(cast(r1x2 - n1 * (n1 + 1) as double), 2 * n1 * n2) as auc",
        )
    )


# ---------------------------------------------------------------------------
# q193 — session-timeout calibration from inter-arrival gaps
# ---------------------------------------------------------------------------

_GAP_CALIB_ORACLE = """
    WITH g AS (
      SELECT epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events
    ),
    gg AS (SELECT gap FROM g WHERE gap IS NOT NULL),
    n AS (SELECT COUNT(*) AS n FROM gg),
    cand(timeout_s) AS (VALUES (300), (1800), (3600), (14400))
    SELECT CAST(c.timeout_s AS BIGINT) AS timeout_s,
           CAST((SELECT n FROM n) AS BIGINT) AS n_gaps,
           CAST(COUNT(*) FILTER (
             WHERE gg.gap > CAST(c.timeout_s AS BIGINT) * 1000000)
             AS BIGINT) AS n_breaks,
           CAST((SELECT COUNT(DISTINCT user_id) FROM events) +
                COUNT(*) FILTER (
                  WHERE gg.gap > CAST(c.timeout_s AS BIGINT) * 1000000)
                AS BIGINT) AS n_sessions
    FROM cand c CROSS JOIN gg
    GROUP BY c.timeout_s
    """


@register(
    "q193_session_gap_calibration",
    _GAP_CALIB_ORACLE,
    doc="Session-timeout calibration — the methodology step that "
    "justifies a sessionizer's idle threshold (q69 hard-codes 30 min; "
    "this measures what that choice does): per candidate timeout "
    "(5 min / 30 min / 1 h / 4 h), how many inter-arrival gaps break "
    "a session and the resulting corpus session count (sessions = "
    "users + breaking gaps — each user's history contributes one "
    "session plus one per break). Gaps are exact integer micros from "
    "LAG over (user, ts, event_id) — the deterministic tie-break "
    "matters for adjacent equal timestamps; thresholds compare in "
    "integer micros, so there is no float boundary anywhere. One "
    "corpus-scale window partitioned by user (parallel across users, "
    "state one row), then a 4-candidate conditional count — the "
    "report that turns '30 minutes' from folklore into a measured "
    "elbow.",
)
def q193_session_gap_calibration(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        (
            F.expr("unix_micros(ts)")
            - F.lag(F.expr("unix_micros(ts)")).over(w)
        ).alias("gap")
    ).filter("gap is not null")
    nu = ev.agg(F.countDistinct("user_id").alias("u"))
    cand = F.broadcast(
        ev.sparkSession.createDataFrame(
            [(300,), (1800,), (3600,), (14400,)], "timeout_s long"
        )
    )
    return (
        g.crossJoin(cand)
        .groupBy("timeout_s")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum(
                F.expr(
                    "case when gap > timeout_s * 1000000 then 1 else 0 end"
                )
            ).alias("n_breaks"),
        )
        .crossJoin(F.broadcast(nu))
        .selectExpr(
            "cast(timeout_s as bigint) as timeout_s",
            "cast(n_gaps as bigint) as n_gaps",
            "cast(n_breaks as bigint) as n_breaks",
            "cast(u + n_breaks as bigint) as n_sessions",
        )
    )


# ---------------------------------------------------------------------------
# q196 — source purity: dominant language share per source
# ---------------------------------------------------------------------------

_PURITY_ORACLE = """
    WITH c AS (
      SELECT source, lang, COUNT(*) AS n
      FROM documents GROUP BY 1, 2
    ),
    r AS (
      SELECT source, lang, n,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY n DESC, lang) AS rk,
             SUM(n) OVER (PARTITION BY source) AS tot,
             COUNT(*) OVER (PARTITION BY source) AS n_langs
      FROM c
    )
    SELECT source,
           CAST(n_langs AS BIGINT) AS n_langs,
           CAST(tot AS BIGINT) AS n_docs,
           lang AS dominant_lang,
           CAST(n AS BIGINT) AS dominant_docs,
           CAST(n AS DOUBLE) / tot AS dominant_share
    FROM r WHERE rk = 1
    """


@register(
    "q196_source_purity",
    _PURITY_ORACLE,
    doc="Source language-purity profile: per source, the number of "
    "languages served, the dominant language (argmax by doc count, "
    "deterministic lang tie-break), and its share — the routing "
    "check before per-language pipelines consume per-source data "
    "(a 'pure' source can skip langid re-verification, q35; a mixed "
    "one cannot), and the granular complement of q187's per-language "
    "concentration. Exact counting on the compressed (source, lang) "
    "table — the windows are bounded by |sources|x|langs|, never "
    "rows; the share is ONE division. One combining groupBy scan.",
)
def q196_source_purity(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    c = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source")
    r = c.select(
        "source",
        "lang",
        "n",
        F.row_number()
        .over(w.orderBy(F.col("n").desc(), "lang"))
        .alias("rk"),
        F.sum("n").over(w).alias("tot"),
        F.count(F.lit(1)).over(w).alias("n_langs"),
    )
    return r.filter("rk = 1").selectExpr(
        "source",
        "cast(n_langs as bigint) as n_langs",
        "cast(tot as bigint) as n_docs",
        "lang as dominant_lang",
        "cast(n as bigint) as dominant_docs",
        "cast(n as double) / tot as dominant_share",
    )


# ---------------------------------------------------------------------------
# q199 — Fellegi-Sunter probabilistic record linkage
# ---------------------------------------------------------------------------

_FS_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, lang, source, n_chars // 100 AS lenb,
             ({O_TOKENS})[1] AS blk
      FROM documents WHERE len({O_TOKENS}) > 0
    ),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.lang = b.lang AS agree_lang,
             a.source = b.source AS agree_source,
             a.lenb = b.lenb AS agree_len
      FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
    ),
    wtd AS (
      SELECT *,
             CAST((CASE WHEN agree_lang THEN 76 ELSE 4 END)
               * (CASE WHEN agree_source THEN 180 ELSE 20 END)
               * (CASE WHEN agree_len THEN 40 ELSE 10 END) AS BIGINT) AS wn,
             CAST((CASE WHEN agree_lang THEN 20 ELSE 60 END)
               * (CASE WHEN agree_source THEN 10 ELSE 190 END)
               * (CASE WHEN agree_len THEN 5 ELSE 45 END) AS BIGINT) AS wd
      FROM p
    )
    SELECT id_a, id_b, agree_lang, agree_source, agree_len,
           CAST(wn AS DOUBLE) / CAST(wd AS DOUBLE) AS weight,
           CASE WHEN wn * 1 >= wd * 32 THEN 'link'
                WHEN wn * 2 < wd * 1 THEN 'nonlink'
                ELSE 'possible' END AS decision
    FROM wtd
    WHERE NOT (wn * 2 < wd * 1)
    """


@register(
    "q199_fs_linkage",
    _FS_ORACLE,
    doc="Fellegi-Sunter probabilistic record linkage (Fellegi & Sunter "
    "1969) over first-token blocks of the documents table: three field "
    "comparators (language m=19/20 u=1/4, source m=9/10 u=1/20, "
    "100-char length bucket m=4/5 u=1/10) multiply into a composite "
    "match weight, thresholded three ways (link >= 32, nonlink < 1/2, "
    "possible between). The deterministic-weighting complement to "
    "q149's edit-distance verify: sorted-neighborhood/blocking decide "
    "WHICH pairs to score, F-S decides WHAT a match is when no single "
    "field is decisive. Registry-policy case: a new discipline "
    "(probabilistic linkage) AND a new parity application — the "
    "classical log-weight sum is replaced by exact-rational BIGINT "
    "num/den products with integer cross-multiplied thresholds and ONE "
    "final IEEE division (the q194/q198 monotone-transform trick "
    "extended from single ratios to products), so the score line is "
    "bit-identical cross-engine with zero libm. Scale: weighting is "
    "per-row arithmetic on the blocked pair frame (operators/"
    "linkage.py); the block self-join is the q130 equi-join shape — "
    "at corpus scale compose finer blocking keys exactly as there.",
)
def q199_fs_linkage(spark: SparkSession, sf_dir: str):
    from .llm.text_analysis import tokens
    from .operators.linkage import Comparator, fs_classify

    docs = load_table(spark, sf_dir, "documents")
    # tokenize ONCE in the projection (the filter and blk both read the
    # _w column, not a re-inlined tokens() tree), spread a sub-parallel
    # scan before the tokenize (single-file small input), and persist
    # the tiny blocked base so the a/b self-join reads the cache instead
    # of scanning + tokenizing the corpus once per side (the q198 lesson)
    from .session import spread_small_input

    t = materialize(
        spread_small_input(docs).select(
            "doc_id",
            "lang",
            "source",
            F.expr("n_chars div 100").alias("lenb"),
            tokens(F.col("text")).alias("_w"),
        )
        .filter(F.size("_w") > 0)
        .select(
            "doc_id", "lang", "source", "lenb",
            F.element_at("_w", 1).alias("blk"),
        )
    )
    a, b = t.alias("a"), t.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.col("a.lang").alias("_la"), F.col("b.lang").alias("_lb"),
        F.col("a.source").alias("_sa"), F.col("b.source").alias("_sb"),
        F.col("a.lenb").alias("_na"), F.col("b.lenb").alias("_nb"),
    )
    comps = [
        Comparator("lang", F.col("_la") == F.col("_lb"), 19, 20, 1, 4),
        Comparator("source", F.col("_sa") == F.col("_sb"), 9, 10, 1, 20),
        Comparator("len", F.col("_na") == F.col("_nb"), 4, 5, 1, 10),
    ]
    return (
        fs_classify(pairs, comps, link_at=(32, 1), nonlink_below=(1, 2))
        .filter(F.col("decision") != "nonlink")
        .select(
            "id_a", "id_b", "agree_lang", "agree_source", "agree_len",
            "weight", "decision",
        )
    )


# ---------------------------------------------------------------------------
# q201 — zone-map pruning audit: measure a layout's data-skipping power
# ---------------------------------------------------------------------------

_ZONEMAP_ORACLE = f"""
    WITH base AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
             (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS mf,
             {o_h60("CAST(o_orderkey AS VARCHAR)")} % 16 AS hf
      FROM orders
    ),
    tagged AS (
      SELECT 'time_clustered' AS layout, CAST(mf AS BIGINT) AS file_id, d
      FROM base
      UNION ALL
      SELECT 'hash_random', CAST(hf AS BIGINT), d FROM base
    ),
    stats AS (
      SELECT layout, file_id, MIN(d) AS mn, MAX(d) AS mx, COUNT(*) AS n
      FROM tagged GROUP BY 1, 2
    ),
    preds(pred_id, lo, hi) AS (VALUES
      (1, DATE '1996-01-01', DATE '1996-03-31'),
      (2, DATE '1997-07-01', DATE '1997-12-31'),
      (3, DATE '1999-01-01', DATE '1999-12-31'),
      (4, DATE '2000-06-01', DATE '2000-06-07')
    ),
    audit AS (
      SELECT layout, pred_id, (mn <= hi AND mx >= lo) AS rd, n
      FROM stats CROSS JOIN preds
    )
    SELECT layout, CAST(pred_id AS BIGINT) AS pred_id,
           COUNT(*) AS n_files,
           CAST(SUM(CASE WHEN rd THEN 1 ELSE 0 END) AS BIGINT)
             AS files_read,
           CAST(SUM(CASE WHEN rd THEN n ELSE 0 END) AS BIGINT)
             AS rows_read,
           CAST(CAST(SUM(CASE WHEN rd THEN 1 ELSE 0 END) AS BIGINT)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS read_frac
    FROM audit GROUP BY 1, 2
    """


@register(
    "q201_zonemap_audit",
    _ZONEMAP_ORACLE,
    doc="Zone-map pruning audit (operators/layout.py "
    "zonemap_prune_audit): simulate the per-file min/max footer stats "
    "of two candidate layouts of orders — time-clustered (file = month "
    "since 1995-01, the ingest-order layout) vs hash-random (file = "
    "md5-hash of the key mod 16) — and measure, for a literal workload "
    "of four date-range predicates, how many files and rows a "
    "min/max-pruning scan must read under each. The measurement that "
    "justifies or rejects a 100 TB layout rewrite BEFORE paying for "
    "it: the clustered layout's read_frac tracks predicate "
    "selectivity, the hash layout reads ~everything; the same audit "
    "run on a zorder_key layout evidences ITS claim (test_layout.py). "
    "Registry-policy case: the data-skipping measurement discipline — "
    "the WHY metric for the layout family (q129 builds z-keys, q162 "
    "profiles skew, this measures pruning). Scale: one combining "
    "aggregate per candidate layout over layout EXPRESSIONS (no "
    "materialized rewrite, no sort, no window), then arithmetic on the "
    "tiny (layout x file) stats table crossed with the literal "
    "predicate array. Exact integers + ONE division.",
)
def q201_zonemap_audit(spark: SparkSession, sf_dir: str):
    from .llm.dedup import hash60
    from .operators.layout import zonemap_prune_audit

    orders = load_table(spark, sf_dir, "orders")
    layouts = {
        "time_clustered": (F.year("o_orderdate") - 1995) * 12
        + F.month("o_orderdate")
        - 1,
        "hash_random": hash60(F.col("o_orderkey").cast("string")) % 16,
    }
    return zonemap_prune_audit(
        orders,
        layouts,
        "o_orderdate",
        [
            (1, "1996-01-01", "1996-03-31"),
            (2, "1997-07-01", "1997-12-31"),
            (3, "1999-01-01", "1999-12-31"),
            (4, "2000-06-01", "2000-06-07"),
        ],
    )


# ---------------------------------------------------------------------------
# q202 — SCD type-2 dimension build from a change log
# ---------------------------------------------------------------------------

@register(
    "q202_scd2_build",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER w0 AS prev,
             LAG(1) OVER w0 AS prev_marker
      FROM events
      WINDOW w0 AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    collapsed AS (
      -- Null-safe episode boundary: first row per key is detected by the
      -- lagged-constant marker (not by prev IS NULL, which a NULL attribute
      -- state would also satisfy), and value change uses IS DISTINCT FROM —
      -- matching scd2_build's eqNullSafe semantics exactly.
      SELECT * FROM ordered
      WHERE prev_marker IS NULL OR event_type IS DISTINCT FROM prev
    )
    SELECT user_id, event_type,
           epoch_us(ts) AS valid_from_us,
           epoch_us(LEAD(ts) OVER w) AS valid_to_us,
           CAST(row_number() OVER w AS BIGINT) AS version,
           LEAD(ts) OVER w IS NULL AS is_current
    FROM collapsed
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="Slowly-changing-dimension type-2 build (Kimball dimension "
    "versioning; operators/windows.py scd2_build): the events change "
    "log becomes one row per (user, value) EPISODE with half-open "
    "[valid_from_us, valid_to_us) bounds, per-user version numbers, "
    "and an is_current flag — the warehouse-ETL operator that lets "
    "every fact join to the dimension AS OF its own timestamp (the "
    "q81 as-of join's canonical right side). Registry-policy case: a "
    "new discipline for the reference's own domain — the reference "
    "apps rebuild state snapshots per run (app_generador_de_"
    "particiones.py's full-refresh reads); SCD2 is the incremental "
    "history-preserving alternative a warehouse actually deploys. "
    "Collapse of no-op observations (LAG) and episode close (LEAD) "
    "share ONE hash partitioning and sort — a single shuffle; per-key "
    "history is an entity's change count, never corpus-scale. Epochs "
    "are exact BIGINT micros (unix_micros / epoch_us), ties broken by "
    "event_id. Containment: q139_scd2_intervals builds validity "
    "intervals over the same table; q202 strictly widens it (adds "
    "null-safe no-op collapse + version numbers + is_current), the "
    "same strictly-widening relationship as q34->q107.",
)
def q202_scd2_build(spark: SparkSession, sf_dir: str):
    from .operators.windows import scd2_build

    ev = load_table(spark, sf_dir, "events")
    return scd2_build(ev, "user_id", "ts", "event_type", "event_id")


# ---------------------------------------------------------------------------
# q203 — rolling-origin seasonal-naive backtest (exact-integer MASE)
# ---------------------------------------------------------------------------

@register(
    "q203_seasonal_backtest",
    """
    WITH daily AS (
      SELECT event_type AS k,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM daily),
    spine AS (
      SELECT k, UNNEST(generate_series(mn, mx)) AS d
      FROM (SELECT DISTINCT k FROM daily) CROSS JOIN bounds
    ),
    dense AS (
      SELECT s.k, s.d, COALESCE(daily.c, 0) AS c
      FROM spine s LEFT JOIN daily ON s.k = daily.k AND s.d = daily.d
    ),
    enr AS (
      SELECT k, d, c,
             LAG(c, 7) OVER w AS lp,
             LAG(c, 1) OVER w AS l1
      FROM dense WINDOW w AS (PARTITION BY k ORDER BY d)
    ),
    e AS (
      SELECT enr.*, f.fold, b.mx - 7 * f.fold AS origin
      FROM enr
      CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS fold) f
      CROSS JOIN bounds b
    ),
    agg AS (
      SELECT k AS event_type, CAST(fold AS BIGINT) AS fold,
             CAST(SUM(CASE WHEN d > origin AND d <= origin + 7
                            AND lp IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS h,
             CAST(SUM(CASE WHEN d > origin AND d <= origin + 7
                            AND lp IS NOT NULL THEN abs(c - lp)
                       ELSE 0 END) AS BIGINT) AS sum_abs_err,
             CAST(SUM(CASE WHEN d <= origin AND l1 IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
             CAST(SUM(CASE WHEN d <= origin AND l1 IS NOT NULL
                       THEN abs(c - l1) ELSE 0 END) AS BIGINT)
               AS sum_train_abs_diff
      FROM e GROUP BY 1, 2
    )
    SELECT *,
           CASE WHEN sum_train_abs_diff > 0 AND h > 0
                THEN CAST(sum_abs_err * n_train AS DOUBLE)
                     / CAST(h * sum_train_abs_diff AS DOUBLE)
           END AS mase
    FROM agg
    """,
    doc="Rolling-origin backtest of the seasonal-naive forecaster with "
    "exact-integer MASE (Hyndman & Koehler 2006; ml/forecast.py "
    "seasonal_naive_backtest): three origins step back a week at a "
    "time from the series end; each fold forecasts day d as the "
    "actual of d-7 using data at or before its origin, and scales "
    "the horizon MAE by the in-sample one-step naive MAE. Registry-"
    "policy case: the ML family's missing EVALUATION arm — q41/q104 "
    "fit, q151 predicts, nothing measured honest out-of-time skill "
    "against the baseline every forecasting paper scales by. All "
    "error sums are BIGINT (integer counts, absolute differences); "
    "MASE is integer products + ONE division — bit-identical "
    "cross-engine. Plan: daily combining groupBy, dense integer-day "
    "spine (broadcast 1-row bounds), per-key LAG windows on the "
    "compressed daily table, literal fold explode, one aggregate — "
    "two shuffles at any corpus size.",
)
def q203_seasonal_backtest(spark: SparkSession, sf_dir: str):
    from .ml.forecast import seasonal_naive_backtest

    ev = load_table(spark, sf_dir, "events")
    return seasonal_naive_backtest(
        ev, "event_type", "ts", period=7, horizon=7, n_folds=3
    )
