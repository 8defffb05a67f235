"""Streaming + ML query surface (SURVEY.md §2.9 U3/U4, §2.10).

Streaming queries drive the real Structured Streaming engine (file source →
stateful ops → memory sink, run to completion) and return the materialized
result, so the oracle compares the streaming output against the equivalent
batch SQL. The ML query is non-SQL-expressible → rows-only check.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .registry import load_table, register
from .streaming.temporal import (
    dedup_first_stream,
    events_stream,
    hourly_counts,
    run_to_memory,
)


@register(
    "q40_streaming_hourly",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="Streaming tumbling 1-hour window counts + exact sums per "
    "event_type (SURVEY.md §2.10: the A1/A2 demand aggregates as "
    "readStream → window() → memory sink). Bounded backfill run to "
    "completion; the oracle is the equivalent batch aggregation, which "
    "complete-mode output must equal exactly.",
)
def q40_streaming_hourly(spark: SparkSession, sf_dir: str):
    agg = hourly_counts(events_stream(spark, sf_dir))
    return run_to_memory(agg, "q40_streaming_hourly_out", "complete")


@register(
    "q43_streaming_dedup",
    """
    SELECT user_id, COUNT(DISTINCT CAST(ts AS DATE)) AS n_dias
    FROM events WHERE epoch(ts) > 0 GROUP BY user_id
    """,
    doc="Streaming watermarked dedup-keep-one per (user_id, day) "
    "(SURVEY.md §2.10: W1 as dropDuplicates + 1-day watermark), then a "
    "batch rollup of the deduped append output. Which physical row "
    "survives is arrival-order dependent, so the oracle checks the "
    "arrival-order-independent projection: distinct days per user. "
    "Epoch-zero sentinel guard (r10 adversarial finding): Spark "
    "initializes the watermark to the unix epoch and a watermarked "
    "dedup DROPS rows at-or-before the current watermark, so an event "
    "timestamped exactly 1970-01-01T00:00:00 is 'late' before the "
    "first batch runs; a production gate rejects the zero sentinel at "
    "ingestion (it is indistinguishable from a missing timestamp), and "
    "both engines apply that guard here.",
)
def q43_streaming_dedup(spark: SparkSession, sf_dir: str):
    stream = events_stream(spark, sf_dir).filter(F.expr("unix_micros(ts) > 0"))
    deduped = dedup_first_stream(stream)
    out = run_to_memory(deduped, "q43_streaming_dedup_out", "append")
    return out.groupBy("user_id").agg(F.count("*").alias("n_dias"))


@register(
    "q41_forecast_demand",
    None,  # pyspark.ml models are not SQL-expressible → rows-only check
    doc="Demand forecasting (U3/U4, app_calculo_necesidad_recepción_call_"
    "center.py:553-713): hourly demand features → 70/30 split seed 42 → "
    "LinearRegression vs GBTRegressor → best-by-R² → (weekday × hour) "
    "grid inference clamped ≥ 0.",
)
def q41_forecast_demand(spark: SparkSession, sf_dir: str):
    from .ml.forecast import demand_features, forecast_grid, train_best_forecaster
    from .registry import load_table

    feats = demand_features(load_table(spark, sf_dir, "events"))
    model, _metrics = train_best_forecaster(feats, seed=42)
    return forecast_grid(spark, model)


@register(
    "q104_demand_features",
    """
    WITH k AS (
      SELECT CAST(ts AS DATE) AS fecha, CAST(hour(ts) AS BIGINT) AS hora
      FROM events
    ),
    d AS (SELECT fecha, hora, COUNT(*) AS n FROM k GROUP BY 1, 2)
    SELECT fecha, hora,
           CAST(isodow(fecha) - 1 AS BIGINT) AS dia_semana,
           CAST(month(fecha) AS BIGINT) AS mes,
           CAST(day(fecha) AS BIGINT) AS dia_mes,
           CAST(floor((day(fecha) - 1) / 7) + 1 AS BIGINT) AS semana_mes,
           CAST(n AS DOUBLE) AS demanda
    FROM d
    """,
    doc="The q41 forecaster's feature build as its own hard-oracle surface "
    "(U3 feature half, app_calculo_necesidad_recepción_call_center.py:"
    "553-618): hourly demand counts keyed by (date, hour) with calendar "
    "features — weekday Monday=0 (F21), month, day-of-month, "
    "week-of-month (F21 closed form). Splitting this out leaves only the "
    "genuinely non-SQL-expressible model fit/predict on the rows-only "
    "contract path. One count aggregation; every feature is a per-row "
    "scan expression over the group key.",
)
def q104_demand_features(spark: SparkSession, sf_dir: str):
    from .ml.forecast import demand_features
    from .registry import load_table

    return demand_features(load_table(spark, sf_dir, "events"))


def _q151_oracle() -> str:
    """The oracle is assembled from the SAME generated expression strings
    the Spark arm evaluates (ml/forecast.py: lr_stat_exprs /
    cholesky_solve_exprs / lr_grid_pred_expr) — identical IEEE-754
    expression trees over exact-integer sufficient statistics, so the
    fitted coefficients and grid predictions are bit-identical across
    engines, not merely close."""
    from .ml.forecast import (
        cholesky_solve_exprs,
        lr_grid_pred_expr,
        lr_stat_exprs,
    )

    from .ml.forecast import N_CORE

    stats = ", ".join(lr_stat_exprs(N_CORE))
    solve = ", ".join(
        f"{e} AS {n}" for n, e in cholesky_solve_exprs(N_CORE + 1)
    )
    return f"""
    WITH k AS (
      SELECT CAST(ts AS DATE) AS fecha, CAST(hour(ts) AS BIGINT) AS hora
      FROM events
    ),
    d AS (SELECT fecha, hora, COUNT(*) AS n FROM k GROUP BY 1, 2),
    xy AS (
      SELECT CAST(isodow(fecha) - 1 AS BIGINT) AS x1,
             hora AS x2,
             CAST(day(fecha) AS BIGINT) AS x3,
             n AS y
      FROM d
    ),
    s AS (SELECT {stats} FROM xy),
    sol AS (SELECT {solve} FROM s),
    grid AS (SELECT d.range AS dia_semana, h.range AS hora
             FROM range(0, 7) d, range(0, 24) h)
    SELECT dia_semana, hora, {lr_grid_pred_expr()} AS demanda_lr
    FROM grid, sol
    """


@register(
    "q151_lr_forecast_grid",
    _q151_oracle(),
    doc="The q41 forecaster's LinearRegression arm, closed-form, with a "
    "HARD oracle (U4 predict surface, app_calculo_necesidad_recepción_"
    "call_center.py:620-713, 1305-1389): demand features → exact-integer "
    "OLS sufficient statistics (q89's quantization discipline, "
    "generalized to multivariate normal equations over the core "
    "weekday/hour/day-of-month features — see CORE_FEATURES for why "
    "mes/semana_mes are excluded) → unrolled-Cholesky solve "
    "as a 1-row expression DAG → (weekday x hour) grid predictions "
    "clamped >= 0. Spark and DuckDB evaluate the SAME generated "
    "expression strings, so results match bit-for-bit; only q41's "
    "best-of-3 model SELECTION remains rows-only. One aggregation "
    "shuffle at any scale; the solve and grid are constant-size.",
)
def q151_lr_forecast_grid(spark: SparkSession, sf_dir: str):
    from .ml.forecast import lr_forecast_closed_form
    from .registry import load_table

    return lr_forecast_closed_form(spark, load_table(spark, sf_dir, "events"))


_SESSION_ORACLE = """
    WITH t AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM t
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, sid
    """


@register(
    "q56_sessionize",
    _SESSION_ORACLE,
    doc="Gap-based sessionization (30-min inactivity gap) per user via "
    "Spark's native session_window — the merging-window aggregate a "
    "training-data pipeline uses for behavioral grouping. Batch mode here; "
    "the identical expression runs under readStream with a watermark. One "
    "shuffle on user_id; the oracle is the classic lag-gap cumulative-sum "
    "sessionization (session_end = last event + gap, matching Spark).",
)
def q56_sessionize(spark: SparkSession, sf_dir: str):
    from .registry import dsum, load_table

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "q69_streaming_sessionize",
    _SESSION_ORACLE,
    doc="q56's gap sessionization executed by the STREAMING engine "
    "(readStream → watermark → session_window → memory sink, run to "
    "completion): the identical session definition under both execution "
    "modes, hash-checked against the same batch oracle — the unification "
    "claim in q56's doc, now proved rather than asserted. Complete-mode "
    "backfill emits every session; production uses append mode, where the "
    "1-day watermark bounds state and finalizes sessions as it passes them.",
)
def q69_streaming_sessionize(spark: SparkSession, sf_dir: str):
    from .streaming.temporal import sessionized_stream

    return run_to_memory(
        sessionized_stream(events_stream(spark, sf_dir)),
        "q69_streaming_sessionize_out",
        "complete",
    )


@register(
    "q58_stateful_user_stats",
    """
    SELECT user_id, COUNT(*) AS n_events,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
           MAX(value) AS max_value,
           epoch_us(MAX(ts)) AS last_ts_us
    FROM events GROUP BY user_id
    """,
    doc="Custom stateful streaming operator (applyInPandasWithState, the "
    "brief's arbitrary-state surface): per-user running profile held in "
    "explicit group state, Arrow-batched into Python per key. Bounded "
    "single-batch backfill => emitted rows equal the batch groupBy, which "
    "the oracle checks exactly (all measures arrival-order independent).",
)
def q58_stateful_user_stats(spark: SparkSession, sf_dir: str):
    from .streaming.temporal import (
        python_stateful_partitions,
        stateful_user_stats,
    )

    # Python-boundary-bound stateful op: state partitions scale with the
    # source size (sf1: 8 -> 32 measured 11.1 s -> 5.3 s min-of-3 — see
    # python_stateful_partitions)
    out = run_to_memory(
        stateful_user_stats(events_stream(spark, sf_dir)),
        "q58_stateful_user_stats_out",
        "append",
        state_partitions=python_stateful_partitions(spark, sf_dir),
    )
    return out


@register(
    "q90_stream_static_join",
    """
    WITH w(event_type, weight) AS (
      VALUES ('click', 0.5), ('view', 1.0), ('purchase', 3.0),
             ('signup', 2.0), ('error', 1.5)
    )
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           e.event_type, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value * weight AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
             AS weighted_value
    FROM events e JOIN w USING (event_type)
    GROUP BY 1, 2
    """,
    doc="Stream-static enrichment join (the J1 broadcast-lookup family "
    "under the streaming engine): each micro-batch broadcast-joins a "
    "static weight dimension — no stream-side shuffle for the join — "
    "then rolls tumbling 1-hour weighted demand. Complete-mode bounded "
    "backfill vs the equivalent batch join+aggregate oracle. Weights "
    "have one decimal so value*weight is exact in DECIMAL(25,6) on both "
    "engines.",
)
def q90_stream_static_join(spark: SparkSession, sf_dir: str):
    from .streaming.temporal import stream_static_weighted

    weights = spark.createDataFrame(
        [("click", 0.5), ("view", 1.0), ("purchase", 3.0),
         ("signup", 2.0), ("error", 1.5)],
        ["event_type", "weight"],
    )
    agg = stream_static_weighted(events_stream(spark, sf_dir), weights)
    return run_to_memory(agg, "q90_stream_static_join_out", "complete")


@register(
    "q91_streaming_sliding",
    """
    WITH x AS (
      SELECT event_type,
             (CAST(floor(epoch(ts) / 900) AS BIGINT) - k) * 900 AS ws
      FROM events, UNNEST(generate_series(0, 3)) AS t(k)
    )
    SELECT CAST(to_timestamp(ws) AS TIMESTAMP) AS window_start,
           event_type, COUNT(*) AS n
    FROM x GROUP BY 1, 2
    """,
    doc="Streaming sliding-window counts (1-hour width, 15-minute slide): "
    "every event lands in exactly width/slide = 4 overlapping windows. "
    "Complete-mode bounded backfill; the oracle materializes the same 4 "
    "windows per event arithmetically (floor(epoch/slide) - k). State is "
    "O(active windows x types); at scale the watermark closes windows "
    "and bounds it — the tumbling/sliding/session trio is now covered.",
)
def q91_streaming_sliding(spark: SparkSession, sf_dir: str):
    from .streaming.temporal import events_stream, run_to_memory

    agg = (
        events_stream(spark, sf_dir)
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    return run_to_memory(agg, "q91_streaming_sliding_out", "complete")


@register(
    "q95_stream_stream_join",
    """
    SELECT v.user_id, v.event_id AS click_id,
           p.event_id AS purchase_id,
           p.value AS purchase_value,
           epoch(p.ts) - epoch(v.ts) AS secs_to_purchase
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'click'
     AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
    doc="Stream-stream interval join (attribution): clicks joined to the "
    "same user's purchases within 1 hour, BOTH sides live streams with "
    "watermarks — the hardest stateful-join shape Structured Streaming "
    "supports, closing the streaming operator matrix (tumbling/sliding/"
    "session windows, dedup, stream-static, stream-stream). The time "
    "bound on both event times makes join state evictable: a buffered "
    "click is dropped once the purchase watermark passes click_ts + "
    "horizon. Bounded append-mode backfill vs the equivalent batch "
    "interval self-join.",
)
def q95_stream_stream_join(spark: SparkSession, sf_dir: str):
    from .streaming.temporal import attribution_join

    clicks = events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    )
    purchases = events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    return run_to_memory(
        attribution_join(clicks, purchases),
        "q95_stream_stream_join_out",
        "append",
    )


@register(
    "q113_streaming_heavy_hitters",
    """
    WITH c AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    t AS (SELECT *,
                 CAST(SUM(n) OVER (PARTITION BY window_start) AS BIGINT)
                   AS window_total
          FROM c)
    SELECT window_start, event_type, n, window_total
    FROM t WHERE n >= CEIL(0.3 * window_total)
    """,
    doc="Streaming windowed heavy hitters: the real-time form of q106's "
    "governance gate — tumbling 1-hour counts per event_type via "
    "readStream -> window() -> complete-mode memory sink (q40's exact "
    "streaming plan), then the per-window share gate (n >= ceil(0.3 x "
    "window total)) runs on the sink output, i.e. the serving-layer "
    "read a monitoring dashboard would issue. Streaming state is "
    "bounded by (hours x event types); the gate itself is a window "
    "function over the (tiny) aggregated result, never the raw stream. "
    "Oracle: the equivalent batch aggregation + share filter.",
)
def q113_streaming_heavy_hitters(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    s = events_stream(spark, sf_dir)
    counts = (
        s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n"
        )
    )
    batch = run_to_memory(counts, "q113_hh_out", "complete")
    wt = Window.partitionBy("window_start")
    return (
        batch.withColumn("window_total", F.sum("n").over(wt))
        .filter(
            F.col("n")
            >= F.ceil(F.lit(0.3) * F.col("window_total").cast("double"))
        )
        .select("window_start", "event_type", "n", "window_total")
    )


@register(
    "q131_streaming_quality_gate",
    r"""
    WITH m AS (
      SELECT lang,
             len(list_filter(str_split_regex(trim(text), '\s+'),
                             x -> x <> '')) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS punct_ratio,
             CASE WHEN len(list_filter(str_split_regex(trim(text), '\s+'),
                                       x -> x <> '')) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(
                         list_filter(str_split_regex(trim(text), '\s+'),
                                     x -> x <> ''))) AS DOUBLE)
                       / len(list_filter(str_split_regex(trim(text), '\s+'),
                                         x -> x <> ''))
             END AS dup_word_frac
      FROM documents
    ),
    s AS (
      SELECT lang, CASE WHEN n_tokens >= 10 AND punct_ratio < 0.3
                         AND dup_word_frac < 0.5 THEN 1 ELSE 0 END AS ok
      FROM m
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ok) AS BIGINT) AS n_accepted,
           CAST(COUNT(*) - SUM(ok) AS BIGINT) AS n_rejected
    FROM s GROUP BY lang
    """,
    doc="Streaming corpus-ingestion quality gate: documents arrive on a "
    "file-source stream, each scored with the scan-speed quality "
    "(token count, punctuation ratio) and repetition (dup-word "
    "fraction) expressions, rolled up to per-language accept/reject "
    "counts in complete mode — the live intake dashboard in front of "
    "the batch dedup stages. Per-row scoring is stateless; streaming "
    "state is only the bounded per-language counters. The oracle is "
    "the identical batch gate over the same table, which complete-mode "
    "output must equal exactly.",
)
def q131_streaming_quality_gate(spark: SparkSession, sf_dir: str):
    from .streaming.temporal import (
        documents_stream,
        quality_gate_stats,
        run_to_memory,
    )

    stats = quality_gate_stats(documents_stream(spark, sf_dir))
    return run_to_memory(stats, "q131_quality_gate_out", "complete")


def _q156_oracle() -> str:
    # the SAME SQL as q155: the bloom prefilter AND the execution engine
    # (batch vs Structured Streaming) are both transparent to the result
    from .queries_llm import O_DECON_BLOOM

    return O_DECON_BLOOM


@register(
    "q156_streaming_decontaminate",
    _q156_oracle(),
    doc="The q155 decontamination gate under Structured Streaming, "
    "proving the batch/streaming unification of the hygiene stack: "
    "corpus documents arrive on a file-source stream, are shingled and "
    "probed against the SAME literal bloom bitmap (a pure scan "
    "expression — streaming-safe by construction), and survivors flow "
    "through a STATELESS stream-static equi-join with the capped bench "
    "shingle frame into an append-mode foreachBatch export that reduces "
    "each micro-batch to per-(doc,bench) partial counts DISTRIBUTEDLY "
    "(decomposable: a downstream SUM re-aggregates across batches — "
    "chained streaming aggregations are unsupported, and a production "
    "gate emits match events to Kafka/Delta with the same consumer-side "
    "rollup; the raw-pair memory sink was the r10 sf1 bench's one "
    "super-linear row, 96x pair growth collected on the driver). "
    "The whole streaming plan holds ZERO state: filter + explode + "
    "bloom probe + broadcast stream-static join, so there is no "
    "watermark to tune and per-micro-batch cost is pure scan work. "
    "Oracle: identical to q155 — mode-invariance is the claim.",
)
def q156_streaming_decontaminate(spark: SparkSession, sf_dir: str):
    from .llm.dedup import (
        BLOOM_K,
        BLOOM_M_BITS,
        _bench_grams,
        _rollup,
        bloom_probe_filter,
        shingles,
    )
    from .registry import load_table
    from .streaming.temporal import documents_stream, run_append_partials

    docs = load_table(spark, sf_dir, "documents")
    b, bits = _bench_grams(
        docs.filter(F.col("doc_id") % 37 == 0), "text", "doc_id", 3, 10,
        (BLOOM_M_BITS, BLOOM_K),
    )

    stream = documents_stream(spark, sf_dir).filter(F.col("doc_id") % 37 != 0)
    # the file-source micro-batch arrives one-partition-per-file: spread
    # the stateless shingle/probe scan across the executors (same finding
    # as quality_gate_stats — measured 9.2 -> ~4 s at sf0.1)
    t = stream.repartition(32).select(
        "doc_id", F.explode(shingles(F.col("text"), 3)).alias("g")
    )
    surv = t.filter(bloom_probe_filter(F.col("g"), bits, BLOOM_M_BITS, BLOOM_K))
    # build-side hint: the materialised b carries a join-size estimate,
    # not its real size — see llm.dedup.decontaminate_bloom
    matched = surv.join(b.hint("shuffle_hash"), "g").select("doc_id", "b_id")

    # the matched-pair stream grows ~96x from sf0.1 to sf1 (64,345 ->
    # 6,181,482 rows — both join sides grow with the corpus until the
    # bench df cap binds), so the raw-row memory sink (driver collect)
    # was the one super-linear cost in the r10 sf1 bench (155 s vs the
    # batch q155's 10.3 s). Per-batch partial counts are decomposable
    # (SUM re-aggregates across micro-batches), so the sink volume is
    # distinct pairs, reduced distributedly — bit-identical rollup.
    def _partial(bdf):
        return bdf.groupBy("doc_id", "b_id").agg(
            F.count(F.lit(1)).alias("n_part")
        )

    def _finalize(parts):
        return _rollup(parts, 2, F.sum("n_part"))

    return run_append_partials(
        matched, "q156_streaming_decontaminate_out", _partial, _finalize
    )


def _streaming_hll_oracle() -> str:
    from .llm.sketches import hll_estimate_exprs, hll_register_exprs

    reg = hll_register_exprs("user_id", p=6, engine="duckdb")
    est = hll_estimate_exprs(p=6)
    return f"""
    WITH keyed AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             {reg["bucket"]} AS bucket, {reg["rho"]} AS rho
      FROM events WHERE user_id IS NOT NULL
    ),
    registers AS (
      SELECT day, bucket, MAX(rho) AS r FROM keyed GROUP BY day, bucket
    ),
    per_group AS (
      SELECT day, COUNT(*) AS n_set,
             SUM(CAST(1 AS BIGINT)
                   << CAST({reg["w_bits"] + 1} - r AS INT)) AS s_set
      FROM registers GROUP BY day
    )
    SELECT day, n_set, {est["raw_est"]} AS raw_est, {est["est"]} AS hll_est
    FROM per_group
    """


@register(
    "q161_streaming_hll",
    _streaming_hll_oracle(),
    doc="Streaming HyperLogLog: daily distinct users maintained as "
    "per-(day, register) max-rho streaming state — the real-time "
    "cardinality dashboard a pipeline keeps. The reason the sketch "
    "beats streaming COUNT(DISTINCT) is STATE SIZE: exact distinct "
    "state grows with the number of distinct keys per day (billions), "
    "while register state is fixed at days x m=64 rows regardless of "
    "traffic, and the per-batch update is an associative max — no "
    "rescan, no key explosion. The estimate rollup runs on the sink "
    "output (serving-layer read). Oracle: the identical register/"
    "estimate expression strings over the batch table — streaming and "
    "batch answers are bit-identical (mode invariance, the q155/q156 "
    "pairing convention with q159's batch sketch).",
)
def q161_streaming_hll(spark: SparkSession, sf_dir: str):
    from .llm.sketches import hll_estimate_exprs, hll_register_exprs

    reg = hll_register_exprs("user_id", p=6, engine="spark")
    est = hll_estimate_exprs(p=6)
    s = events_stream(spark, sf_dir)
    regs = (
        s.filter(F.expr("user_id is not null"))
        .selectExpr(
            "ts", f"{reg['bucket']} as bucket", f"{reg['rho']} as rho"
        )
        .groupBy(F.window("ts", "1 day").alias("w"), "bucket")
        .agg(F.max("rho").alias("r"))
        .select(F.col("w.start").cast("date").alias("day"), "bucket", "r")
    )
    batch = run_to_memory(regs, "q161_hll_regs", "complete")
    per = batch.groupBy("day").agg(
        F.expr("count(*)").alias("n_set"),
        F.expr(
            f"sum(shiftleft(cast(1 as bigint), "
            f"cast({reg['w_bits'] + 1} - r as int)))"
        ).alias("s_set"),
    )
    return per.selectExpr(
        "day",
        "n_set",
        f"{est['raw_est']} as raw_est",
        f"{est['est']} as hll_est",
    )


def _streaming_cms_oracle() -> str:
    from .llm.sketches import cms_cell_exprs

    D, W = 4, 256

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
    sk1 AS ({build("e1")}),
    panel AS (SELECT DISTINCT user_id FROM e1 WHERE user_id % 13 = 0),
    probes AS ({probes}),
    pest AS (SELECT p.user_id, MIN(COALESCE(s.cnt, 0)) AS est
             FROM probes p LEFT JOIN sk1 s USING (j, cell) GROUP BY 1),
    pexact AS (SELECT user_id, COUNT(*) AS ex FROM e1 GROUP BY 1)
    SELECT CAST(p.user_id AS VARCHAR) AS key,
           CAST(pe.est AS BIGINT) AS est, CAST(px.ex AS BIGINT) AS exact
    FROM panel p JOIN pest pe USING (user_id)
    JOIN pexact px USING (user_id)
    """


@register(
    "q174_streaming_cms",
    _streaming_cms_oracle(),
    doc="Streaming Count-Min sketch: the week-1 counter grid maintained "
    "as streaming aggregation state — d*w = 1024 counter rows "
    "REGARDLESS of traffic (the same fixed-state argument as q161's "
    "streaming HLL, here for frequencies instead of cardinality); each "
    "micro-batch folds in via the associative count. Point estimates "
    "for the key panel run against the SINK output (serving-layer "
    "read) with the exact batch counts as the audit arm. Oracle: the "
    "identical cell expressions over the batch table — streaming and "
    "batch grids are bit-identical (mode invariance, the q155/q156 "
    "and q159/q161 pairing convention with q171's batch sketch).",
)
def q174_streaming_cms(spark: SparkSession, sf_dir: str):
    from .llm.sketches import cms_cell_exprs, cms_point_estimates
    from .streaming.temporal import events_stream, run_to_memory

    D, W = 4, 256
    cells = cms_cell_exprs("user_id", D, W, "cms", "spark")
    stack_args = ", ".join(f"{j}, {c}" for j, c in enumerate(cells))
    s = events_stream(spark, sf_dir)
    grid = (
        s.filter("user_id is not null and ts < timestamp'2024-01-08'")
        .selectExpr(f"stack({D}, {stack_args}) as (j, cell)")
        .groupBy("j", "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sk1 = run_to_memory(grid, "q174_cms_grid", "complete")
    ev = load_table(spark, sf_dir, "events").filter("user_id is not null")
    e1 = ev.filter("ts < timestamp'2024-01-08'").select("user_id")
    panel = e1.filter("user_id % 13 = 0").distinct()
    pest = cms_point_estimates(sk1, panel, "user_id", D, W, "cms")
    pexact = e1.groupBy("user_id").agg(F.count(F.lit(1)).alias("ex"))
    return (
        panel.join(pest, "user_id")
        .join(pexact, "user_id")
        .selectExpr(
            "cast(user_id as string) as key",
            "cast(est as bigint) as est",
            "cast(ex as bigint) as exact",
        )
    )
