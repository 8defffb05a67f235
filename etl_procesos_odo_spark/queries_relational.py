"""Relational query surface — SURVEY.md §2.1–2.8 operators, one
oracle-checked query each, over the harness star schema.

Each query cites the reference behavior it rebuilds (file:line into
/root/reference) and the SURVEY.md §2 operator ids it covers.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from .functions.datetime_fns import (
    excel_serial_to_date,
    parse_spanish_long_date,
    period_bucket,
    spanish_long_date,
    ts_parse_multi,
    weekday_monday0,
)
from .functions.text_fns import phone_normalize
from .operators.aggregates import (
    avg_of_daily_counts,
    pareto,
    percent_of_total,
    pivot_count,
    with_total_row,
)
from .operators.joins import broadcast_dim_join, spine_left_join_fill
from .operators.partitioner import balanced_partition
from .operators.windows import dedup_first, top_n_per_group
from .registry import davg, dsum, load_table, o_davg, o_dsum, register
from .session import materialize


EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


# ---------------------------------------------------------------------------
# Aggregations / filters over lineitem & orders
# ---------------------------------------------------------------------------

@register(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {o_dsum('l_quantity')} AS sum_qty,
           {o_dsum('l_extendedprice')} AS sum_base_price,
           {o_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {o_davg('l_quantity')} AS avg_qty,
           {o_davg('l_extendedprice')} AS avg_price,
           {o_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="A1/A6/A8 multi-aggregate group (TPC-H Q1 shape); P6 date filter. "
    "Reference analog: grouped measure tables, e.g. "
    "app_indicadores_modelo_atencion.py:216-247.",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str):
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02"
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        dsum(disc_price, "sum_disc_price"),
        davg("l_quantity", "avg_qty"),
        davg("l_extendedprice", "avg_price"),
        davg("l_discount", "avg_disc"),
        F.count("*").alias("count_order"),
    )


@register(
    "q02_filter_project",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_type IN ('click', 'view')
      AND value > 50.0
      AND value IS NOT NULL
      AND NOT (upper(props) LIKE '%"K": 1%')
      AND ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts <  TIMESTAMP '2024-01-25 00:00:00'
    """,
    doc="P1 projection, P2/P3 equality+IN filters (app.py:281-305), "
    "P4 negated contains (app.py:287-292), P6 date range "
    "(app_indicadores_modelo_atencion.py:130-133), P7 null guard.",
)
def q02_filter_project(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        F.col("event_type").isin("click", "view")
        & (F.col("value") > 50.0)
        & F.col("value").isNotNull()
        & ~F.upper(F.col("props")).contains('"K": 1')
        & (F.col("ts") >= "2024-01-05")
        & (F.col("ts") < "2024-01-25")
    ).select("event_id", "user_id", "event_type", "value")


@register(
    "q03_dim_join_agg",
    f"""
    SELECT r_name, COUNT(*) AS n_customers, {o_davg('c_acctbal')} AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="J1/J2 broadcast dim lookup joins (app_confirmaciones.py:150-177; "
    "app_calculador_recursos_modelo_atencion.py:196-201) + grouped avg A5. "
    "Both dims are bounded → explicit broadcast, fact side never shuffles "
    "for the join.",
)
def q03_dim_join_agg(spark: SparkSession, sf_dir: str):
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = broadcast_dim_join(
        broadcast_dim_join(
            cust, nation, on=cust.c_nationkey == nation.n_nationkey, how="inner"
        ),
        region,
        on=F.col("n_regionkey") == region.r_regionkey,
        how="inner",
    )
    return joined.groupBy("r_name").agg(
        F.count("*").alias("n_customers"), davg("c_acctbal", "avg_acctbal")
    )


@register(
    "q04_semi_join",
    """
    SELECT c_mktsegment, COUNT(*) AS n_active
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    GROUP BY c_mktsegment
    """,
    doc="J5 semi-join membership (app.py:160,166) as left_semi — no "
    "duplication, no shuffle of payload columns.",
)
def q04_semi_join(spark: SparkSession, sf_dir: str):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        cust.join(orders, on="c_custkey", how="left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_active"))
    )


@register(
    "q05_anti_join",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    doc="X3 set-difference validation (unassigned = selected − assigned, "
    "app.py:262-269) as left_anti join.",
)
def q05_anti_join(spark: SparkSession, sf_dir: str):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return cust.join(orders, on="c_custkey", how="left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "q06_date_spine_fill",
    """
    WITH rng AS (
      SELECT MIN(CAST(o_orderdate AS DATE)) AS d0, MAX(CAST(o_orderdate AS DATE)) AS d1
      FROM orders
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS fecha
      FROM rng
    ),
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS fecha, COUNT(*) AS n
      FROM orders GROUP BY 1
    )
    SELECT s.fecha, COALESCE(d.n, 0) AS n
    FROM spine s LEFT JOIN daily d USING (fecha)
    """,
    doc="G3 calendar spine (pd.date_range, "
    "app_indicadores_modelo_atencion.py:963-968) + J4 spine left join with "
    "0-fill (ibid.:963-976). Spine derived lazily from the data's min/max — "
    "no collect; the join side is a post-aggregate, so it broadcasts.",
)
def q06_date_spine_fill(spark: SparkSession, sf_dir: str):
    orders = load_table(spark, sf_dir, "orders")
    rng = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    spine = rng.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("fecha")
    )
    daily = orders.groupBy(F.to_date("o_orderdate").alias("fecha")).agg(
        F.count("*").alias("n")
    )
    return spine_left_join_fill(spine, daily, on="fecha", fill=0)


@register(
    "q07_avg_daily_by_dow",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, isodow(ts) - 1 AS dia, hour(ts) AS hora,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2, 3
    )
    SELECT dia, hora, CAST(SUM(n) AS DOUBLE) / COUNT(*) AS avg_eventos
    FROM daily GROUP BY dia, hora
    """,
    doc="A2 two-level avg-of-daily-counts "
    "(app_calculo_necesidad_recepción_call_center.py:250-255) — averages "
    "over days *with data* only, matching the reference. F21 weekday "
    "Monday=0 convention.",
)
def q07_avg_daily_by_dow(spark: SparkSession, sf_dir: str):
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("dia", weekday_monday0("ts"))
        .withColumn("hora", F.hour("ts").cast("long"))
    )
    return avg_of_daily_counts(
        ev, F.to_date("ts"), ["dia", "hora"], out_col="avg_eventos"
    )


@register(
    "q08_distinct_days",
    """
    SELECT event_type, COUNT(DISTINCT CAST(ts AS DATE)) AS n_dias, COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="A3 exact distinct count (days-per-key, "
    "app_calculo_necesidad_recepción_call_center.py:245-246). At 100 TB "
    "prefer approx_count_distinct; exact kept here for the oracle gate.",
)
def q08_distinct_days(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct(F.to_date("ts")).alias("n_dias"),
        F.count("*").alias("n"),
    )


@register(
    "q09_conditional_agg",
    """
    SELECT event_type,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) FILTER (WHERE value > 100) AS VARCHAR) AS DOUBLE)
             / COUNT(value) FILTER (WHERE value > 100) AS avg_value_high,
           MIN(value) FILTER (WHERE value > 0) AS min_pos,
           MAX(value) FILTER (WHERE value <> 60) AS max_not60,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="A8 conditional aggregates — avg over positives only, min excluding "
    "0, max excluding a sentinel (app_indicadores_modelo_atencion.py:232-241, "
    "296-318).",
)
def q09_conditional_agg(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    high = F.when(v > 100, v)
    return ev.groupBy("event_type").agg(
        (
            F.sum(high.cast("decimal(25,6)")).cast("double") / F.count(high)
        ).alias("avg_value_high"),
        F.min(F.when(v > 0, v)).alias("min_pos"),
        F.max(F.when(v != 60, v)).alias("max_not60"),
        F.count("*").alias("n"),
    )


@register(
    "q10_percent_of_total",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE) * 100.0 / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS pct
    FROM events GROUP BY event_type
    """,
    doc="A9 percent-of-total via empty-frame window, no driver collect "
    "(app_indicadores_modelo_atencion.py:469-472).",
)
def q10_percent_of_total(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    return percent_of_total(ev, ["event_type"], count_col="n", pct_col="pct")


@register(
    "q11_pivot_counts",
    """
    SELECT isodow(ts) - 1 AS dia,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS "click",
           COUNT(*) FILTER (WHERE event_type = 'view')     AS "view",
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS "purchase",
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS "signup",
           COUNT(*) FILTER (WHERE event_type = 'error')    AS "error",
           COUNT(*) FILTER (WHERE event_type IN
             ('click','view','purchase','signup','error')) AS "TOTAL"
    FROM events GROUP BY 1
    """,
    doc="A12 pivot/crosstab with explicit value list + A10/A11 TOTAL column "
    "(app_indicadores_modelo_atencion.py:523-543; "
    "indicador-modelo-vs-facturacion.py:693-733). Explicit pivot values — "
    "no distinct pre-scan, bounded row width at any scale. TOTAL sums the "
    "ENUMERATED columns (pandas crosstab margins semantics): rows whose "
    "pivot value is NULL or outside the list are not counted (r10 "
    "adversarial census pin).",
)
def q11_pivot_counts(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "dia", weekday_monday0("ts")
    )
    return pivot_count(ev, "dia", "event_type", EVENT_TYPES, total_col="TOTAL")


@register(
    "q12_pareto_brands",
    """
    WITH g AS (
      SELECT p_brand,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS dec
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand
    ),
    r AS (SELECT *, row_number() OVER (ORDER BY dec DESC, p_brand) AS rk FROM g),
    b AS (
      SELECT CASE WHEN rk <= 5 THEN p_brand ELSE 'OTROS' END AS p_brand,
             SUM(dec) AS dec, MIN(rk) AS rk
      FROM r GROUP BY 1
    )
    SELECT p_brand,
           CAST(CAST(dec AS VARCHAR) AS DOUBLE) AS valor,
           CAST(CAST(dec AS VARCHAR) AS DOUBLE) * 100.0 / CAST(CAST(SUM(dec) OVER () AS VARCHAR) AS DOUBLE) AS pct,
           CAST(CAST(SUM(dec) OVER (ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
             * 100.0 / CAST(CAST(SUM(dec) OVER () AS VARCHAR) AS DOUBLE) AS pct_acumulado
    FROM b
    """,
    doc="A13 Pareto: top-5 + OTROS + cumulative % "
    "(indicador-modelo-vs-facturacion.py:1012-1026); W5 running sum. "
    "Raw-data grouping happens once; rank/cumulative windows run on the "
    "aggregated (≤ #brands) rows in exact decimal arithmetic.",
)
def q12_pareto_brands(spark: SparkSession, sf_dir: str):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = broadcast_dim_join(
        li, part, on=li.l_partkey == part.p_partkey, how="inner"
    )
    measure = F.sum(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)")
    )
    return pareto(joined, "p_brand", measure, top_n=5)


@register(
    "q13_top_customers",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o_custkey = c_custkey
    GROUP BY 1, 2
    ORDER BY SUM(CAST(o_totalprice AS DECIMAL(25,6))) DESC, c_custkey
    LIMIT 10
    """,
    doc="W4 global top-N by aggregate (.nlargest(10), "
    "indicador-modelo-vs-facturacion.py:749-754). orderBy+limit compiles to "
    "TakeOrderedAndProject — per-partition top-N, no full sort. "
    "Deterministic tie-break on c_custkey.",
)
def q13_top_customers(spark: SparkSession, sf_dir: str):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    g = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("_dec"))
    )
    return (
        g.orderBy(F.desc("_dec"), F.col("c_custkey"))
        .limit(10)
        .select("c_custkey", "c_name", F.col("_dec").cast("double").alias("revenue"))
    )


@register(
    "q14_dedup_first",
    """
    SELECT user_id, CAST(ts AS DATE) AS fecha, event_id, event_type
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                               ORDER BY ts, event_id) = 1
    """,
    doc="W1 dedup keep-first per key after sort — first service per "
    "(paciente, sede, fecha) ordered by hora (app_confirmaciones.py:259-297) "
    "as ROW_NUMBER()=1. One shuffle on the key, linear in-partition pass.",
)
def q14_dedup_first(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "fecha", F.to_date("ts")
    )
    return dedup_first(
        ev, ["user_id", "fecha"], [F.col("ts"), F.col("event_id")]
    ).select("user_id", "fecha", "event_id", "event_type")


@register(
    "q15_lag_wait",
    """
    WITH t AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER w AS wait_us,
             CAST(ts AS DATE) = lag(CAST(ts AS DATE)) OVER w AS same_day
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, COUNT(*) AS n_esperas,
           CAST(SUM(wait_us) AS DOUBLE) / COUNT(*) / CAST(60000000 AS DOUBLE)
             AS avg_espera_min
    FROM t
    WHERE same_day AND wait_us > 0 AND wait_us < 3000000000
    GROUP BY user_id
    """,
    doc="W3 LAG-based sessionized wait time with same-day guard and "
    "0<espera<50min exclusion rules — the 72-line iterrows state machine at "
    "app_indicadores_modelo_atencion.py:1110-1182 as one window + filter. "
    "Exact integer microseconds until the final two divisions (P12 "
    "threshold guards).",
)
def q15_lag_wait(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    t = ev.select(
        "user_id",
        (us - F.lag(us).over(w)).alias("wait_us"),
        (F.to_date("ts") == F.lag(F.to_date("ts")).over(w)).alias("same_day"),
    )
    return (
        t.filter(
            F.col("same_day")
            & (F.col("wait_us") > 0)
            & (F.col("wait_us") < 3_000_000_000)
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_esperas"),
            (
                F.sum("wait_us").cast("double") / F.count("*") / F.lit(60000000.0)
            ).alias("avg_espera_min"),
        )
    )


@register(
    "q16_running_revenue",
    """
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS fecha,
             SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS dec
      FROM orders GROUP BY 1
    )
    SELECT fecha, CAST(CAST(dec AS VARCHAR) AS DOUBLE) AS revenue,
           -- string bridge (q98 convention): at sf1 the running total
           -- crosses 2^53 unscaled and a direct decimal->double cast
           -- double-rounds one ulp off between engines
           CAST(CAST(SUM(dec) OVER (ORDER BY fecha ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
             AS acumulado
    FROM d
    """,
    doc="W5 cumulative running sum (indicador-modelo-vs-facturacion.py:1026) "
    "over the daily aggregate — window runs on post-agg rows, kept in exact "
    "decimal so the running total is order-safe.",
)
def q16_running_revenue(spark: SparkSession, sf_dir: str):
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.to_date("o_orderdate").alias("fecha")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("_dec")
    )
    # asc_nulls_last pins the running order when a NULL order-date group
    # exists (Spark ASC is NULLS FIRST, DuckDB ASC is NULLS LAST — r10
    # adversarial pin, same class as the q182/q185 fixes)
    w = Window.orderBy(F.col("fecha").asc_nulls_last()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return d.select(
        "fecha",
        # string-bridge casts — see oracle note (exact past 2^53 unscaled)
        F.col("_dec").cast("string").cast("double").alias("revenue"),
        F.sum("_dec").over(w).cast("string").cast("double").alias("acumulado"),
    )


@register(
    "q17_rollup_total",
    """
    SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'TOTAL'
                ELSE o_orderstatus END AS o_orderstatus,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM orders GROUP BY ROLLUP(o_orderstatus)
    """,
    doc="A11 grand-TOTAL row append (app.py:383-392; "
    "app_indicadores_modelo_atencion.py:250-257) as ROLLUP — one pass, "
    "partial aggs reused, instead of the reference's concat of a second "
    "full aggregation.",
)
def q17_rollup_total(spark: SparkSession, sf_dir: str):
    orders = load_table(spark, sf_dir, "orders")
    return with_total_row(
        orders,
        "o_orderstatus",
        {
            "n": F.count("*"),
            "revenue": F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast(
                "double"
            ),
        },
    )


@register(
    "q18_set_ops",
    """
    SELECT
      (SELECT COUNT(*) FROM (SELECT c_nationkey FROM customer
                             UNION SELECT s_nationkey FROM supplier)) AS n_union,
      (SELECT COUNT(*) FROM (SELECT c_nationkey FROM customer
                             INTERSECT SELECT s_nationkey FROM supplier)) AS n_both,
      (SELECT COUNT(*) FROM (SELECT c_nationkey FROM customer
                             EXCEPT SELECT s_nationkey FROM supplier)) AS n_cust_only
    """,
    doc="X2 set union of distinct key sets "
    "(app_calculador_recursos_modelo_atencion.py:629-631) + X3 set "
    "difference (app.py:262-269). r13 plan: ONE tagged-union pass — "
    "union/intersect/subtract as separate subtrees re-scanned each "
    "side 3x and shuffled 6 distincts (12 scans in the executed "
    "plan); a per-key membership groupBy over the tagged union "
    "computes all three counts from 2 scans + 1 shuffle. NULL keys "
    "group like set ops compare them (both treat NULL = NULL), so "
    "results are identical by construction.",
)
def q18_set_ops(spark: SparkSession, sf_dir: str):
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("k"), F.lit(1).alias("_src")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("k"), F.lit(2).alias("_src")
    )
    member = (
        c.union(s)
        .groupBy("k")
        .agg(
            F.max(F.when(F.col("_src") == 1, 1).otherwise(0)).alias("in_c"),
            F.max(F.when(F.col("_src") == 2, 1).otherwise(0)).alias("in_s"),
        )
    )
    return member.agg(
        F.count(F.lit(1)).alias("n_union"),
        F.sum(F.col("in_c") * F.col("in_s")).cast("long").alias("n_both"),
        F.sum(F.col("in_c") * (1 - F.col("in_s"))).cast("long").alias(
            "n_cust_only"
        ),
    )


@register(
    "q19_balanced_partition",
    """
    WITH a AS (
      SELECT c_mktsegment,
             ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS particion
      FROM (SELECT DISTINCT c_mktsegment, c_custkey FROM customer)
    )
    SELECT c_mktsegment, CAST(particion AS BIGINT) AS particion,
           COUNT(*) AS n_keys
    FROM a GROUP BY 1, 2
    """,
    doc="X4 balanced deterministic partitioner (particion_equitativa, "
    "app.py:49-89) as ntile over a seeded-hash ordering. Membership is "
    "hash-order dependent (documented divergence from the RNG shuffle), but "
    "per-(unit, particion) sizes are ntile-determined — the oracle checks "
    "the balance invariant exactly: sizes differ ≤1, remainder to lowest "
    "part ids (app.py:77-87).",
)
def q19_balanced_partition(spark: SparkSession, sf_dir: str):
    cust = load_table(spark, sf_dir, "customer")
    assign = balanced_partition(cust, "c_mktsegment", "c_custkey", 4, seed=42)
    return assign.groupBy(
        "c_mktsegment", F.col("particion").cast("long").alias("particion")
    ).agg(F.count("*").alias("n_keys"))


@register(
    "q20_weekday_filter",
    """
    SELECT isodow(ts) - 1 AS dia, COUNT(*) AS n
    FROM events WHERE isodow(ts) - 1 < 5 GROUP BY 1
    """,
    doc="P11 weekday L-V filter (app_indicadores_modelo_atencion.py:185-192) "
    "with the Monday=0 convention wrapped once (F21, SURVEY.md §7 "
    "weekday-numbering watch-out).",
)
def q20_weekday_filter(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "dia", weekday_monday0("ts")
    )
    return ev.filter(F.col("dia") < 5).groupBy("dia").agg(F.count("*").alias("n"))


@register(
    "q21_weekly_revenue",
    """
    SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS semana,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM orders GROUP BY 1
    """,
    doc="F22 weekly period bucketing, Monday-start "
    "(indicador-modelo-vs-facturacion.py:605-635) — Spark date_trunc('week') "
    "matches the reference's date−dayofweek arithmetic.",
)
def q21_weekly_revenue(spark: SparkSession, sf_dir: str):
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        period_bucket("o_orderdate", "weekly").alias("semana")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast("double").alias(
            "revenue"
        ),
    )


@register(
    "q22_excel_serial",
    """
    WITH t AS (
      SELECT DATE '1899-12-30' + CAST(38000 + o_orderkey % 3000 AS INTEGER) AS fecha
      FROM orders
    )
    SELECT CAST(year(fecha) AS BIGINT) AS anio, COUNT(*) AS n
    FROM t GROUP BY 1
    """,
    doc="F6 Excel-serial→date, epoch 1899-12-30 "
    "(indicador-modelo-vs-facturacion.py:92-109; serials synthesized from "
    "orderkey since the star schema has no serial column). The ≥61 Lotus "
    "correction variant is property-tested in tests/test_functions.py.",
)
def q22_excel_serial(spark: SparkSession, sf_dir: str):
    orders = load_table(spark, sf_dir, "orders")
    serial = (F.lit(38000) + F.col("o_orderkey") % 3000).cast("double")
    return (
        orders.select(excel_serial_to_date(serial).alias("fecha"))
        .groupBy(F.year("fecha").cast("long").alias("anio"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "q23_time_grid_5min",
    """
    WITH t AS (
      SELECT TIMESTAMP '1970-01-01 00:00:00'
             + to_seconds(CAST(ceil(epoch(ts) / 300) * 300 AS BIGINT)) AS slot_ts
      FROM events
    )
    SELECT strftime(slot_ts, '%H:%M') AS slot, COUNT(*) AS n
    FROM t GROUP BY 1
    """,
    doc="F8 round-up to 5-min grid (app_calculador_recursos_modelo_atencion"
    ".py:105-122) + G1 slot labels + A4-style slot loads. Fractional epoch "
    "(cast ts as double) — Spark unix_timestamp would truncate seconds and "
    "mis-bucket boundary rows.",
)
def q23_time_grid_5min(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    epoch = F.col("ts").cast("double")
    slot_ts = F.timestamp_seconds(
        (F.ceil(epoch / 300) * 300).cast("long")
    )
    return (
        ev.select(F.date_format(slot_ts, "HH:mm").alias("slot"))
        .groupBy("slot")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q24_phone_rules",
    r"""
    WITH s AS (
      SELECT c_custkey,
             CASE CAST(c_custkey % 5 AS INTEGER)
               WHEN 0 THEN '3' || CAST(c_custkey * 7 % 100000000 AS VARCHAR)
               WHEN 1 THEN ''
               WHEN 2 THEN '60' || CAST(c_custkey * 7 % 100000000 AS VARCHAR)
               WHEN 3 THEN ' 3' || CAST(c_custkey * 7 % 100000000 AS VARCHAR) || '.0'
               ELSE NULL
             END AS movil,
             CASE CAST(c_custkey % 3 AS INTEGER)
               WHEN 0 THEN '6015551234'
               WHEN 1 THEN '3005554321'
               ELSE ''
             END AS fijo
      FROM customer
    ),
    c AS (
      SELECT c_custkey,
             regexp_replace(trim(COALESCE(movil, '')), '\.0$', '') AS m,
             regexp_replace(trim(fijo), '\.0$', '') AS f
      FROM s
    )
    SELECT c_custkey,
           CASE
             WHEN (m = '' OR m = 'nan') AND NOT (f = '' OR f = 'nan')
                  AND NOT starts_with(f, '60') THEN '+57' || f
             WHEN NOT (m = '' OR m = 'nan') AND starts_with(m, '3')
                  AND NOT starts_with(m, '60') THEN '+57' || m
             ELSE 'SIN TELÉFONO'
           END AS telefono
    FROM c
    """,
    doc="F18 phone-normalization ruleset (app_confirmaciones.py:203-224): "
    "trailing-'.0' strip, '+57' prefix on both the móvil rule and the fijo "
    "fallback, sentinel for everything else (the reference keeps its "
    "initializer for non-matching móvil). Inputs synthesized "
    "deterministically from c_custkey (the star schema has no phone column).",
)
def q24_phone_rules(spark: SparkSession, sf_dir: str):
    cust = load_table(spark, sf_dir, "customer")
    digits = (F.col("c_custkey") * 7 % 100000000).cast("string")
    movil = (
        F.when(F.col("c_custkey") % 5 == 0, F.concat(F.lit("3"), digits))
        .when(F.col("c_custkey") % 5 == 1, F.lit(""))
        .when(F.col("c_custkey") % 5 == 2, F.concat(F.lit("60"), digits))
        .when(
            F.col("c_custkey") % 5 == 3,
            F.concat(F.lit(" 3"), digits, F.lit(".0")),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    fijo = (
        F.when(F.col("c_custkey") % 3 == 0, F.lit("6015551234"))
        .when(F.col("c_custkey") % 3 == 1, F.lit("3005554321"))
        .otherwise(F.lit(""))
    )
    return cust.select(
        "c_custkey",
        phone_normalize(movil, fijo).alias("telefono"),
    )


@register(
    "q25_multiformat_dates",
    """
    WITH s AS (
      SELECT CASE CAST(o_orderkey % 3 AS INTEGER)
               WHEN 0 THEN strftime(o_orderdate, '%Y/%m/%d')
               WHEN 1 THEN strftime(o_orderdate, '%d-%m-%Y')
               ELSE strftime(o_orderdate, '%m/%d/%Y')
             END AS raw
      FROM orders
    ),
    p AS (
      SELECT COALESCE(try_strptime(raw, '%Y/%m/%d'),
                      try_strptime(raw, '%d-%m-%Y'),
                      try_strptime(raw, '%m/%d/%Y')) AS parsed
      FROM s
    )
    SELECT CAST(year(parsed) AS BIGINT) AS anio, COUNT(*) AS n,
           COUNT(*) FILTER (WHERE parsed IS NULL) AS n_unparsed
    FROM p GROUP BY 1
    """,
    doc="F1 multi-format datetime parse — try formats in order, null if "
    "none match (app_confirmaciones.py:42-59) as a coalesce of "
    "try_to_timestamp; strings synthesized in 3 formats from o_orderdate.",
)
def q25_multiformat_dates(spark: SparkSession, sf_dir: str):
    orders = load_table(spark, sf_dir, "orders")
    raw = (
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.date_format("o_orderdate", "yyyy/MM/dd"),
        )
        .when(
            F.col("o_orderkey") % 3 == 1,
            F.date_format("o_orderdate", "dd-MM-yyyy"),
        )
        .otherwise(F.date_format("o_orderdate", "MM/dd/yyyy"))
    )
    parsed = ts_parse_multi(raw, ["yyyy/MM/dd", "dd-MM-yyyy", "MM/dd/yyyy"])
    return (
        orders.select(parsed.alias("parsed"))
        .groupBy(F.year("parsed").cast("long").alias("anio"))
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("parsed").isNull(), 1)).alias("n_unparsed"),
        )
    )


@register(
    "q26_spanish_dates",
    """
    WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS fecha FROM orders)
    SELECT fecha,
           ['Lunes','Martes','Miércoles','Jueves','Viernes','Sábado','Domingo'][isodow(fecha)]
             || ', ' || CAST(day(fecha) AS VARCHAR) || ' de '
             || ['Enero','Febrero','Marzo','Abril','Mayo','Junio','Julio','Agosto',
                 'Septiembre','Octubre','Noviembre','Diciembre'][month(fecha)]
             || ' de ' || CAST(year(fecha) AS VARCHAR) AS etiqueta,
           fecha AS fecha_rt
    FROM d
    """,
    doc="F3 Spanish long-date format + F2 parse "
    "(app_confirmaciones.py:62-119) via lookup arrays — never JVM locale "
    "(SURVEY.md §7). The Spark side actually round-trips its formatted "
    "label through the parser; the oracle asserts the round-trip is the "
    "identity.",
)
def q26_spanish_dates(spark: SparkSession, sf_dir: str):
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(F.to_date("o_orderdate").alias("fecha")).distinct()
    e = d.withColumn("etiqueta", spanish_long_date(F.col("fecha")))
    return e.withColumn("fecha_rt", parse_spanish_long_date(F.col("etiqueta")))


@register(
    "q27_wide_status_counts",
    """
    SELECT l_orderkey,
           COUNT(*) FILTER (WHERE l_linestatus = 'O') AS n_open,
           COUNT(*) FILTER (WHERE l_linestatus = 'F') AS n_finished,
           COUNT(*) AS total
    FROM lineitem GROUP BY l_orderkey
    """,
    doc="A10 horizontal sum over a column family "
    "(app_calculador_recursos_modelo_atencion.py:279-291) — stays long "
    "until the final width-2 conditional-count projection; total is the "
    "row-wise sum of the family.",
)
def q27_wide_status_counts(spark: SparkSession, sf_dir: str):
    li = load_table(spark, sf_dir, "lineitem")
    n_open = F.count(F.when(F.col("l_linestatus") == "O", 1)).alias("n_open")
    n_fin = F.count(F.when(F.col("l_linestatus") == "F", 1)).alias("n_finished")
    out = li.groupBy("l_orderkey").agg(n_open, n_fin)
    return out.withColumn(
        "total", (F.col("n_open") + F.col("n_finished")).cast("long")
    )


@register(
    "q28_peak_hour",
    """
    WITH h AS (
      SELECT event_type, hour(ts) AS hora, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, hora AS hora_pico, n AS n_pico
    FROM h
    QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY n DESC, hora) = 1
    """,
    doc="A7 extrema-with-argmax (idxmax→hour-of-peak, "
    "app_calculo_necesidad_recepción_call_center.py:299-326) — top-1 per "
    "group window with deterministic tie-break on the lowest hour.",
)
def q28_peak_hour(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hora")
    ).agg(F.count("*").alias("n"))
    peak = top_n_per_group(h, ["event_type"], [F.desc("n"), F.col("hora")], 1)
    return peak.select(
        "event_type", F.col("hora").alias("hora_pico"), F.col("n").alias("n_pico")
    )


@register(
    "q29_classifiers",
    """
    WITH base AS (
      SELECT p_partkey, p_brand, p_type,
             CASE CAST(p_partkey % 3 AS INTEGER)
               WHEN 0 THEN 'Consulta General'
               WHEN 1 THEN 'procedimiento X'
               ELSE 'CONSULTA especializada'
             END AS actividad,
             CASE CAST(p_partkey % 4 AS INTEGER)
               WHEN 0 THEN 'Llamado Manual x'
               WHEN 1 THEN 'AUTOmatico'
               WHEN 2 THEN 'otra cosa'
               ELSE NULL
             END AS llamado_raw
      FROM part
      WHERE contains(upper(p_type), 'BRASS') OR contains(upper(p_type), 'STEEL')
         OR contains(upper(p_type), 'COPPER')
    ),
    cls AS (
      SELECT
        CASE WHEN p_brand IN ('Brand#11', 'Brand#12', 'Brand#13') THEN 'GrupoA'
             WHEN p_brand IN ('Brand#21', 'Brand#22', 'Brand#23') THEN 'GrupoB'
             ELSE NULL END AS empresa,
        CASE WHEN lower(trim(actividad)) LIKE 'consulta%' THEN 'Consulta'
             ELSE 'Procedimiento' END AS ubicacion,
        CASE WHEN llamado_raw IS NULL THEN 'NO CLASIFICADO'
             WHEN contains(lower(trim(llamado_raw)), 'manual') THEN 'MANUAL'
             WHEN contains(lower(trim(llamado_raw)), 'auto') THEN 'AUTOMÁTICO'
             ELSE 'OTRO' END AS llamado
      FROM base
    )
    SELECT empresa, ubicacion, llamado, COUNT(*) AS n
    FROM cls GROUP BY 1, 2, 3
    """,
    doc="P5 contains-any-of-keys filter (indicador-modelo-vs-facturacion.py"
    ":175-182 — implemented as a true per-key OR, diverging from the "
    "reference's '|'.join literal-contains bug) + F13 code-list classifier "
    "(app_calculo_necesidad_recepción_call_center.py:27-48) + F15 ubicación "
    "(app_confirmaciones.py:32-39) + F14 llamado classifier "
    "(app_indicadores_modelo_atencion.py:942-950).",
)
def q29_classifiers(spark: SparkSession, sf_dir: str):
    from .functions.text_fns import (
        classify_by_code_lists,
        classify_llamado,
        classify_ubicacion,
        contains_any,
    )

    part = load_table(spark, sf_dir, "part")
    base = part.filter(
        contains_any("p_type", ["BRASS", "STEEL", "COPPER"])
    ).select(
        "p_partkey",
        "p_brand",
        F.when(F.col("p_partkey") % 3 == 0, F.lit("Consulta General"))
        .when(F.col("p_partkey") % 3 == 1, F.lit("procedimiento X"))
        .otherwise(F.lit("CONSULTA especializada"))
        .alias("actividad"),
        F.when(F.col("p_partkey") % 4 == 0, F.lit("Llamado Manual x"))
        .when(F.col("p_partkey") % 4 == 1, F.lit("AUTOmatico"))
        .when(F.col("p_partkey") % 4 == 2, F.lit("otra cosa"))
        .otherwise(F.lit(None).cast("string"))
        .alias("llamado_raw"),
    )
    cls = base.select(
        classify_by_code_lists(
            "p_brand",
            {
                "GrupoA": ["Brand#11", "Brand#12", "Brand#13"],
                "GrupoB": ["Brand#21", "Brand#22", "Brand#23"],
            },
        ).alias("empresa"),
        classify_ubicacion("actividad").alias("ubicacion"),
        classify_llamado("llamado_raw").alias("llamado"),
    )
    return cls.groupBy("empresa", "ubicacion", "llamado").agg(
        F.count("*").alias("n")
    )


@register(
    "q44_time_scalars",
    """
    WITH t AS (
      SELECT o_orderkey,
             CAST(o_orderkey % 1440 AS DOUBLE) / 1440.0 AS frac
      FROM orders
    ),
    f AS (
      SELECT o_orderkey, CAST(round(frac * 24 * 60) AS BIGINT) AS total_min
      FROM t
    ),
    g AS (
      SELECT o_orderkey,
             CAST(floor(total_min / 60) AS BIGINT) % 24 AS h24,
             total_min % 60 AS mm
      FROM f
    )
    SELECT o_orderkey,
           CAST(CASE WHEN h24 % 12 = 0 THEN 12 ELSE h24 % 12 END AS VARCHAR)
             || ':' || lpad(CAST(mm AS VARCHAR), 2, '0')
             || ' ' || CASE WHEN h24 < 12 THEN 'AM' ELSE 'PM' END AS etiqueta,
           CAST(h24 AS DOUBLE) + CAST(mm AS DOUBLE) / 60 AS horas
    FROM g
    """,
    doc="F5 fraction-of-day → 'h:MM AM/PM' (app_confirmaciones.py:121-144) "
    "round-tripped through F11 'h:mm AM/PM' → decimal hours "
    "(app_confirmaciones.py:226-257); fractions synthesized from orderkey. "
    "The Spark side actually parses its own formatted label — the oracle "
    "computes both closed-form, so format+parse must be mutually inverse.",
)
def q44_time_scalars(spark: SparkSession, sf_dir: str):
    from .functions.datetime_fns import ampm_to_decimal_hours, day_fraction_to_ampm

    orders = load_table(spark, sf_dir, "orders")
    frac = (F.col("o_orderkey") % 1440).cast("double") / 1440.0
    labeled = orders.select(
        "o_orderkey", day_fraction_to_ampm(frac).alias("etiqueta")
    )
    # exchange barrier: without it CollapseProject inlines the etiqueta
    # string-builder into EVERY branch reference inside the decimal-hours
    # parser (~4x the expression work, measured); the hash exchange
    # materializes the narrow (key, string) frame once and spreads the
    # heavy parse across the cluster — ~30 bytes/row of shuffle buys back
    # the duplicated string evaluation at any scale. Explicit partition
    # count: AQE would otherwise coalesce the few-MB shuffle back to one
    # task, keeping the barrier but losing the parallelism.
    par = spark.sparkContext.defaultParallelism
    labeled = labeled.repartition(par, F.col("o_orderkey"))
    return labeled.select(
        "o_orderkey", "etiqueta", ampm_to_decimal_hours("etiqueta").alias("horas")
    )


@register(
    "q45_model_window_join",
    """
    WITH sedes (sede, fecha_inicio) AS (
      VALUES ('1-URGENT', DATE '1996-01-01'),
             ('2-HIGH', DATE '1997-06-01'),
             ('3-MEDIUM', DATE '1995-03-15'),
             ('4-NOT SPECIFIED', DATE '1998-01-01'),
             ('5-LOW', DATE '1996-09-01')
    ),
    o AS (
      SELECT o_orderpriority AS sede, o_orderdate, o_totalprice FROM orders
    )
    SELECT sede,
           CASE WHEN o_orderdate >= fecha_inicio THEN 'EN MODELO'
                ELSE 'FUERA DE MODELO' END AS estado,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM o JOIN sedes USING (sede)
    GROUP BY 1, 2
    """,
    doc="J6 dimension-condition (theta-like) classification join: rows "
    "split in/out-of-model by per-sede start dates from a config dim "
    "(indicador-modelo-vs-facturacion.py:516-546 with SEDES config "
    ":35-71) — broadcast the tiny dim, classify with a range predicate, "
    "aggregate; no row explosion at any scale.",
)
def q45_model_window_join(spark: SparkSession, sf_dir: str):
    import datetime as _dt

    orders = load_table(spark, sf_dir, "orders")
    sedes = spark.createDataFrame(
        [
            ("1-URGENT", _dt.date(1996, 1, 1)),
            ("2-HIGH", _dt.date(1997, 6, 1)),
            ("3-MEDIUM", _dt.date(1995, 3, 15)),
            ("4-NOT SPECIFIED", _dt.date(1998, 1, 1)),
            ("5-LOW", _dt.date(1996, 9, 1)),
        ],
        ["sede", "fecha_inicio"],
    )
    o = orders.select(
        F.col("o_orderpriority").alias("sede"), "o_orderdate", "o_totalprice"
    )
    joined = o.join(F.broadcast(sedes), on="sede")
    estado = F.when(
        F.col("o_orderdate") >= F.col("fecha_inicio"), F.lit("EN MODELO")
    ).otherwise(F.lit("FUERA DE MODELO"))
    return joined.groupBy("sede", estado.alias("estado")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .cast("double")
        .alias("revenue"),
    )


@register(
    "q46_constrained_partition",
    """
    WITH allowed (c_mktsegment, particion) AS (
      VALUES ('AUTOMOBILE', 1), ('AUTOMOBILE', 2),
             ('BUILDING', 3), ('BUILDING', 4), ('BUILDING', 5),
             ('FURNITURE', 1), ('FURNITURE', 3),
             ('HOUSEHOLD', 2), ('HOUSEHOLD', 4), ('HOUSEHOLD', 5),
             ('MACHINERY', 1)
    ),
    na AS (
      SELECT c_mktsegment, COUNT(*) AS n_parts,
             list_sort(list(particion)) AS parts
      FROM allowed GROUP BY 1
    ),
    keys AS (SELECT DISTINCT c_mktsegment, c_custkey FROM customer),
    rk AS (
      SELECT c_mktsegment, c_custkey,
             row_number() OVER (
               PARTITION BY c_mktsegment
               ORDER BY CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':42'), 1, 15) AS BIGINT),
                        c_custkey) AS rk
      FROM keys
    )
    SELECT r.c_mktsegment, r.c_custkey,
           CAST(parts[CAST((rk - 1) % n_parts + 1 AS INTEGER)] AS BIGINT) AS particion
    FROM rk r JOIN na USING (c_mktsegment)
    """,
    doc="X5 constrained partitioner (app.py:91-145): each unit restricted "
    "to a configured subset of partitions, keys round-robined across the "
    "unit's allowed parts by seeded-hash rank. md5 ordering makes full "
    "membership oracle-checkable.",
)
def q46_constrained_partition(spark: SparkSession, sf_dir: str):
    from .operators.partitioner import constrained_partition

    cust = load_table(spark, sf_dir, "customer")
    allowed = spark.createDataFrame(
        [
            ("AUTOMOBILE", 1), ("AUTOMOBILE", 2),
            ("BUILDING", 3), ("BUILDING", 4), ("BUILDING", 5),
            ("FURNITURE", 1), ("FURNITURE", 3),
            ("HOUSEHOLD", 2), ("HOUSEHOLD", 4), ("HOUSEHOLD", 5),
            ("MACHINERY", 1),
        ],
        ["c_mktsegment", "particion"],
    )
    assign = constrained_partition(
        cust, "c_mktsegment", "c_custkey", allowed, seed=42, hash_method="md5"
    )
    return assign.select(
        "c_mktsegment", "c_custkey", F.col("particion").cast("long").alias("particion")
    )


@register(
    "q59_scalar_kit",
    """
    SELECT event_id,
           translate(event_type, 'áéíóúüñÁÉÍÓÚÜÑ', 'aeiouunAEIOUUN') AS slug,
           -- COALESCE each part: composite_message_key keeps an EMPTY
           -- segment for a NULL field (fixed arity, so 'a||c' stays
           -- distinct from a two-field key) while bare concat_ws would
           -- silently drop it (r10 adversarial pin)
           concat_ws('|', COALESCE(event_type, ''),
                     COALESCE(CAST(CAST(ts AS DATE) AS VARCHAR), ''),
                     COALESCE(CAST(user_id AS VARCHAR), '')) AS msg_key,
           COALESCE(TRY_CAST(props AS DOUBLE), 1.0) AS props_num,
           ts - INTERVAL 30 MINUTE AS arrival_ts,
           CAST(FLOOR((day(ts) - 1) / 7) + 1 AS BIGINT) AS semana_del_mes
    FROM events
    """,
    doc="Scalar expression kit in one pass: accent fold (F17), composite "
    "message key (F19, app_confirmaciones.py:198-201), numeric-or-default "
    "(F24), minus-30-minutes arrival shift (F9, app_calculador_recursos_"
    "modelo_atencion.py:204-217), week-of-month (F21). All JVM-side "
    "codegen'd expressions — zero shuffles, full scan speed.",
)
def q59_scalar_kit(spark: SparkSession, sf_dir: str):
    from .functions.datetime_fns import minus_minutes, week_of_month
    from .functions.text_fns import (
        accent_fold,
        composite_message_key,
        numeric_or_default,
    )

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        accent_fold("event_type").alias("slug"),
        composite_message_key(
            [F.col("event_type"), F.to_date("ts").cast("string"), F.col("user_id")]
        ).alias("msg_key"),
        numeric_or_default("props", 1.0).alias("props_num"),
        minus_minutes("ts", 30).alias("arrival_ts"),
        week_of_month("ts").alias("semana_del_mes"),
    )


@register(
    "q60_slot_spine_load",
    """
    WITH slots AS (
      SELECT strftime(CAST(g AS TIMESTAMP), '%H:%M') AS slot
      FROM (SELECT unnest(generate_series(TIMESTAMP '2000-01-01 06:30:00',
                   TIMESTAMP '2000-01-01 12:00:00', INTERVAL 5 MINUTE)) AS g)
      UNION ALL
      SELECT strftime(CAST(g AS TIMESTAMP), '%H:%M') AS slot
      FROM (SELECT unnest(generate_series(TIMESTAMP '2000-01-01 12:05:00',
                   TIMESTAMP '2000-01-01 19:00:00', INTERVAL 5 MINUTE)) AS g)
    ),
    h AS (SELECT unnest(generate_series(0, 23)) AS hora),
    per_hour AS (
      SELECT hora, COUNT(slot) AS n_slots
      FROM h LEFT JOIN slots ON CAST(slot[1:2] AS BIGINT) = hora
      GROUP BY hora
    )
    SELECT hora, n_slots,
           CAST(SUM(n_slots) OVER (ORDER BY hora ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS acum_slots
    FROM per_hour
    """,
    doc="Generated-dimension composition: 5-min time-slot spine (G1, "
    "app_calculador_recursos_modelo_atencion.py:124-136) built as two "
    "half-day spines unioned by name (J7/X1), left-joined to the 0-23 "
    "hour spine (G2/J4) with 0-fill via count, and a running total (W5). "
    "Spines are sequence+explode on one-row frames — never a table scan.",
)
def q60_slot_spine_load(spark: SparkSession, sf_dir: str):
    from .operators.joins import union_all_by_name
    from .operators.spines import hour_spine, time_slot_spine
    from .operators.windows import cumulative_sum

    # reads no table, so no loader pins the TZ; the spine parses and
    # formats timestamps in the session TZ
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    slots = union_all_by_name(
        [
            time_slot_spine(spark, "06:30", "12:00"),
            time_slot_spine(spark, "12:05", "19:00"),
        ]
    )
    hours = hour_spine(spark)
    per_hour = (
        hours.join(
            slots,
            F.substring("slot", 1, 2).cast("long") == F.col("hora"),
            "left",
        )
        .groupBy("hora")
        .agg(F.count("slot").alias("n_slots"))
    )
    return cumulative_sum(per_hour, [F.col("hora")], "n_slots", "acum_slots")


@register(
    "q61_lag_carryforward",
    """
    WITH b AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'purchase'
                  THEN make_timestamp((CAST(FLOOR(epoch(ts)) AS BIGINT)
                                       + CAST(FLOOR(value) AS BIGINT)) * 1000000)
                  END AS fin
      FROM events
    ),
    p AS (
      SELECT event_id, user_id, ts,
             lag(COALESCE(fin, ts)) OVER
               (PARTITION BY user_id ORDER BY ts) AS prev_basis
      FROM b
    )
    SELECT event_id, user_id,
           CASE WHEN CAST(ts AS DATE) = CAST(prev_basis AS DATE)
                THEN (FLOOR(epoch(ts)) - FLOOR(epoch(prev_basis))) / 60.0
                END AS espera_min
    FROM p
    """,
    doc="W3 carry-forward wait time via the lag_wait_minutes operator "
    "(app_indicadores_modelo_atencion.py:1110-1182): finish timestamps "
    "exist only for purchase events (ts + floor(value) seconds); the wait "
    "basis is previous finish-or-arrival, with the same-day guard nulling "
    "cross-day waits. One window over (user_id, ts) — single shuffle.",
)
def q61_lag_carryforward(spark: SparkSession, sf_dir: str):
    from .operators.windows import lag_wait_minutes

    ev = load_table(spark, sf_dir, "events")
    b = ev.withColumn(
        "fin",
        F.when(
            F.col("event_type") == "purchase",
            F.timestamp_seconds(
                F.unix_timestamp("ts") + F.floor("value").cast("long")
            ),
        ),
    )
    out = lag_wait_minutes(b, "user_id", "ts", "fin", same_day_only=True)
    return out.select("event_id", "user_id", "espera_min")


@register(
    "q63_salted_segments",
    """
    SELECT c_mktsegment, COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="Skew-safe salted join (SCALE.md joins section): the big side's "
    "key is salted into 8 deterministic subkeys, the dim side replicated "
    "per salt, joined on (key, salt) — result provably identical to the "
    "plain join (the oracle IS the unsalted join). The manual remedy when "
    "one hot key would otherwise pin a single reducer at 100 TB.",
)
def q63_salted_segments(spark: SparkSession, sf_dir: str):
    from .operators.joins import salted_join

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = salted_join(ev, cust, "user_id", "c_custkey", "event_id", n_salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias(
            "total_value"
        ),
    )


@register(
    "q65_pivot_explicit_total",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P,
           COUNT(*) FILTER (WHERE o_orderstatus IN ('F','O','P')) AS total
    FROM orders GROUP BY o_orderpriority
    """,
    doc="A12 pivot with an EXPLICIT values list + TOTAL column — the "
    "scale-safe pivot form (SURVEY.md §7 watch-out: dynamic pivot needs a "
    "distinct-values job and unbounded output width; pinning the values "
    "makes the plan static and one-pass). TOTAL via expression over the "
    "pivoted columns, no second aggregation.",
)
def q65_pivot_explicit_total(spark: SparkSession, sf_dir: str):
    orders = load_table(spark, sf_dir, "orders")
    statuses = ["F", "O", "P"]
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", statuses)
        .count()
        .na.fill(0, statuses)
    )
    total = sum(F.col(s) for s in statuses).cast("long")
    return piv.select(
        "o_orderpriority", *statuses, total.alias("total")
    )


@register(
    "q66_wallclock_flexible",
    """
    WITH raws AS (
      SELECT o_orderkey AS k,
             CASE CAST(o_orderkey % 9 AS INTEGER)
               WHEN 0 THEN CAST(40001 + o_orderkey % 300 AS VARCHAR)
               WHEN 1 THEN '0.' || CAST(o_orderkey % 9 AS VARCHAR)
               WHEN 2 THEN lpad(CAST(o_orderkey % 24 AS VARCHAR), 2, '0') || ':'
                        || lpad(CAST(o_orderkey % 60 AS VARCHAR), 2, '0') || ':'
                        || lpad(CAST(o_orderkey % 53 AS VARCHAR), 2, '0')
               WHEN 3 THEN lpad(CAST(o_orderkey % 24 AS VARCHAR), 2, '0') || ':'
                        || lpad(CAST(o_orderkey % 60 AS VARCHAR), 2, '0')
               WHEN 4 THEN CAST(1 + o_orderkey % 12 AS VARCHAR) || ':'
                        || lpad(CAST(o_orderkey % 60 AS VARCHAR), 2, '0')
                        || CASE WHEN o_orderkey % 2 = 0 THEN ' AM' ELSE ' PM' END
               WHEN 5 THEN '2024-03-' || lpad(CAST(1 + o_orderkey % 28 AS VARCHAR), 2, '0')
                        || ' ' || lpad(CAST(o_orderkey % 24 AS VARCHAR), 2, '0')
                        || ':' || lpad(CAST(o_orderkey % 60 AS VARCHAR), 2, '0')
               WHEN 6 THEN 'aprox ' || CAST(o_orderkey % 24 AS VARCHAR) || ':'
                        || lpad(CAST(o_orderkey % 60 AS VARCHAR), 2, '0') || ' hrs'
               WHEN 7 THEN CAST(2 + o_orderkey % 39999 AS VARCHAR)
               ELSE 'n/a'
             END AS raw
      FROM orders
    ),
    p AS (
      SELECT k, raw, TRY_CAST(raw AS DOUBLE) AS n,
             TIMESTAMP '1970-01-01 00:00:00'
               + (COALESCE(try_strptime(raw, '%H:%M:%S'),
                           try_strptime(raw, '%H:%M'),
                           try_strptime(raw, '%I:%M %p'))
                  - TIMESTAMP '1900-01-01 00:00:00') AS time_only,
             COALESCE(try_strptime(raw, '%Y-%m-%d %H:%M:%S'),
                      try_strptime(raw, '%Y-%m-%d %H:%M')) AS full_dt,
             TRY_CAST(regexp_extract(raw, '(\\d{1,2}):(\\d{2})', 1) AS INTEGER) AS rh,
             TRY_CAST(regexp_extract(raw, '(\\d{1,2}):(\\d{2})', 2) AS INTEGER) AS rm
      FROM raws
    )
    SELECT k AS o_orderkey, raw,
           CASE
             WHEN n IS NOT NULL AND n > 40000
               THEN TIMESTAMP '1899-12-30 00:00:00'
                    + to_seconds(CAST(floor(n * 86400) AS BIGINT))
             WHEN n IS NOT NULL AND n >= 0 AND n <= 1
               THEN TIMESTAMP '1970-01-01 00:00:00'
                    + to_seconds(CAST(floor(n * 86400) AS BIGINT))
             WHEN n IS NULL THEN COALESCE(
               time_only, full_dt,
               CASE WHEN rh BETWEEN 0 AND 23 AND rm BETWEEN 0 AND 59
                    THEN TIMESTAMP '1970-01-01 00:00:00'
                         + to_seconds(CAST(rh * 3600 + rm * 60 AS BIGINT)) END)
           END AS ts
    FROM p
    """,
    doc="F7 flexible wall-clock parse (the 65-line convertir_a_hora state "
    "machine, app_calculador_recursos_modelo_atencion.py:31-95) as ONE "
    "expression over all branches: Excel serial (>40000, the reference's "
    "exact cutoff), the (1,40000] numeric gap -> null, day fraction "
    "[0,1], 5 strptime formats, regex hh:mm rescue, unparseable->null. "
    "Inputs synthesized per-branch from o_orderkey. Oracle shifts "
    "DuckDB's 1900-01-01 time-only default to Spark's 1970 epoch.",
)
def q66_wallclock_flexible(spark: SparkSession, sf_dir: str):
    from .functions.datetime_fns import parse_wallclock_flexible

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    raw = (
        F.when(k % 9 == 0, (F.lit(40001) + k % 300).cast("string"))
        .when(k % 9 == 1, F.concat(F.lit("0."), (k % 9).cast("string")))
        .when(
            k % 9 == 2,
            F.concat_ws(":", two(k % 24), two(k % 60), two(k % 53)),
        )
        .when(k % 9 == 3, F.concat_ws(":", two(k % 24), two(k % 60)))
        .when(
            k % 9 == 4,
            F.concat(
                (F.lit(1) + k % 12).cast("string"),
                F.lit(":"),
                two(k % 60),
                F.when(k % 2 == 0, F.lit(" AM")).otherwise(F.lit(" PM")),
            ),
        )
        .when(
            k % 9 == 5,
            F.concat(
                F.lit("2024-03-"),
                two(F.lit(1) + k % 28),
                F.lit(" "),
                two(k % 24),
                F.lit(":"),
                two(k % 60),
            ),
        )
        .when(
            k % 9 == 6,
            F.concat(
                F.lit("aprox "),
                (k % 24).cast("string"),
                F.lit(":"),
                two(k % 60),
                F.lit(" hrs"),
            ),
        )
        .when(k % 9 == 7, (F.lit(2) + k % 39999).cast("string"))
        .otherwise(F.lit("n/a"))
    )
    # same exchange-barrier rationale as q44: materialize the synthetic
    # raw string once instead of re-evaluating its 9-branch builder inside
    # each of the parser's format trials, and spread the parse
    built = orders.select("o_orderkey", raw.alias("raw")).repartition(
        spark.sparkContext.defaultParallelism, F.col("o_orderkey")
    )
    return built.select(
        "o_orderkey",
        "raw",
        parse_wallclock_flexible(F.col("raw")).alias("ts"),
    )


@register(
    "q81_asof_join",
    """
    WITH rdd AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rk
        FROM events WHERE event_type = 'purchase'
      ) WHERE rk = 1
    ),
    l AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click')
    SELECT l.event_id, l.user_id, l.ts,
           r.value AS last_purchase_value, r.ts AS last_purchase_ts
    FROM l ASOF LEFT JOIN rdd r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    doc="Backward as-of join (temporal operator Spark lacks natively; "
    "the feature-backfill primitive): each click event joined to the "
    "user's latest purchase at or before it. Spark side is the "
    "union + last(ignorenulls) window trick (operators/joins.py "
    "asof_join) — one shuffle on the key, per-key sort, zero row "
    "explosion, vs a naive range join's quadratic-per-key pair "
    "materialization. Oracle is DuckDB's native ASOF LEFT JOIN.",
)
def q81_asof_join(spark: SparkSession, sf_dir: str):
    from .operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    wdd = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("_rk", F.row_number().over(wdd))
        .filter(F.col("_rk") == 1)
        .select("user_id", "ts", "value")
    )
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        left, right, "user_id", "ts", "ts",
        {"value": "last_purchase_value", "ts": "last_purchase_ts"},
    )


# ---------------------------------------------------------------------------
# q130 — entity resolution: blocking + edit-distance verify
# ---------------------------------------------------------------------------

@register(
    "q130_entity_resolution",
    """
    SELECT x.c_custkey AS id_a, y.c_custkey AS id_b,
           CAST(levenshtein(x.c_name, y.c_name) AS BIGINT) AS edit_dist
    FROM customer x JOIN customer y
      ON x.c_nationkey = y.c_nationkey
     AND x.c_mktsegment = y.c_mktsegment
     AND x.c_custkey < y.c_custkey
    WHERE levenshtein(x.c_name, y.c_name) <= 2
    """,
    doc="Entity resolution (fuzzy record linkage): candidate pairs by "
    "BLOCKING on (nation, segment) — an equi-join, so only block-local "
    "pairs ever form — verified by Levenshtein edit distance <= 2 "
    "(both engines implement the standard DP edit distance, so the "
    "boundary is engine-identical). The blocking key bounds the "
    "quadratic: cost is sum of block_size^2, never corpus^2 — the "
    "classic Fellegi-Sunter blocking shape; at 100 TB a skewed block "
    "is the q63/AQE case, and production runs multiple redundant "
    "blocking passes (phonetic keys, sorted neighborhood) unioned "
    "before the verify, exactly as the MinHash band join (q32) unions "
    "band keys.",
)
def q130_entity_resolution(spark: SparkSession, sf_dir: str):
    from .session import spread_small_input

    cust = load_table(spark, sf_dir, "customer")
    # spread the (single-file) probe side: with the build side broadcast,
    # every block-local levenshtein would otherwise evaluate in ONE scan
    # task (the q64 lesson)
    cust_x = spread_small_input(cust)
    x = cust_x.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        "c_nationkey", "c_mktsegment",
    )
    y = cust.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nk_b"),
        F.col("c_mktsegment").alias("ms_b"),
    )
    return (
        x.join(
            y,
            (F.col("c_nationkey") == F.col("nk_b"))
            & (F.col("c_mktsegment") == F.col("ms_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        # cheap necessary condition first (|len diff| <= k), then the
        # THRESHOLD levenshtein variant: banded O(n*k) DP that early-exits
        # past k (returns -1), instead of the full O(n^2) table — the
        # values it does return are exact, so the oracle's plain
        # levenshtein(...) <= 2 filter selects the identical pair set
        .filter(
            F.abs(F.length("name_a") - F.length("name_b")) <= F.lit(2)
        )
        .select(
            "id_a",
            "id_b",
            F.levenshtein("name_a", "name_b", 2).cast("long").alias(
                "edit_dist"
            ),
        )
        .filter(F.col("edit_dist") >= 0)
    )


# ---------------------------------------------------------------------------
# q141 — data-contract validation report
# ---------------------------------------------------------------------------

@register(
    "q141_data_contract",
    """
    SELECT 'lineitem_orphan_orderkey' AS rule, CAST((
      SELECT COUNT(*) FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey)
    ) AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'orders_orphan_custkey', CAST((
      SELECT COUNT(*) FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c
                        WHERE c.c_custkey = o.o_custkey)
    ) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_nonpositive_quantity', CAST((
      SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0
    ) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_discount_out_of_range', CAST((
      SELECT COUNT(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1
    ) AS BIGINT)
    UNION ALL
    SELECT 'orders_negative_total', CAST((
      SELECT COUNT(*) FROM orders WHERE o_totalprice < 0
    ) AS BIGINT)
    UNION ALL
    SELECT 'events_null_user', CAST((
      SELECT COUNT(*) FROM events WHERE user_id IS NULL
    ) AS BIGINT)
    """,
    doc="Data-contract validation report — the pre-flight gate a "
    "pipeline runs before trusting a drop: referential integrity via "
    "ANTI-join counts (lineitem -> orders, orders -> customer; never a "
    "correlated subquery per row), plus range/ordering/null invariants "
    "as scan-speed predicates. Each rule is an independent bounded "
    "aggregate; the anti-joins broadcast the key side at dim scale and "
    "hash-join beyond it. One row per rule, 0 = contract holds — the "
    "output a scheduler alerts on.",
)
def q141_data_contract(spark: SparkSession, sf_dir: str):
    # r13 plan: one flagged pass per fact table instead of one subtree
    # per rule (the rule-per-subtree form scanned lineitem 3x and orders
    # 3x — 8 scans total). Each referential rule becomes a left join
    # against the parent's DISTINCT keys (distinct ⇒ no row duplication,
    # so the same pass counts the scan-speed range rules too; a left
    # join miss is exactly the anti-join membership), and the per-table
    # counts unpivot via stack. Counts are provably identical.
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")

    okeys = orders.select("o_orderkey").distinct()
    li_rules = (
        li.select("l_orderkey", "l_quantity", "l_discount")
        .join(okeys, li["l_orderkey"] == okeys["o_orderkey"], "left")
        .agg(
            F.sum(
                F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)
            ).cast("long").alias("orphan"),
            F.sum(
                F.when(F.col("l_quantity") <= 0, 1).otherwise(0)
            ).cast("long").alias("qty"),
            F.sum(
                F.when(
                    (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
                ).otherwise(0)
            ).cast("long").alias("disc"),
        )
        .selectExpr(
            "stack(3, "
            "'lineitem_orphan_orderkey', orphan, "
            "'lineitem_nonpositive_quantity', qty, "
            "'lineitem_discount_out_of_range', disc"
            ") as (rule, n_violations)"
        )
    )
    ckeys = cust.select("c_custkey").distinct()
    o_rules = (
        orders.select("o_custkey", "o_totalprice")
        .join(ckeys, orders["o_custkey"] == ckeys["c_custkey"], "left")
        .agg(
            F.sum(
                F.when(F.col("c_custkey").isNull(), 1).otherwise(0)
            ).cast("long").alias("orphan"),
            F.sum(
                F.when(F.col("o_totalprice") < 0, 1).otherwise(0)
            ).cast("long").alias("neg"),
        )
        .selectExpr(
            "stack(2, "
            "'orders_orphan_custkey', orphan, "
            "'orders_negative_total', neg"
            ") as (rule, n_violations)"
        )
    )
    ev_rules = ev.agg(
        F.lit("events_null_user").alias("rule"),
        F.sum(
            F.when(F.col("user_id").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_violations"),
    )
    return li_rules.unionByName(o_rules).unionByName(ev_rules)


# ---------------------------------------------------------------------------
# q149 — sorted-neighborhood entity-resolution pass
# ---------------------------------------------------------------------------

@register(
    "q149_sorted_neighborhood",
    """
    WITH r AS (
      SELECT c_custkey, c_name,
             row_number() OVER (ORDER BY c_name, c_custkey) AS rk
      FROM customer
    )
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(b.rk - a.rk AS BIGINT) AS rank_gap,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
    FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 3
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
    doc="Sorted-neighborhood entity resolution (Hernández & Stolfo "
    "1995) — the production complement q130's docstring promises: "
    "records sorted by name, each paired with its 3 successors, "
    "verified at Levenshtein <= 2. Catches near-duplicates whose typo "
    "sits IN the blocking key (which key blocking separates into "
    "different blocks). The global rank comes from prefix-stripe local "
    "ranks + broadcast prefix-sum offsets (ordering by a string prefix "
    "is ordering by the string — the q19 striped-rank trick adapted), "
    "so no single reducer ever sorts the corpus; pairing is an "
    "equi-join on rank keys with the window exploded (3 rows per "
    "record). In production q130's block pairs UNION these, then one "
    "shared verify pass.",
)
def q149_sorted_neighborhood(spark: SparkSession, sf_dir: str):
    from .operators.joins import sorted_neighborhood_pairs

    cust = load_table(spark, sf_dir, "customer")
    pairs = sorted_neighborhood_pairs(
        cust, "c_name", "c_custkey", window=3, stripe_prefix=15
    )
    return (
        pairs.select(
            "id_a", "id_b", "rank_gap",
            F.levenshtein("c_name_a", "c_name_b", 2).cast("long").alias(
                "edit_dist"
            ),
        )
        .filter(F.col("edit_dist") >= 0)
    )


@register(
    "q162_skew_profile",
    """
    WITH counts AS (
      SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey
    ),
    summary AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
             COUNT(*) AS n_keys,
             MAX(cnt) AS max_cnt,
             quantile_cont(cnt, 0.5) AS p50_cnt,
             quantile_cont(cnt, 0.9) AS p90_cnt,
             quantile_cont(cnt, 0.99) AS p99_cnt
      FROM counts
    ),
    s2 AS (
      SELECT *,
             CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE) AS avg_cnt,
             CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
               / CAST(n_rows AS DOUBLE) AS skew_ratio,
             CAST(CEIL(CAST(max_cnt AS DOUBLE) / 50.0) AS BIGINT)
               AS rec_salt
      FROM summary
    ),
    hot AS (
      SELECT l_partkey AS hot_key, cnt AS hot_cnt
      FROM counts ORDER BY cnt DESC, l_partkey LIMIT 5
    )
    SELECT hot_key, hot_cnt, n_rows, n_keys, max_cnt,
           p50_cnt, p90_cnt, p99_cnt, avg_cnt, skew_ratio, rec_salt
    FROM hot CROSS JOIN s2
    """,
    doc="Join-key skew profile of lineitem.l_partkey (X4-X6's diagnostic "
    "complement; feeds q63's salted join its salt_n): per-key counts via "
    "ONE map-side-combinable groupBy — the profile shuffles key counts, "
    "never rows — then a one-row distribution summary (max/avg/p50/p90/"
    "p99, skew ratio, recommended salt = ceil(max_cnt / target)) "
    "broadcast onto the top-5 hottest keys (TakeOrdered heap, no global "
    "sort). The measurement a 100 TB pipeline runs BEFORE choosing "
    "broadcast vs salted vs plain shuffle join. target_rows_per_task=50 "
    "is fixture-scaled (the real default is 1M rows/task); percentiles "
    "are the standard (n-1)*p interpolation in both engines.",
)
def q162_skew_profile(spark: SparkSession, sf_dir: str):
    from .operators.partitioner import skew_profile

    li = load_table(spark, sf_dir, "lineitem")
    return skew_profile(li, "l_partkey", target_rows_per_task=50, top_k=5)


_DIGEST_P61 = 2305843009213693951  # Mersenne 2^61 - 1


def _o_digest(table_expr: str, arm: str, row_expr: str) -> str:
    return f"""
    SELECT '{arm}' AS arm, COUNT(*) AS n_rows,
           CAST(SUM(CAST(CAST('0x' || substr(md5({row_expr}), 1, 15)
                              AS BIGINT) AS DECIMAL(38,0)))
                  % {_DIGEST_P61} AS BIGINT) AS digest
    FROM {table_expr}
    """


_ORDERS_ROW = (
    "concat_ws('|', COALESCE(CAST(o_orderkey AS VARCHAR), '␀'), "
    "COALESCE(CAST(o_custkey AS VARCHAR), '␀'), "
    "COALESCE(CAST(o_orderstatus AS VARCHAR), '␀'), "
    "COALESCE(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), '␀'), "
    "COALESCE(CAST(o_orderpriority AS VARCHAR), '␀'))"
)
_CUST_ROW = (
    "concat_ws('|', COALESCE(CAST(c_custkey AS VARCHAR), '␀'), "
    "COALESCE(CAST(c_name AS VARCHAR), '␀'), "
    "COALESCE(CAST(c_nationkey AS VARCHAR), '␀'), "
    "COALESCE(CAST(c_mktsegment AS VARCHAR), '␀'))"
)


@register(
    "q163_replication_digest",
    _o_digest("orders", "orders_source", _ORDERS_ROW)
    + " UNION ALL "
    + _o_digest("orders", "orders_relaid", _ORDERS_ROW)
    + " UNION ALL "
    + _o_digest("customer", "customer_source", _CUST_ROW),
    doc="Order-independent table content digests (operators/layout.py "
    "table_digest): SUM of per-row 60-bit md5 hashes in DECIMAL(38,0) "
    "mod 2^61-1 — commutative, so the digest is invariant under "
    "partitioning, file layout, and row order. The orders_relaid arm "
    "digests the SAME content through a repartition(17) relayout and "
    "must equal orders_source — the validation a 100 TB estate runs "
    "after a bucketed rewrite, Z-order compaction, or cross-cluster "
    "copy: one map-side-combinable aggregation per side, no sort, no "
    "join, constant memory. Digest columns are string-cast-stable "
    "types only (doubles excluded; timestamps cast to date).",
)
def q163_replication_digest(spark: SparkSession, sf_dir: str):
    from .operators.layout import table_digest

    ords = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "cast(o_orderdate as date) as o_odate",
        "o_orderpriority",
    )
    ocols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_odate",
             "o_orderpriority"]
    cust = load_table(spark, sf_dir, "customer")
    a = table_digest(ords, ocols).selectExpr(
        "'orders_source' as arm", "n_rows", "digest"
    )
    b = table_digest(ords.repartition(17), ocols).selectExpr(
        "'orders_relaid' as arm", "n_rows", "digest"
    )
    c = table_digest(
        cust, ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]
    ).selectExpr("'customer_source' as arm", "n_rows", "digest")
    return a.unionByName(b).unionByName(c)


_BDIG_H = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


def _bucketed_digest_sql(src: str, row_expr: str) -> str:
    h = _BDIG_H.format(x=row_expr)
    bkt = _BDIG_H.format(x="CAST(o_orderkey AS VARCHAR)")
    return f"""
      SELECT ({bkt}) % 64 AS bucket, COUNT(*) AS n_rows,
             CAST(SUM(CAST({h} AS DECIMAL(38,0)))
                    % {_DIGEST_P61} AS BIGINT) AS digest
      FROM {src} GROUP BY 1
    """


_REPLICA_SQL = """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate,
           CASE WHEN o_orderkey % 9973 = 0 THEN 'CORRUPTED'
                ELSE o_orderpriority END AS o_orderpriority
    FROM orders
"""


@register(
    "q165_digest_diff",
    f"""
    WITH replica AS ({_REPLICA_SQL}),
    da AS ({_bucketed_digest_sql("orders", _ORDERS_ROW)}),
    db AS ({_bucketed_digest_sql("replica", _ORDERS_ROW)})
    SELECT COALESCE(da.bucket, db.bucket) AS bucket,
           da.n_rows AS n_rows_a, db.n_rows AS n_rows_b,
           da.digest AS digest_a, db.digest AS digest_b,
           (da.digest IS NOT DISTINCT FROM db.digest
            AND da.n_rows IS NOT DISTINCT FROM db.n_rows) AS is_match
    FROM da FULL JOIN db ON da.bucket = db.bucket
    """,
    doc="Merkle-style divergence localization (operators/layout.py "
    "bucketed_digest / digest_diff), the WHERE to q163's WHETHER: both "
    "copies of the orders table reduce to 64 per-bucket "
    "order-independent digests (same map-side-combinable sum-mod "
    "aggregation as q163, plus a stable md5 bucket key), and the diff "
    "is a full-outer join of 2x64 summary rows — at 100 TB, divergence "
    "between replicas is pinned to the damaged key ranges without "
    "comparing, sorting, or shuffling any rows, and repair re-syncs "
    "only is_match=false buckets. The replica arm injects a "
    "deterministic corruption (priority overwritten where o_orderkey % "
    "9973 = 0), identically in both engines; buckets containing no "
    "corrupted key must report is_match=true.",
)
def q165_digest_diff(spark: SparkSession, sf_dir: str):
    from .operators.layout import digest_diff

    ords = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "cast(o_orderdate as date) as o_odate",
        "o_orderpriority",
    )
    replica = ords.selectExpr(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_odate",
        "case when o_orderkey % 9973 = 0 then 'CORRUPTED' "
        "else o_orderpriority end as o_orderpriority",
    )
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_odate",
            "o_orderpriority"]
    return digest_diff(ords, replica, cols, "o_orderkey", n_buckets=64)


# ---------------------------------------------------------------------------
# q191 — join-cardinality audit: multiplicity histograms + exact size
# ---------------------------------------------------------------------------

_JOIN_AUDIT_ORACLE = """
    WITH lc AS (
      SELECT o_orderkey AS k, COUNT(*) AS m FROM orders GROUP BY 1
    ),
    rc AS (
      SELECT l_orderkey AS k, COUNT(*) AS m FROM lineitem GROUP BY 1
    ),
    hist AS (
      SELECT 'orders' AS side, m, COUNT(*) AS n_keys FROM lc GROUP BY m
      UNION ALL
      SELECT 'lineitem' AS side, m, COUNT(*) AS n_keys FROM rc GROUP BY m
    ),
    sz AS (
      SELECT SUM(lc.m * rc.m) AS join_rows,
             COUNT(*) AS matched_keys
      FROM lc JOIN rc ON lc.k = rc.k
    )
    SELECT side, CAST(m AS BIGINT) AS multiplicity,
           CAST(n_keys AS BIGINT) AS n_keys,
           CAST((SELECT join_rows FROM sz) AS BIGINT) AS join_rows,
           CAST((SELECT matched_keys FROM sz) AS BIGINT) AS matched_keys
    FROM hist
    """


@register(
    "q191_join_audit",
    _JOIN_AUDIT_ORACLE,
    doc="Join-cardinality audit for orders JOIN lineitem ON orderkey — "
    "the pre-flight hygiene check before any large join, and the "
    "EXACT arm of q171's Count-Min join-size bound: per-side key "
    "multiplicity histograms (a skewed m-tail on both sides is the "
    "row-explosion signature) plus the exact output size "
    "sum(m_left * m_right) over matched keys. The audit costs two "
    "combining groupBys onto per-key count tables plus ONE join of "
    "those (already |keys|-sized, far below row counts) — never the "
    "candidate join itself; at 100 TB this is the cheap query you "
    "run to decide whether the expensive one is safe, and the "
    "histogram tells you WHICH keys to salt (q63) if it is not. "
    "Every statistic is an exact integer.",
)
def q191_join_audit(spark: SparkSession, sf_dir: str):
    # each per-key count table feeds its histogram AND the size join —
    # checkpoint so the corpus groupBy runs once per side (r13; the
    # count tables ARE the artifact this audit materializes)
    lc = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("m"))
        .transform(materialize)
    )
    rc = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("m"))
        .transform(materialize)
    )
    hist = (
        lc.groupBy("m")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .selectExpr("'orders' as side", "m", "n_keys")
        .unionByName(
            rc.groupBy("m")
            .agg(F.count(F.lit(1)).alias("n_keys"))
            .selectExpr("'lineitem' as side", "m", "n_keys")
        )
    )
    sz = (
        lc.join(rc.withColumnRenamed("m", "m2"), "k")
        .agg(
            F.sum(F.expr("m * m2")).alias("join_rows"),
            F.count(F.lit(1)).alias("matched_keys"),
        )
    )
    return hist.crossJoin(F.broadcast(sz)).selectExpr(
        "side",
        "cast(m as bigint) as multiplicity",
        "cast(n_keys as bigint) as n_keys",
        "cast(join_rows as bigint) as join_rows",
        "cast(matched_keys as bigint) as matched_keys",
    )


# ---------------------------------------------------------------------------
# q192 — deletion-cascade audit (right-to-be-forgotten governance)
# ---------------------------------------------------------------------------

_CASCADE_ORACLE = """
    WITH del_c AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ),
    del_o AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM del_c)
    ),
    del_l AS (
      SELECT l_orderkey FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM del_o)
    ),
    keep_o AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM del_c)
    ),
    keep_l AS (
      SELECT l_orderkey FROM lineitem
      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM del_o)
    ),
    orphans AS (
      SELECT COUNT(*) AS n FROM keep_l
      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM keep_o)
    )
    SELECT * FROM (
      SELECT 'customer' AS stage,
             CAST((SELECT COUNT(*) FROM del_c) AS BIGINT) AS n_deleted,
             CAST((SELECT COUNT(*) FROM customer) -
                  (SELECT COUNT(*) FROM del_c) AS BIGINT) AS n_remaining,
             CAST((SELECT n FROM orphans) AS BIGINT) AS n_orphans_after
      UNION ALL
      SELECT 'orders',
             CAST((SELECT COUNT(*) FROM del_o) AS BIGINT),
             CAST((SELECT COUNT(*) FROM orders) -
                  (SELECT COUNT(*) FROM del_o) AS BIGINT),
             CAST((SELECT n FROM orphans) AS BIGINT)
      UNION ALL
      SELECT 'lineitem',
             CAST((SELECT COUNT(*) FROM del_l) AS BIGINT),
             CAST((SELECT COUNT(*) FROM lineitem) -
                  (SELECT COUNT(*) FROM del_l) AS BIGINT),
             CAST((SELECT n FROM orphans) AS BIGINT)
    )
    """


@register(
    "q192_deletion_cascade",
    _CASCADE_ORACLE,
    doc="Right-to-be-forgotten cascade audit: a deletion key set "
    "(customers with custkey % 97 = 0 — a deterministic stand-in for "
    "an erasure-request list) cascades through orders to lineitems, "
    "and the report carries per-stage deleted/remaining counts PLUS "
    "the assertion-as-data row every erasure run must produce: the "
    "post-delete orphan count (remaining lineitems whose order was "
    "deleted) — zero by construction here, and a non-zero value is "
    "the failed-cascade alarm. Plan shape: the cascade is two "
    "LEFT-SEMI joins down the FK chain and the audits are LEFT-ANTI "
    "joins — no row data moves, only keys; at 100 TB the erasure "
    "list is corpus-scale-joined (shuffle on the FK, never broadcast "
    "assumed) and the actual delete is a partition-pruned rewrite "
    "this audit gates. All counts exact integers.",
)
def q192_deletion_cascade(spark: SparkSession, sf_dir: str):
    # r13 plan: ONE flagged pass per table (14 scans -> 4 in the
    # executed plan). The semi/anti pairs over the same key are
    # complements, so each table is read once with a deletion flag:
    # - customer: dc/tc in one aggregate; the erasure-key list is the
    #   filtered DISTINCT key projection (distinct ⇒ the flag joins
    #   below never duplicate fact rows — the original semi/anti joins
    #   ignored key multiplicity the same way).
    # - orders: left join the erasure keys -> per-row deleted flag; a
    #   groupBy(o_orderkey) carries (any_del, row/deleted-row counts),
    #   checkpointed so it feeds (do, to) AND the lineitem join without
    #   a second orders scan.
    # - lineitem: left join the per-orderkey flags. del_l ⇔ the key has
    #   a deleted order row; keep_l otherwise; an orphan is a keep_l
    #   row with NO surviving order row — under the complement
    #   structure exactly a left-join MISS (a matched key with
    #   any_del=0 necessarily has a surviving row). dl/tl/orphans in
    #   one aggregate.
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    cagg = cust.agg(
        F.sum(
            F.when(F.expr("c_custkey % 97 = 0"), 1).otherwise(0)
        ).alias("dc"),
        F.count(F.lit(1)).alias("tc"),
    )
    del_keys = (
        cust.filter("c_custkey % 97 = 0")
        .distinct()
        .transform(materialize)  # the erasure-request key list
    )
    of = orders.join(
        del_keys, orders["o_custkey"] == del_keys["c_custkey"], "left"
    ).select("o_orderkey", F.col("c_custkey").isNotNull().alias("_del"))
    okeys = (
        of.groupBy("o_orderkey")
        .agg(
            F.max(F.col("_del").cast("int")).alias("any_del"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_del").cast("int")).alias("n_del_rows"),
        )
        .transform(materialize)
    )
    oagg = okeys.agg(
        F.sum("n_del_rows").alias("do"), F.sum("n_rows").alias("to")
    )
    lagg = li.join(
        okeys, li["l_orderkey"] == okeys["o_orderkey"], "left"
    ).agg(
        F.sum(F.when(F.col("any_del") == 1, 1).otherwise(0)).alias("dl"),
        F.count(F.lit(1)).alias("tl"),
        F.sum(
            F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)
        ).alias("n_orphans_after"),
    )
    counts = cagg.crossJoin(oagg).crossJoin(lagg)
    return counts.selectExpr(
        "stack(3, "
        "'customer', cast(dc as bigint), cast(tc - dc as bigint), "
        "'orders', cast(do as bigint), cast(to - do as bigint), "
        "'lineitem', cast(dl as bigint), cast(tl - dl as bigint)"
        ") as (stage, n_deleted, n_remaining)",
        "cast(n_orphans_after as bigint) as n_orphans_after",
    )
