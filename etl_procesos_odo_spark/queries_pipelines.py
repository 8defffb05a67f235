"""End-to-end pipeline queries — the reference's entry-point flows
(SURVEY.md §3) re-expressed over the harness star schema.

Each pipeline is a pure (spark, sf_dir) -> DataFrame plan composing the
layer-1 expression library and layer-2 operator kit; Catalyst supplies
parse→optimize→execute (SURVEY.md §3 "engine consequence").
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from .functions.datetime_fns import (
    ceil_to_grid,
    same_weekday_days_in_month,
    spanish_long_date,
    weekday_monday0,
)
from .operators.aggregates import avg_of_daily_counts
from .operators.joins import broadcast_dim_join, spine_left_join_fill
from .operators.partitioner import balanced_partition
from .operators.windows import dedup_first
from .registry import load_table, register

O_MD5_ORDER = (
    "CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':42'), 1, 15) AS BIGINT)"
)

O_SPANISH_LABEL = (
    "['Lunes','Martes','Miércoles','Jueves','Viernes','Sábado','Domingo'][isodow(fecha)]"
    " || ', ' || CAST(day(fecha) AS VARCHAR) || ' de ' || "
    "['Enero','Febrero','Marzo','Abril','Mayo','Junio','Julio','Agosto',"
    "'Septiembre','Octubre','Noviembre','Diciembre'][month(fecha)]"
    " || ' de ' || CAST(year(fecha) AS VARCHAR)"
)


@register(
    "q53_callcenter_demand",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, isodow(ts) - 1 AS dia, hour(ts) AS hora,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    promedio AS (
      SELECT dia, hora, CAST(SUM(n) AS DOUBLE) / COUNT(*) AS promedio_llamadas
      FROM daily GROUP BY dia, hora
    ),
    spine AS (
      SELECT d.dia, h.hora
      FROM (SELECT CAST(unnest(generate_series(0, 6)) AS BIGINT) AS dia) d
      CROSS JOIN (SELECT CAST(unnest(generate_series(0, 23)) AS BIGINT) AS hora) h
    )
    SELECT s.dia, s.hora,
           COALESCE(p.promedio_llamadas, CAST(0 AS DOUBLE)) AS promedio_llamadas,
           COALESCE(p.promedio_llamadas, CAST(0 AS DOUBLE)) / CAST(3.0 AS DOUBLE)
             AS recursos_necesarios
    FROM spine s LEFT JOIN promedio p ON s.dia = p.dia AND s.hora = p.hora
    """,
    doc="Entry-point 2 pipeline (call-center demand, SURVEY.md §3 / §7 "
    "minimum slice; procesar_datos_demanda_filtrada, "
    "app_calculo_necesidad_recepción_call_center.py:142-266): derive time "
    "keys → per-day counts → avg over days-with-data per (weekday, hour) "
    "(A2) → full weekday×hour spine left-join 0-fill (G2/J4) → /3.0 "
    "resource ratio. The flagship ``entry()`` query.",
)
def callcenter_demand(spark: SparkSession, sf_dir: str):
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("dia", weekday_monday0("ts"))
        .withColumn("hora", F.hour("ts").cast("long"))
    )
    promedio = avg_of_daily_counts(
        ev, F.to_date("ts"), ["dia", "hora"], out_col="promedio_llamadas"
    )
    spine = (
        spark.range(7)
        .select(F.col("id").alias("dia"))
        .crossJoin(spark.range(24).select(F.col("id").alias("hora")))
    )
    filled = (
        spine.join(F.broadcast(promedio), on=["dia", "hora"], how="left")
        .withColumn(
            "promedio_llamadas",
            F.coalesce(F.col("promedio_llamadas"), F.lit(0.0)),
        )
    )
    return filled.withColumn(
        "recursos_necesarios", F.col("promedio_llamadas") / F.lit(3.0)
    )


@register(
    "q50_partitioner_pipeline",
    f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_orderstatus IN ('O', 'F')
        AND NOT contains(upper(o_orderpriority), 'URGENT')
    ),
    keys AS (
      SELECT DISTINCT c_mktsegment, c_custkey
      FROM o JOIN customer ON o_custkey = c_custkey
    ),
    asg AS (
      SELECT c_mktsegment, c_custkey,
             ntile(3) OVER (PARTITION BY c_mktsegment
                            ORDER BY {O_MD5_ORDER}, c_custkey) AS particion
      FROM keys
    ),
    att AS (
      SELECT a.particion, a.c_custkey, o.o_orderkey
      FROM asg a JOIN o ON o.o_custkey = a.c_custkey
    )
    SELECT CAST(particion AS BIGINT) AS particion,
           COUNT(DISTINCT c_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM att GROUP BY 1
    """,
    doc="Entry-point 1 pipeline (balanced partitioner, SURVEY.md §3 / "
    "app.py:16-392): IN-list state filter (P3, app.py:304-305) + negated "
    "contains (P4, app.py:287-292) -> distinct (unit, patient) keys -> "
    "seeded balanced ntile split (X4, particion_equitativa app.py:49-89) "
    "-> membership attach (J5, app.py:160-166) -> per-partition summary "
    "stats (app.py:174-179). md5 hash ordering makes full membership "
    "oracle-checkable; invariants (disjoint cover, ±1 balance) verified in "
    "tests/test_partitioner.py.",
)
def q50_partitioner_pipeline(spark: SparkSession, sf_dir: str):
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("O", "F")
        & ~F.upper(F.col("o_orderpriority")).contains("URGENT")
    )
    cust = load_table(spark, sf_dir, "customer")
    fact = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    )
    assign = balanced_partition(
        fact, "c_mktsegment", "c_custkey", 3, seed=42, hash_method="md5"
    )
    # attach onto ORDERS, not the customer-joined fact: with duplicate
    # customer primary keys the fact is already key-inflated, so joining
    # it again against the assignment double-counts orders (r10
    # adversarial census finding); the oracle's att joins orders directly
    att = assign.drop("c_mktsegment").join(
        orders, assign["c_custkey"] == orders["o_custkey"]
    )
    return att.groupBy(F.col("particion").cast("long").alias("particion")).agg(
        F.countDistinct("c_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


@register(
    "q51_confirmaciones_pipeline",
    f"""
    WITH first_appt AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS fecha, o_orderkey,
             o_orderpriority AS sede
      FROM orders
      QUALIFY row_number() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
                                 ORDER BY o_orderkey) = 1
    ),
    con_sede AS (
      SELECT f.*,
             CASE sede
               WHEN '1-URGENT' THEN 'Calle 1 # 10-01'
               WHEN '2-HIGH' THEN 'Carrera 2 # 20-02'
               WHEN '3-MEDIUM' THEN 'Avenida 3 # 30-03'
               WHEN '4-NOT SPECIFIED' THEN 'Diagonal 4 # 40-04'
               WHEN '5-LOW' THEN 'Transversal 5 # 50-05'
               ELSE 'SIN DIRECCIÓN'
             END AS direccion
      FROM first_appt f
    )
    SELECT o_custkey, fecha, sede,
           CAST(o_custkey AS VARCHAR) || '|' || ({O_SPANISH_LABEL}) || '|' || direccion
             AS mensaje
    FROM con_sede
    """,
    doc="Entry-point pipeline (confirmaciones, SURVEY.md §3 / "
    "app_confirmaciones.py): dedup to first service per (paciente, fecha) "
    "(W1, :259-297) -> broadcast Sede->Direccion dim join (J1/G4, "
    ":150-177) -> Spanish long-date label (F3, :104-119) -> composite "
    "message key (F19, :198-201).",
)
def q51_confirmaciones_pipeline(spark: SparkSession, sf_dir: str):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("fecha"),
        "o_orderkey",
        F.col("o_orderpriority").alias("sede"),
    )
    first_appt = dedup_first(orders, ["o_custkey", "fecha"], [F.col("o_orderkey")])
    sede_dim = spark.createDataFrame(
        [
            ("1-URGENT", "Calle 1 # 10-01"),
            ("2-HIGH", "Carrera 2 # 20-02"),
            ("3-MEDIUM", "Avenida 3 # 30-03"),
            ("4-NOT SPECIFIED", "Diagonal 4 # 40-04"),
            ("5-LOW", "Transversal 5 # 50-05"),
        ],
        ["sede", "direccion"],
    )
    joined = broadcast_dim_join(first_appt, sede_dim, on="sede", how="left")
    joined = joined.withColumn(
        "direccion", F.coalesce(F.col("direccion"), F.lit("SIN DIRECCIÓN"))
    )
    # F.concat (not concat_ws): a NULL component — e.g. the Spanish label
    # of a NULL order date — must NULL the whole message like the
    # oracle's `||`, not be silently skipped (r10 adversarial census pin)
    mensaje = F.concat(
        F.col("o_custkey").cast("string"),
        F.lit("|"),
        spanish_long_date(F.col("fecha")),
        F.lit("|"),
        F.col("direccion"),
    )
    return joined.select("o_custkey", "fecha", "sede", mensaje.alias("mensaje"))


@register(
    "q52_recursos_pipeline",
    """
    WITH t AS (
      SELECT DISTINCT user_id,
             TIMESTAMP '1970-01-01 00:00:00'
               + to_seconds(CAST(ceil(epoch(ts) / 300) * 300 AS BIGINT)) AS slot_ts,
             CAST(ts AS DATE) AS d
      FROM events
    ),
    w AS (
      SELECT strftime(slot_ts, '%H:%M') AS slot,
             CAST(1.0 AS DOUBLE) /
               CAST(floor((day(last_day(d)) - day(d)) / 7)
                    + floor((day(d) - 1) / 7) + 1 AS DOUBLE) AS peso
      FROM t
    )
    SELECT slot, CAST(CAST(SUM(CAST(peso AS DECIMAL(20,12))) AS VARCHAR) AS DOUBLE) AS carga
    FROM w GROUP BY slot
    """,
    doc="Entry-point pipeline (recursos modelo atencion, SURVEY.md §3 / "
    "app_calculador_recursos_modelo_atencion.py): ceil-to-5-min slot (F8, "
    ":105-122) -> dedup per (usuario, slot, dia) (W2, :409) -> weight "
    "1/(same-weekday days in month) via the closed-form F10 (:138-155, "
    "replacing the per-row calendar loop) -> weighted slot load sum (A4, "
    ":411-413). Weights go through DECIMAL so the sum is order-independent.",
)
def q52_recursos_pipeline(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    epoch = F.col("ts").cast("double")
    slot_ts = F.timestamp_seconds((F.ceil(epoch / 300) * 300).cast("long"))
    t = ev.select(
        "user_id", slot_ts.alias("slot_ts"), F.to_date("ts").alias("d")
    ).distinct()
    peso = F.lit(1.0) / same_weekday_days_in_month(F.col("d")).cast("double")
    w = t.select(F.date_format("slot_ts", "HH:mm").alias("slot"), peso.alias("peso"))
    return w.groupBy("slot").agg(
        F.sum(F.col("peso").cast("decimal(20,12)")).cast("double").alias("carga")
    )


@register(
    "q54_indicadores_pipeline",
    """
    WITH t AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER w AS wait_us,
             CAST(ts AS DATE) = lag(CAST(ts AS DATE)) OVER w AS same_day,
             isodow(ts) - 1 AS dia
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    filtered AS (
      SELECT * FROM t
      WHERE same_day AND wait_us > 0 AND wait_us < 3000000000 AND dia < 4
    )
    SELECT CASE WHEN GROUPING(dia) = 1 THEN CAST(-1 AS BIGINT) ELSE dia END AS dia,
           COUNT(*) AS n_esperas,
           CAST(SUM(wait_us) AS DOUBLE) / COUNT(*) / CAST(60000000 AS DOUBLE)
             AS avg_espera_min
    FROM filtered GROUP BY ROLLUP(dia)
    """,
    doc="Entry-point pipeline (indicadores modelo atencion, SURVEY.md §3 / "
    "app_indicadores_modelo_atencion.py): LAG wait times per user (W3, "
    ":1110-1182) -> business exclusions: same-day only, 0<espera<50min, "
    "Mon-Thu only (Fri/weekend excluded, :1155-1161 + P11 :185-192) -> "
    "per-weekday aggregate + grand-TOTAL rollup row labeled -1 (A11, "
    ":250-257).",
)
def q54_indicadores_pipeline(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    t = ev.select(
        "user_id",
        (us - F.lag(us).over(w)).alias("wait_us"),
        (F.to_date("ts") == F.lag(F.to_date("ts")).over(w)).alias("same_day"),
        weekday_monday0("ts").alias("dia"),
    )
    filtered = t.filter(
        F.col("same_day")
        & (F.col("wait_us") > 0)
        & (F.col("wait_us") < 3_000_000_000)
        & (F.col("dia") < 4)
    )
    return (
        filtered.rollup("dia")
        .agg(
            F.count("*").alias("n_esperas"),
            (
                F.sum("wait_us").cast("double") / F.count("*") / F.lit(60000000.0)
            ).alias("avg_espera_min"),
            F.grouping("dia").alias("_g"),
        )
        .withColumn(
            "dia",
            F.when(F.col("_g") == 1, F.lit(-1).cast("long")).otherwise(F.col("dia")),
        )
        .drop("_g")
    )


@register(
    "q55_facturacion_pipeline",
    """
    WITH rng AS (
      SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS fecha
      FROM rng
    ),
    daily AS (
      SELECT CAST(ts AS DATE) AS fecha,
             COUNT(*) FILTER (WHERE event_type IN ('click', 'view')) AS ingresos,
             COUNT(*) FILTER (WHERE event_type = 'purchase') AS facturado,
             COUNT(*) FILTER (WHERE event_type = 'error') AS novedades
      FROM events GROUP BY 1
    ),
    filled AS (
      SELECT s.fecha,
             COALESCE(d.ingresos, 0) AS ingresos,
             COALESCE(d.facturado, 0) AS facturado,
             COALESCE(d.novedades, 0) AS novedades
      FROM spine s LEFT JOIN daily d USING (fecha)
    )
    SELECT CAST(date_trunc('week', fecha) AS DATE) AS semana,
           CAST(SUM(ingresos) AS BIGINT) AS ingresos,
           CAST(SUM(facturado) AS BIGINT) AS facturado,
           CAST(SUM(novedades) AS BIGINT) AS novedades,
           CASE WHEN SUM(ingresos) = 0 THEN NULL
                ELSE CAST(SUM(facturado) AS DOUBLE) * 100.0
                     / CAST(SUM(ingresos) AS DOUBLE) END AS pct_facturacion,
           CASE WHEN SUM(ingresos) = 0 THEN NULL
                ELSE CAST(SUM(novedades) AS DOUBLE)
                     / CAST(SUM(ingresos) AS DOUBLE) END AS ratio_novedades
    FROM filled GROUP BY 1
    """,
    doc="Entry-point 3 pipeline (indicador modelo vs facturacion, "
    "SURVEY.md §3 / indicador-modelo-vs-facturacion.py): per-day counting "
    "by category (A14, :503-546) -> calendar spine fill (G3/J4, :643-675) "
    "-> weekly Monday-start rollup (F22, :605-635) -> executive KPI ratios "
    "with zero-guards (A16, :554-597).",
)
def q55_facturacion_pipeline(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    rng = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = rng.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("fecha")
    )
    daily = ev.groupBy(F.to_date("ts").alias("fecha")).agg(
        F.count(F.when(F.col("event_type").isin("click", "view"), 1)).alias(
            "ingresos"
        ),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("facturado"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("novedades"),
    )
    filled = spine_left_join_fill(spine, daily, on="fecha", fill=0)
    weekly = filled.groupBy(
        F.to_date(F.date_trunc("week", F.col("fecha"))).alias("semana")
    ).agg(
        F.sum("ingresos").alias("ingresos"),
        F.sum("facturado").alias("facturado"),
        F.sum("novedades").alias("novedades"),
    )
    zero_guard = lambda num: F.when(  # noqa: E731
        F.col("ingresos") == 0, F.lit(None).cast("double")
    ).otherwise(num)
    return weekly.select(
        "semana",
        "ingresos",
        "facturado",
        "novedades",
        zero_guard(
            F.col("facturado").cast("double") * 100.0
            / F.col("ingresos").cast("double")
        ).alias("pct_facturacion"),
        zero_guard(
            F.col("novedades").cast("double") / F.col("ingresos").cast("double")
        ).alias("ratio_novedades"),
    )


@register(
    "q57_narrative_verdicts",
    """
    WITH r AS (
      SELECT n_name AS sede, COUNT(*) AS n_orders,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS revenue,
             100.0 * COUNT(*) FILTER (WHERE o_orderstatus = 'F')
               / COUNT(*) AS pct_fulfilled
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1
    )
    SELECT sede, n_orders, revenue, pct_fulfilled,
           CASE WHEN pct_fulfilled >= 35 THEN 'CUMPLE'
                WHEN pct_fulfilled >= 31 THEN 'PARCIAL'
                ELSE 'NO CUMPLE' END AS verdict_cumplimiento,
           CASE WHEN n_orders >= 700 THEN 'ALTO'
                WHEN n_orders >= 500 THEN 'MEDIO'
                ELSE 'BAJO' END AS verdict_volumen
    FROM r
    """,
    doc="Rule-based narrative verdicts (U5, indicador-modelo-vs-"
    "facturacion.py:1148-1292): threshold tiers as when-chains over the "
    "per-sede executive rollup. Two broadcast dim joins + one hash agg. "
    "q79 renders the markdown narrative itself engine-side.",
)
def q57_narrative_verdicts(spark: SparkSession, sf_dir: str):
    from .registry import dsum

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    r = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(nation),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy(F.col("n_name").alias("sede"))
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "revenue"),
            (
                F.lit(100.0)
                * F.count(F.when(F.col("o_orderstatus") == "F", 1))
                / F.count("*")
            ).alias("pct_fulfilled"),
        )
    )
    return r.select(
        "sede",
        "n_orders",
        "revenue",
        "pct_fulfilled",
        F.when(F.col("pct_fulfilled") >= 35, "CUMPLE")
        .when(F.col("pct_fulfilled") >= 31, "PARCIAL")
        .otherwise("NO CUMPLE")
        .alias("verdict_cumplimiento"),
        F.when(F.col("n_orders") >= 700, "ALTO")
        .when(F.col("n_orders") >= 500, "MEDIO")
        .otherwise("BAJO")
        .alias("verdict_volumen"),
    )


@register(
    "q79_narrative_render",
    """
    WITH r AS (
      SELECT n_name AS sede, COUNT(*) AS n_orders,
             100.0 * COUNT(*) FILTER (WHERE o_orderstatus = 'F')
               / COUNT(*) AS pct_fulfilled
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1
    ),
    v AS (
      SELECT sede, n_orders, round(pct_fulfilled, 1) AS pct1,
             CASE WHEN pct_fulfilled >= 35 THEN 'CUMPLE'
                  WHEN pct_fulfilled >= 31 THEN 'PARCIAL'
                  ELSE 'NO CUMPLE' END AS vc,
             CASE WHEN pct_fulfilled >= 35 THEN '✅'
                  WHEN pct_fulfilled >= 31 THEN '⚠️'
                  ELSE '❌' END AS icon_c,
             CASE WHEN n_orders >= 700 THEN '✅'
                  WHEN n_orders >= 500 THEN '⚠️'
                  ELSE '❌' END AS icon_v
      FROM r
    )
    SELECT sede,
           printf('| %s | %.1f%% | %s | %d | %s |',
                  sede, pct1, icon_c, n_orders, icon_v) AS fila_markdown,
           printf('%s **%s el objetivo de cumplimiento** (meta: >=35%%).',
                  icon_c, vc) AS conclusion
    FROM v
    """,
    doc="Engine-side rendering of the reference's executive narrative "
    "(generar_narrativa_ejecutiva, indicador-modelo-vs-facturacion.py:"
    "1148-1292): the per-sede markdown table row and verdict sentence as "
    "format_string expressions over the q57 tiers — closing the "
    "templating half of U5 in the engine. Percentages are pre-rounded "
    "with round(x, 1) so %.1f formatting never lands on a "
    "representation tie (Java formats HALF_UP, C half-even).",
)
def q79_narrative_render(spark: SparkSession, sf_dir: str):
    base = q57_narrative_verdicts(spark, sf_dir)
    icon_c = (
        F.when(F.col("verdict_cumplimiento") == "CUMPLE", "✅")
        .when(F.col("verdict_cumplimiento") == "PARCIAL", "⚠️")
        .otherwise("❌")
    )
    icon_v = (
        F.when(F.col("verdict_volumen") == "ALTO", "✅")
        .when(F.col("verdict_volumen") == "MEDIO", "⚠️")
        .otherwise("❌")
    )
    return base.select(
        "sede",
        F.format_string(
            "| %s | %.1f%% | %s | %d | %s |",
            F.col("sede"),
            F.round(F.col("pct_fulfilled"), 1),
            icon_c,
            F.col("n_orders"),
            icon_v,
        ).alias("fila_markdown"),
        F.format_string(
            "%s **%s el objetivo de cumplimiento** (meta: >=35%%).",
            icon_c,
            F.col("verdict_cumplimiento"),
        ).alias("conclusion"),
    )
