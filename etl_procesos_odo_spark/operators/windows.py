"""Window / order-dependent operator kit — SURVEY.md §2.5 (W1–W6).

The reference implements these with sorted iterrows loops and mutable state
(e.g. the 72-line wait-time loop at
app_indicadores_modelo_atencion.py:1110-1182); here they are window
functions — one shuffle on the partition keys, then a linear in-partition
pass, which parallelizes across every distinct key at cluster scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_first(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[Column | str],
) -> DataFrame:
    """W1 — keep the first row per key after ordering (ROW_NUMBER = 1).

    Rebuild of the confirmaciones dedup-to-first-service
    (app_confirmaciones.py:259-297): sort by order_cols within each
    partition key, keep the first. Null-date exemption (reference keeps all
    null-key rows) is the caller's concern — pass a coalesced synthetic key
    as the reference does with 'SIN_FECHA_<idx>'.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def lag_wait_minutes(
    df: DataFrame,
    partition_col: str,
    arrival_ts: str,
    finish_ts: str | None = None,
    same_day_only: bool = True,
    out_col: str = "espera_min",
) -> DataFrame:
    """W3 — sessionized wait time: arrival minus the previous row's
    finish-or-arrival timestamp within each partition key.

    Rebuild of the iterrows state machine at
    app_indicadores_modelo_atencion.py:1110-1182:
    - carry-forward of the last non-null finish time → ``last(finish,
      ignorenulls=True)`` over the preceding frame (excluded rows still
      update the carry-forward state, matching the reference);
    - same-day guard → null the wait when the previous event is another day.

    Exclusion predicates (Fri/weekend/≥15h/≥50min) are downstream filters on
    the measurement, applied by the caller, so the state semantics stay
    independent of the business rules — the subtlety flagged in SURVEY.md §7.
    """
    w = Window.partitionBy(partition_col).orderBy(F.col(arrival_ts))
    prev_frame = w.rowsBetween(Window.unboundedPreceding, -1)
    basis = (
        F.coalesce(F.col(finish_ts), F.col(arrival_ts))
        if finish_ts
        else F.col(arrival_ts)
    )
    prev_basis = F.last(basis, ignorenulls=True).over(prev_frame)
    wait = (
        F.unix_timestamp(F.col(arrival_ts)) - F.unix_timestamp(prev_basis)
    ) / 60.0
    if same_day_only:
        wait = F.when(
            F.to_date(F.col(arrival_ts)) == F.to_date(prev_basis), wait
        )
    return df.withColumn(out_col, wait)


def top_n(df: DataFrame, order_cols: Sequence[Column], n: int) -> DataFrame:
    """W4 — global top-N (reference .nlargest / head(top_n)).

    Spark compiles orderBy+limit to TakeOrderedAndProject — each partition
    keeps only its local top-N, the driver merges N×partitions rows; no full
    sort at any scale.
    """
    return df.orderBy(*order_cols).limit(n)


def top_n_per_group(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[Column],
    n: int,
    rank_col: str | None = None,
) -> DataFrame:
    """W4 (grouped variant) — top-N within each group via row_number.

    With ``rank_col`` the row number is kept as a long column of that name
    (1 = first); without it the row number is dropped."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    if rank_col is not None:
        return df.withColumn(
            rank_col, F.row_number().over(w).cast("long")
        ).filter(F.col(rank_col) <= n)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk")
    )


def cumulative_sum(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    value_col: str,
    out_col: str = "acumulado",
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """W5 — running sum (Pareto cumsum,
    indicador-modelo-vs-facturacion.py:1026).

    An unpartitioned running sum funnels through one task — fine on the
    small aggregated frames it's meant for; pass partition_cols for
    large inputs.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(out_col, F.sum(value_col).over(w))


def ewma_time_decay(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    value_col: str = "value",
    tau_seconds: float = 600.0,
) -> DataFrame:
    """Per-key time-decayed EWMA — the data-dependent linear recurrence
    ``ewma_i = a_i * v_i + (1 - a_i) * ewma_{i-1}`` with a *rational*
    gap-dependent gain ``a_i = dt_i / (dt_i + tau)`` (no exp/pow: libm
    transcendentals differ across engines in the last ulp; pure +*/
    arithmetic is IEEE-identical everywhere). First event of a key
    initializes ``ewma = v``.

    A recurrence whose coefficient depends on the data has no
    fixed-frame window form — this is the documented legitimate use of
    ``applyInPandas`` (SURVEY §2.9 U2): one shuffle to co-locate each
    key, Arrow-batched into pandas, a vectorized-ordering loop per key
    (state is two floats), rows back out as Arrow. Parallelism = #keys;
    per-task memory is one key's rows.

    Returns (key, order_tiebreak, ewma).
    """
    # output schema mirrors the input's key/tiebreak types (a string user
    # id or int32 key must survive the Arrow boundary unchanged)
    key_t = df.schema[key_col].dataType.simpleString()
    tb_t = df.schema[order_tiebreak].dataType.simpleString()
    out_schema = f"{key_col} {key_t}, {order_tiebreak} {tb_t}, ewma double"

    def per_key(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["_t", order_tiebreak])
        # `_t` is epoch seconds computed JVM-side (cast(ts as double),
        # micros-exact) — converting in pandas would round ns→s
        # differently than the oracle's epoch_us/1e6
        ts = pdf["_t"].to_numpy()
        v = pdf[value_col].to_numpy()
        ewma = []
        acc = None
        prev_t = None
        for t, x in zip(ts, v):
            if acc is None:
                acc = float(x)
            else:
                dt = t - prev_t
                a = dt / (dt + tau_seconds)
                acc = a * float(x) + (1.0 - a) * acc
            prev_t = t
            ewma.append(acc)
        return pd.DataFrame(
            {
                key_col: pdf[key_col].to_numpy(),
                order_tiebreak: pdf[order_tiebreak].to_numpy(),
                "ewma": ewma,
            }
        )

    return df.select(
        key_col,
        F.col(ts_col).cast("double").alias("_t"),
        order_tiebreak,
        value_col,
    ).groupBy(key_col).applyInPandas(per_key, schema=out_schema)


def coalesce_islands(
    df: DataFrame, part_cols: list[str], seq_col: str
) -> DataFrame:
    """Gaps-and-islands: merge rows whose ``seq_col`` values are
    CONSECUTIVE integers (per ``part_cols`` group) into one island row —
    the classic ``seq - row_number()`` constant-per-island trick, so the
    whole coalesce is one ranked window plus one aggregate.

    Returns ``part_cols + (seq_start, seq_end, n_rows)`` with seq_end
    inclusive. Scale: the window and the (part, island) groupBy share
    ONE exchange (hash partitioning on part_cols satisfies the superset
    grouping's clustered distribution), and per-row window state is just
    the running rank. Feeds interval construction (e.g. busy hours →
    incident windows for q153).
    """
    w = Window.partitionBy(*part_cols).orderBy(seq_col)
    return (
        df.withColumn("_isl", F.col(seq_col) - F.row_number().over(w))
        .groupBy(*part_cols, "_isl")
        .agg(
            F.min(seq_col).alias("seq_start"),
            F.max(seq_col).alias("seq_end"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .drop("_isl")
    )


def scd2_build(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Slowly-changing-dimension type-2 build (Kimball's dimension
    versioning): turn an attribute-observation change log into validity
    intervals — one row per (key, value) EPISODE with
    ``[valid_from_us, valid_to_us)`` half-open micros bounds, a per-key
    version number, and an ``is_current`` flag on the open interval.

    Two stages over ONE partitioning: (1) collapse no-op observations —
    a row survives only if its value differs from the key's previous
    observation (LAG over (ts, tiebreak)); (2) LEAD over the survivors
    closes each episode at the next episode's start. Both windows hash-
    partition by the key and reuse the same sort, so the whole build is
    one shuffle; per-key history is bounded (an entity's change count),
    never corpus-scale — the standard SCD2 shape at any table size.

    Epochs are exact BIGINT microseconds (``unix_micros`` here,
    ``epoch_us`` in the oracle) — the repo's micros-exact discipline;
    the open interval's valid_to is NULL.
    """
    w_ord = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    # NULL is a legal attribute state ("unknown") and must open/close
    # episodes like any other value: the change test is null-safe
    # (eqNullSafe), and "first observation" is detected by a lagged
    # constant marker — NOT by _prev being NULL, which would both drop
    # NULL episodes and duplicate their neighbors.
    collapsed = (
        df.withColumn("_prev", F.lag(value_col).over(w_ord))
        .withColumn("_has_prev", F.lag(F.lit(1)).over(w_ord))
        .filter(
            F.col("_has_prev").isNull()
            | ~F.col(value_col).eqNullSafe(F.col("_prev"))
        )
        .drop("_prev", "_has_prev")
    )
    w2 = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    return collapsed.select(
        F.col(key_col),
        F.col(value_col),
        F.unix_micros(F.col(ts_col)).alias("valid_from_us"),
        F.unix_micros(F.lead(ts_col).over(w2)).alias("valid_to_us"),
        F.row_number().over(w2).cast("long").alias("version"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
    )
