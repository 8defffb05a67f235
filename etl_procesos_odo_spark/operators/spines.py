"""Spine (dimension) generators — SURVEY.md §2.7 G1–G2.

Spines are tiny by construction (24 rows, ≤ a few thousand dates/slots), so
every spine join downstream is a broadcast join: no shuffle of the fact side
regardless of data scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _one_row(spark: SparkSession) -> DataFrame:
    return spark.range(1)


def hour_spine(spark: SparkSession) -> DataFrame:
    """G2 — hours 0–23 (reference pd.DataFrame({'Hora': range(24)}),
    app_calculo_necesidad_recepción_call_center.py:436)."""
    return spark.range(24).select(F.col("id").alias("hora"))


def time_slot_spine(
    spark: SparkSession,
    start_hhmm: str = "06:30",
    end_hhmm: str = "19:00",
    step_minutes: int = 5,
) -> DataFrame:
    """G1 — 'HH:MM' strings every ``step_minutes`` from start to end
    inclusive (app_calculador_recursos_modelo_atencion.py:124-136)."""
    start_ts = F.to_timestamp(F.lit(f"2000-01-01 {start_hhmm}:00"))
    end_ts = F.to_timestamp(F.lit(f"2000-01-01 {end_hhmm}:00"))
    return (
        _one_row(spark)
        .select(
            F.explode(
                F.sequence(start_ts, end_ts, F.expr(f"interval {step_minutes} minutes"))
            ).alias("_ts")
        )
        .select(F.date_format("_ts", "HH:mm").alias("slot"))
    )
