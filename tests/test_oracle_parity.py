"""Operator-level golden tests against the DuckDB oracle (SURVEY.md §5.1):
every registry query with an oracle must hash-match it exactly at sf0.001.
The driver runs the same comparison at sf0.01.
"""

from __future__ import annotations

import pytest

from etl_procesos_odo_spark.registry import registry

from .conftest import SF_DIR, assert_parity

QUERIES = registry()


@pytest.mark.parametrize(
    "qdef", QUERIES, ids=[q.name for q in QUERIES]
)
def test_oracle_parity(qdef, spark, ddb):
    df = qdef.spark_fn(spark, SF_DIR)
    if qdef.oracle is None:
        assert df.count() >= 0  # rows-only smoke, mirrors driver's weak check
        return
    assert_parity(df, ddb, qdef.oracle, name=qdef.name)


# q43 joins q113 because q113's hourly windows align to the epoch in
# any whole-hour zone: a lost pin in events_stream shows only in the
# day-keyed streaming dedup.
OFF_UTC = [
    "q52_recursos_pipeline",
    "q54_indicadores_pipeline",
    "q60_slot_spine_load",
    "q113_streaming_heavy_hitters",
    "q43_streaming_dedup",
]


def test_oracle_parity_from_a_non_utc_session(spark, ddb):
    """A driver session in the clinics' own zone still matches the
    oracle: each query pins UTC where its data enters (table loader,
    stream sources, q60's spine). Sessions from get_spark are already
    UTC, so only this test can see a lost pin."""
    by_name = {q.name: q for q in QUERIES}
    key = "spark.sql.session.timeZone"
    saved = spark.conf.get(key)
    try:
        for name in OFF_UTC:
            spark.conf.set(key, "America/Bogota")
            df = by_name[name].spark_fn(spark, SF_DIR)
            assert_parity(df, ddb, by_name[name].oracle, name=name)
    finally:
        spark.conf.set(key, saved)
