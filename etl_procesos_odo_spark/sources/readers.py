"""Sources layer: readers + dynamic-schema helpers (SURVEY.md §1, §2.1).

The reference never declares schemas; it *discovers* columns by
case-insensitive substring match (encontrar_columna,
app_indicadores_modelo_atencion.py:676-695; per-sheet scans,
indicador-modelo-vs-facturacion.py:140-161) and degrades gracefully when
expected columns are missing (app.py:27-35). Those behaviors are rebuilt
here as plain-Python schema utilities that run on ``df.columns`` before plan
construction — no Catalyst extension needed (SURVEY.md §4 item 3).

Excel concerns (S1–S4, S6): the harness environment has no Excel reader jar;
``read_excel`` therefore goes through pandas at the edge only and is gated
behind an import-try. Parquet/CSV (S5, S7) are native Spark readers with full
pushdown.
"""

from __future__ import annotations

import unicodedata
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def _norm(s: str) -> str:
    """Casefold + strip accents + collapse whitespace, for fuzzy matching."""
    s = unicodedata.normalize("NFKD", s)
    s = "".join(ch for ch in s if not unicodedata.combining(ch))
    return " ".join(s.lower().split())


def find_column(
    df: DataFrame,
    *keywords: str,
    last: bool = False,
    exclude: Sequence[str] = (),
) -> str | None:
    """Case/accent-insensitive substring column discovery.

    Mirrors ``encontrar_columna`` (reference
    app_indicadores_modelo_atencion.py:676-695) and the "last column
    containing 'nombre'" pattern (ibid.:1571-1577): returns the first (or
    last) column whose normalized name contains *all* keywords and none of
    ``exclude``.
    """
    keys = [_norm(k) for k in keywords]
    excl = [_norm(e) for e in exclude]
    hits = [
        c
        for c in df.columns
        if all(k in _norm(c) for k in keys) and not any(e in _norm(c) for e in excl)
    ]
    if not hits:
        return None
    return hits[-1] if last else hits[0]


def select_existing(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Project onto the intersection of ``cols`` and the actual schema.

    Rebuild of the degrade-gracefully projection at reference app.py:27-35
    (P1). Column pruning then flows to the parquet scan via Catalyst.
    """
    have = {c.lower(): c for c in df.columns}
    keep = [have[c.lower()] for c in cols if c.lower() in have]
    return df.select(*keep)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan with predicate pushdown — the engine's default source."""
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    encoding: str = "UTF-8",
) -> DataFrame:
    """CSV scan (S5). ``utf-8-sig`` BOM decode (reference
    app_call_center.py:13) is handled by Spark's ``encoding`` option;
    pass an explicit schema at scale — inference re-reads the file.
    """
    reader = spark.read.option("header", str(header).lower()).option(
        "encoding", encoding
    )
    if schema is not None:
        return reader.schema(schema).csv(path)
    return reader.option("inferSchema", "true").csv(path)


def read_excel(path: str, spark: SparkSession, sheet_name=0, skiprows: int = 0):
    """Excel scan (S1–S3) via pandas at the edge, gated on openpyxl.

    Reference reads entire workbooks eagerly (app.py:24; multi-sheet at
    app_calculador_recursos_modelo_atencion.py:596-608). Excel files are
    inherently single-machine inputs (≤10⁶ rows); at scale data lands as
    parquet and this path is only an ingestion edge.
    """
    try:
        import pandas as pd  # noqa: F401
        import openpyxl  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "Excel ingestion requires pandas+openpyxl; convert to parquet/CSV "
            "for the engine path"
        ) from exc
    import pandas as pd

    out = pd.read_excel(path, sheet_name=sheet_name, skiprows=skiprows)
    if isinstance(out, dict):
        return {k: spark.createDataFrame(v) for k, v in out.items()}
    return spark.createDataFrame(out)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema=None,
    corrupt_col: str = "_corrupt_record",
):
    """JSON-lines scan — the interchange format LLM corpora actually ship
    as (one JSON document per line; gzip/zstd splittable-per-file). Runs
    PERMISSIVE: a malformed line lands whole in ``corrupt_col`` instead
    of failing the 100 TB read, so the pipeline can quarantine-and-count
    bad records (filter ``corrupt_col IS NOT NULL``) rather than rerun.

    Pass an explicit ``schema`` at scale — inference is a full extra
    pass; the corrupt column is appended to it automatically. Column
    pruning and filter pushdown apply as with any Spark JSON source.
    Caveat (Spark UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN):
    a query referencing ONLY ``corrupt_col`` must cache/materialize the
    frame first — quarantine counts should select a data column too.
    """
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", corrupt_col
    )
    if schema is not None:
        from pyspark.sql.types import StringType, StructField, StructType

        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        if corrupt_col not in [f.name for f in schema.fields]:
            schema = StructType(
                list(schema.fields) + [StructField(corrupt_col, StringType())]
            )
        return reader.schema(schema).json(path)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, compression: str = "gzip") -> None:
    """JSON-lines sink: one JSON object per line, one file per partition
    (repartition first to control file count/size at scale)."""
    df.write.mode("overwrite").option("compression", compression).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — the other columnar interchange format (Hive/Trino
    ecosystems). Native Spark source: predicate pushdown, column
    pruning, and vectorized reads apply exactly as with parquet."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, compression: str = "zlib") -> None:
    """ORC sink (one file per partition; repartition first to control
    file sizing at scale)."""
    df.write.mode("overwrite").option("compression", compression).orc(path)
