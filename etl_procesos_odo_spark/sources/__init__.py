from .readers import (
    find_column,
    read_csv,
    read_parquet,
    select_existing,
)

__all__ = [
    "find_column",
    "read_csv",
    "read_parquet",
    "select_existing",
]
