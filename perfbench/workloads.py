"""The benchmark's workloads and the seeded inputs they run on.

Each workload is a fixed sequence of registry queries (an *item* is one
query, or one report on ``clinic_reports``) run round after round by one
closed-loop client. Inputs come from ``datagen.generate`` with the run's
seed; the program under test only ever sees the generated files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

# explicit CSV schemas for the clinic exports (the reference reads its
# exports with known columns; inference would re-read every file)
CLINIC_SCHEMAS = {
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
              "o_totalprice DOUBLE, o_orderdate TIMESTAMP, "
              "o_orderpriority STRING",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
                "c_acctbal DOUBLE, c_mktsegment STRING",
    "events": "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
              "event_type STRING, value DOUBLE, props STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
}


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]      # registry name prefixes, run in order
    input_tables: tuple[str, ...]  # what one round reads (rows_per_s)
    ingest: bool = False           # CSV -> parquet landing each round
    export: bool = False           # each report written to a CSV file


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "clinic_reports", 0.1,
            ("q50", "q51", "q52", "q53", "q54", "q55", "q57"),
            ("orders", "customer", "events", "nation"),
            ingest=True, export=True,
        ),
        # sf0.01 and without q95: the full comparison's time budget has
        # no room for more (README.md, "Run length")
        Workload(
            "stream_backfill", 0.01,
            ("q58", "q69", "q113"),
            ("events",),
        ),
    )
}


def generate_inputs(seed: int, sf: float, out_dir: str) -> None:
    """The star schema at ``sf`` from ``seed``, via the repository's own
    generator (its module seed is supplied from here)."""
    import datagen

    datagen.SEED = seed
    # the generator reads its document vocabulary from a fixture outside
    # the checkout; no workload reads the documents it is used for, and
    # they are written after every table a workload does read
    datagen._vocab = lambda: ["doc"]
    datagen.generate(out_dir, sf)


def write_csv_exports(data_dir: str, tables, out_dir: str) -> dict:
    """The clinic's raw exports: one CSV per table, from the generated
    parquet. Returns {table: (path, rows, bytes)}."""
    import csv

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    out = {}
    for t in tables:
        tbl = pq.read_table(os.path.join(data_dir, f"{t}.parquet"))
        path = os.path.join(out_dir, f"{t}.csv")
        # csv.writer writes None as an empty field and a float as its
        # repr; timestamps become "YYYY-MM-DD HH:MM:SS.ffffff"
        cols = [(pc.cast(c, pa.string()) if pa.types.is_timestamp(c.type)
                 else c).to_pylist() for c in tbl.columns]
        with open(path, "w", newline="") as f:
            w = csv.writer(f, doublequote=False, escapechar="\\")
            w.writerow(tbl.column_names)
            w.writerows(zip(*cols))
        out[t] = (path, tbl.num_rows, os.path.getsize(path))
    return out
