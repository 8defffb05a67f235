#!/usr/bin/env python
"""Measured scale ladder for the dedup/decontamination stack.

The 100 TB claims for q67 (MinHash LSH), q71 (inverted-index
decontamination), q102 (incremental dedup), and q155 (bloom-join
decontamination) rest on plan shape plus sf0.1 timings; this harness
turns them into a measured curve by adding a ~10x point: a synthetic
``documents`` table at "sf1" (50,000 docs), generated with the SAME
distributional profile as the driver's sf0.1 table (profiled, not
copied: 31-word vocabulary read from the real table, uniform 8-100 word
documents, en 41% / 4x ~15% languages, 20 sources, ~0.16% planted
exact-duplicate rate), and timing all four queries at
sf0.01 / sf0.1 / sf1 in ONE FRESH JVM PER SCALE POINT (the bench.py
segment protocol — no session-position drift, no cross-sf cache reuse).

The generated parquet lives under ``.scaledata/`` (gitignored — it is
derived, deterministic seed=42, ~7 MB) and only this harness reads it;
driver-facing surfaces (verify_all, bench, __spark_entry__) still use
only ``/root/testdata``. Timings use the bench.py noop-sink convention.

A fourth point, "sf10" (500,000 docs, same profile, ~58 MB), runs ONLY
the fixed-bench pair (``--sf10``): at that size the dense profile makes
q67's LSH candidate set combinatorial, but the fixed-14-doc-bench
decontamination shapes stay well-posed and answer the exact-vs-bloom
crossover question where data cost, not plan overhead, dominates.

A third arm, ``--mining`` (round 7), does the same for the
association/sequence-mining family (q176 frequent itemsets, q177
association rules, q178 sequential patterns): a synthetic 10x point
with the sf0.1 profile — lineitem 6M rows over 1.5M orders (4 avg
lines, uniform partkeys), part 200k parts over the same 25 brands,
events 1M rows over 15k users (same 5 event types, same January-2024
span) — so the one-shuffle basket-array architecture and the
order-statistics GSP collapse get measured curves, not inferences.
Results land under the "mining" key of SCALE_LADDER.json.

Usage:
    python scale_ladder.py            # generate (if absent) + run ladder
    python scale_ladder.py --sf10     # append the 500k fixed-bench point
    python scale_ladder.py --mining   # append the mining-family curve
    python scale_ladder.py --streaming-rocksdb  # 1m/10m points on the
                                      # RocksDB state store (round 11)
    python scale_ladder.py --streaming-100m  # the 100M-event decade on
                                      # BOTH providers (round 12)
    python scale_ladder.py --docs-sf3 # 3x documents point, uniform +
                                      # skew: measured scaling exponents
                                      # for q154/q108/q134 (round 12)
    python scale_ladder.py --skew-tasks  # uniform-vs-skew sf1 straggler
                                      # task metrics (round 11)
    python scale_ladder.py --extras   # skew-join and striped-rank
                                      # evidence at $SPARK_GRAFT_SF_DIR
    python scale_ladder.py --gen-only
    python scale_ladder.py --run-sf /root/repo/.scaledata/sf1  # internal
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
SF1_DIR = os.path.join(REPO_ROOT, ".scaledata", "sf1")
LADDER = [
    ("sf0.01", "/root/testdata/sf0.01"),
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", SF1_DIR),
]
QUERIES = [
    "q67_minhash_lsh_collapsed",
    "q71_decontaminate",
    "q102_incremental_dedup",
    "q155_decontaminate_bloom",
    # r7 second wave: corpus line dedup — the min(struct) first-
    # occurrence aggregation's curve vs corpus growth
    "q160_line_dedup",
    # r7 third wave: the KMV sketch (fixed k=128 rows/source — the pair
    # algebra should stay flat while the distinct build scales with the
    # corpus) and the interleave export (two striped-window ranks — the
    # no-single-reducer claim's curve)
    "q168_kmv_source_sketch",
    "q170_interleave_export",
]
N_DOCS_SF1 = 50_000
SF10_DIR = os.path.join(REPO_ROOT, ".scaledata", "sf10")
N_DOCS_SF10 = 500_000
SEED = 42

MINING_SF1_DIR = os.path.join(REPO_ROOT, ".scaledata", "mining_sf1")
MINING_QUERIES = [
    "q176_frequent_itemsets",
    "q177_association_rules",
    "q178_sequential_patterns",
]
MINING_LADDER = [
    ("sf0.01", "/root/testdata/sf0.01"),
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", MINING_SF1_DIR),
]


# Shared synthetic-events profile (testdata-shaped): BOTH the mining-sf1
# generator and the streaming-arm generator draw from this one parameter
# set, so a profile change (new event type, wider span) cannot silently
# diverge the two ladders. Draw ORDER inside each generator is part of
# its artifact's determinism contract (seed 42 reproduces the cached
# parquet byte-for-byte), so only the constants are shared, not the
# drawing code.
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
EVENT_T0 = "2024-01-01T00:00:00"
EVENT_SPAN_US = 30 * 24 * 3600 * 1_000_000


def generate_mining_sf1(out_dir: str = MINING_SF1_DIR) -> None:
    """10x lineitem/part/events with the sf0.1 profile (module
    docstring). Deterministic PCG64(seed=42); only the columns the
    mining queries read are populated with real data."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    events_path = os.path.join(out_dir, "events.parquet")
    if os.path.exists(events_path):
        # Validate the cached file's schema before trusting it: the event_id
        # tiebreak column was added after the first mining-ladder rounds, so a
        # dir cached from a prior round would break the --r8ops events arm.
        if "event_id" in pq.read_schema(events_path).names:
            return
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(SEED)

    n_orders, lines_per, n_parts = 1_500_000, 4, 200_000
    n_li = n_orders * lines_per
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(
                    np.repeat(np.arange(n_orders, dtype=np.int64), lines_per)
                ),
                "l_partkey": pa.array(
                    rng.integers(0, n_parts, size=n_li, dtype=np.int64)
                ),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )
    brands = np.array(
        [f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)]
    )
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_parts, dtype=np.int64)),
                "p_brand": pa.array(
                    brands[rng.integers(0, len(brands), size=n_parts)]
                ),
            }
        ),
        os.path.join(out_dir, "part.parquet"),
    )

    n_ev, n_users = 1_000_000, 15_000
    types = np.array(EVENT_TYPES)
    t0 = np.datetime64(EVENT_T0, "us")
    span_us = EVENT_SPAN_US
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(
                    np.arange(n_ev, dtype=np.int64)
                ),
                "user_id": pa.array(
                    rng.integers(0, n_users, size=n_ev, dtype=np.int64)
                ),
                "event_type": pa.array(
                    types[rng.integers(0, len(types), size=n_ev)]
                ),
                "ts": pa.array(
                    t0 + rng.integers(0, span_us, size=n_ev)
                ),
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )


def _run_mining_sf(sf_dir: str) -> None:
    """(internal, fresh JVM) Time the mining queries at one scale point."""
    from etl_procesos_odo_spark.registry import registry
    from etl_procesos_odo_spark.session import get_spark

    spark = get_spark("scale-ladder")
    spark.read.parquet(f"{sf_dir}/events.parquet").limit(1000).write.mode(
        "overwrite"
    ).format("noop").save()
    out: dict[str, float] = {}
    by_name = {q.name: q for q in registry()}
    for name in MINING_QUERIES:
        t0 = time.perf_counter()
        by_name[name].spark_fn(spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        out[name] = round(time.perf_counter() - t0, 2)
    n = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    print(json.dumps({"n_lineitem": n, "queries": out}))


def generate_sf1(out_dir: str = SF1_DIR, n_docs: int = N_DOCS_SF1) -> str:
    """10x documents table with the sf0.1 profile (see module docstring).
    Deterministic: numpy PCG64(seed=42), no wall-clock anywhere."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(out_dir, "documents.parquet")
    if os.path.exists(out):
        return out
    os.makedirs(out_dir, exist_ok=True)

    ref = pq.read_table(
        "/root/testdata/sf0.1/documents.parquet", columns=["text"]
    )
    vocab = sorted({w for t in ref.column("text").to_pylist() for w in t.split()})
    rng = np.random.default_rng(SEED)
    langs = np.array(["en", "zh", "es", "fr", "de"])
    lang_p = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
    n_words = rng.integers(8, 101, size=n_docs)
    word_ids = rng.integers(0, len(vocab), size=int(n_words.sum()))
    texts: list[str] = []
    pos = 0
    varr = np.array(vocab)
    for k in n_words:
        texts.append(" ".join(varr[word_ids[pos : pos + k]]))
        pos += k
    # planted exact duplicates at the sf0.1 rate (8 per 5000): each
    # chosen doc copies a random EARLIER doc's text
    n_dups = round(n_docs * 8 / 5000)
    dup_targets = rng.choice(np.arange(1, n_docs), size=n_dups, replace=False)
    for d in dup_targets:
        texts[int(d)] = texts[int(rng.integers(0, d))]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n_docs), type=pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(langs, size=n_docs, p=lang_p)),
            "source": pa.array(
                [f"src{i}" for i in rng.integers(0, 20, size=n_docs)]
            ),
            "n_chars": pa.array(
                [len(t) for t in texts], type=pa.int64()
            ),
        }
    )
    pq.write_table(tbl, out)
    return out


def _fixed_bench(spark, sf_dir: str) -> dict[str, float]:
    """Time the REAL 100 TB decontamination shape — the eval suite
    stays eval-suite-sized (14 docs) while the corpus grows, unlike
    the q71/q155 registry split (bench = corpus/37, whose density is
    ~10^3x a real suite). Exact inverted-index plan vs bloom-gated
    plan, same noop-sink timing."""
    from pyspark.sql import functions as F

    from etl_procesos_odo_spark.llm.dedup import (
        decontaminate,
        decontaminate_bloom,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 14)
    train = docs.filter(F.col("doc_id") >= 14)
    fixed: dict[str, float] = {}
    for label, fn in (
        ("exact_q71_shape", lambda: decontaminate(
            train, bench, "text", "doc_id", k=3, min_shared=2, max_df=20)),
        ("bloom_q155_shape", lambda: decontaminate_bloom(
            train, bench, "text", "doc_id", k=3, min_shared=2,
            bench_max_df=10)),
    ):
        t0 = time.perf_counter()
        fn().write.mode("overwrite").format("noop").save()
        fixed[label] = round(time.perf_counter() - t0, 2)
    return fixed


def _warm(spark, sf_dir: str) -> None:
    # warm the JVM/codegen/IO path on the table the ladder reads
    spark.read.parquet(f"{sf_dir}/documents.parquet").limit(1000).write.mode(
        "overwrite"
    ).format("noop").save()


SIMILARITY_QUERIES = [
    # r8 (r7-verdict item 4): the exact-similarity arm's df-cap /
    # prefix-filter scaling claims get a measured third point. Each
    # entry also records the result-pair count: under the fixed profile
    # vocabulary, q154's FRACTIONAL df cap (0.05) prunes terms whose df
    # grows past 5% of a growing corpus — the candidate set is expected
    # to collapse as the cap bites (the bloom-crossover precedent),
    # and the honest artifact shows cardinality next to cost.
    "q154_tfidf_cosine_pairs",
    "q175_ppjoin_pairs",
]


def _run_similarity_sf(sf_dir: str) -> None:
    """(internal, fresh JVM) Time the exact-similarity queries at one
    scale point (noop-sink convention) and record result cardinality."""
    from etl_procesos_odo_spark.registry import registry
    from etl_procesos_odo_spark.session import get_spark

    spark = get_spark("scale-ladder")
    _warm(spark, sf_dir)
    out: dict[str, float] = {}
    pairs: dict[str, int] = {}
    by_name = {q.name: q for q in registry()}
    for name in SIMILARITY_QUERIES:
        # ONE execution per query: count() forces the full plan (same
        # work as the noop sink plus a trivial 1-row aggregate) AND
        # yields the cardinality — a separate noop save would double
        # the cost of the most expensive arm at the 50k-doc point
        t0 = time.perf_counter()
        pairs[name] = by_name[name].spark_fn(spark, sf_dir).count()
        out[name] = round(time.perf_counter() - t0, 2)
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    print(json.dumps({"n_docs": n, "queries": out, "n_pairs": pairs}))


# --- docs-sf3 exponent arm (round 12, r11 verdict item 6) -------------------
# The three sf1 documents-table heavies get a 3x point (150k docs,
# uniform AND LSH-hot-template skew) so their scaling claims become
# measured exponents: exp = ln(t_sf3 / t_sf1) / ln 3, fresh-JVM warm
# numbers only (one warm execution, then one timed run — segment aging
# was exactly the r11 noise these queries kept getting blamed for).
DOCS3_QUERIES = [
    "q154_tfidf_cosine_pairs",
    "q108_cluster_keep_best",
    "q134_pagerank_neardup",
]
# Documented expectations (each query's docstring): q154's candidate
# set was pair-quadratic under this DENSE synthetic profile (31-word
# vocab -> every term's df grows ~linearly, the 5% fractional cap
# never engaged — measured r12: exponent 2.73); the r13
# candidate-budget cap (512 pairs/doc, llm/similarity.py
# tfidf_cosine_pairs) bounds enumerated candidates LINEARLY in N by
# construction -> exponent <= 2 with headroom. q108/q134 ride the
# banded-LSH pair graph (edges ~ planted-dup rate, linear) with
# O(log n) CC rounds / 2 fixed PageRank rounds -> exponent <= 1.5.
DOCS3_EXPECTED_MAX_EXP = {
    "q154_tfidf_cosine_pairs": 2.0,
    "q108_cluster_keep_best": 1.5,
    "q134_pagerank_neardup": 1.5,
}
N_DOCS_SF3 = 150_000
DOCS3_POINTS = [
    ("sf1_uniform", SF1_DIR, N_DOCS_SF1, False),
    ("sf3_uniform", os.path.join(REPO_ROOT, ".scaledata", "docs_sf3"),
     N_DOCS_SF3, False),
    ("sf1_skew", os.path.join(REPO_ROOT, ".scaledata", "docs_sf1_skew"),
     N_DOCS_SF1, True),
    ("sf3_skew", os.path.join(REPO_ROOT, ".scaledata", "docs_sf3_skew"),
     N_DOCS_SF3, True),
]


def generate_docs_variant(out_dir: str, n_docs: int, skew: bool) -> str:
    """Documents table with generate_sf1's exact profile, plus (skew)
    datagen.py's LSH-hot boilerplate template on 2% of docs — pairwise
    Jaccard ~0.9, one giant near-dup cluster. generate_sf1 itself is
    left untouched: its cached .scaledata/sf1 parquet is byte-pinned by
    the existing ladder entries."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(out_dir, "documents.parquet")
    if os.path.exists(out):
        return out
    os.makedirs(out_dir, exist_ok=True)
    ref = pq.read_table(
        "/root/testdata/sf0.1/documents.parquet", columns=["text"]
    )
    vocab = sorted({w for t in ref.column("text").to_pylist() for w in t.split()})
    varr = np.array(vocab)
    rng = np.random.default_rng(SEED)
    langs = np.array(["en", "zh", "es", "fr", "de"])
    lang_p = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
    n_words = rng.integers(8, 101, size=n_docs)
    word_ids = rng.integers(0, len(vocab), size=int(n_words.sum()))
    texts: list[str] = []
    pos = 0
    for k in n_words:
        texts.append(" ".join(varr[word_ids[pos: pos + k]]))
        pos += k
    n_dups = round(n_docs * 8 / 5000)
    dup_targets = rng.choice(np.arange(1, n_docs), size=n_dups, replace=False)
    for d in dup_targets:
        texts[int(d)] = texts[int(rng.integers(0, d))]
    if skew:
        # datagen.py --skew's template: 40-word boilerplate prefix + one
        # distinct suffix word on 2% of docs
        template = " ".join(varr[np.arange(40) % len(vocab)])
        hot = rng.choice(n_docs, size=max(2, round(n_docs * 0.02)),
                         replace=False)
        for j, d in enumerate(sorted(hot)):
            texts[int(d)] = template + " " + vocab[j % len(vocab)]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n_docs), type=pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(langs, size=n_docs, p=lang_p)),
            "source": pa.array(
                [f"src{i}" for i in rng.integers(0, 20, size=n_docs)]
            ),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(tbl, out)
    return out


def docs3_candidate_stats(sf_dir: str) -> dict:
    """The q154 candidate-cardinality decomposition, computed INSIDE the
    arm (r13 advice: the r12 numbers were hand-added to the artifact and
    a re-run silently dropped them). One DuckDB aggregate per point over
    the same 3-gram terms q154 uses: uncapped Sum_t C(df_t, 2), the
    effective df cap q154's two composed caps (5%-of-N fractional, r13
    512-pairs/doc candidate budget) derive on this corpus, and the
    candidate volume the operator actually enumerates under that cap —
    the quantity whose growth the budget bounds linearly in N."""
    import duckdb

    from etl_procesos_odo_spark.queries_llm import O_GRAMS_ALL, O_TOKENS

    doc = os.path.join(sf_dir, "documents.parquet")
    con = duckdb.connect()
    row = con.sql(
        f"""
        WITH w AS (SELECT doc_id, {O_TOKENS} AS w
                   FROM read_parquet('{doc}')),
        tkn AS (SELECT doc_id, unnest({O_GRAMS_ALL}) AS term FROM w),
        dfh AS (SELECT term, COUNT(DISTINCT doc_id) AS dfc
                FROM tkn GROUP BY 1),
        capf AS (SELECT greatest(1, CAST(floor(0.05 * COUNT(*)) AS BIGINT))
                          AS cf,
                        CAST(floor(512.0 * COUNT(*)) AS HUGEINT) AS budget
                 FROM read_parquet('{doc}')),
        hist AS (SELECT dfc,
                        SUM((CAST(dfc AS HUGEINT) * (dfc - 1)) // 2) AS pairs
                 FROM dfh GROUP BY 1),
        cum AS (SELECT dfc, SUM(pairs) OVER (ORDER BY dfc
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cpairs
                FROM hist),
        capb AS (SELECT COALESCE(MAX(dfc), 1) AS cb FROM cum
                 WHERE cpairs <= (SELECT budget FROM capf)),
        eff AS (SELECT least((SELECT cf FROM capf),
                             (SELECT cb FROM capb)) AS c)
        SELECT CAST((SELECT SUM(pairs) FROM hist) AS BIGINT),
               CAST((SELECT COALESCE(SUM(pairs), 0) FROM hist
                     WHERE dfc <= (SELECT c FROM eff)) AS BIGINT),
               CAST((SELECT c FROM eff) AS BIGINT),
               CAST((SELECT MAX(dfc) FROM dfh) AS BIGINT),
               CAST((SELECT COUNT(*) FROM dfh) AS BIGINT)
        """
    ).fetchone()
    return {
        "q154_candidate_pairs_uncapped": row[0],
        "q154_candidate_pairs_effective": row[1],
        "q154_effective_df_cap": row[2],
        "q154_max_df": row[3],
        "q154_n_terms": row[4],
    }


def _run_docs3_sf(sf_dir: str) -> None:
    """(internal, fresh JVM) Warm each heavy once, then time ONE full
    re-execution (construction included — q134 does its checkpoint
    rounds during construction). count() forces the plan and yields the
    q154 cardinality the honest artifact shows next to its cost."""
    from etl_procesos_odo_spark.registry import registry
    from etl_procesos_odo_spark.session import get_spark

    spark = get_spark("scale-ladder-docs3")
    _warm(spark, sf_dir)
    by_name = {q.name: q for q in registry()}
    out: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name in DOCS3_QUERIES:
        by_name[name].spark_fn(spark, sf_dir).count()  # warm
        t0 = time.perf_counter()
        rows[name] = by_name[name].spark_fn(spark, sf_dir).count()
        out[name] = round(time.perf_counter() - t0, 2)
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    print(json.dumps({"n_docs": n, "queries": out, "out_rows": rows}))


R8OPS_DOC_QUERIES = ["q199_fs_linkage", "q200_cdc_chunks"]
R8OPS_EVENT_QUERIES = ["q202_scd2_build", "q203_seasonal_backtest"]

# --- streaming arm (round 9) -----------------------------------------------
# The registry's streaming rows replay events.parquet as ONE micro-batch
# (exactness vs the batch oracle). This arm measures the MULTI-batch
# production path the SCALE.md streaming argument is actually about:
# events split into 8 chronological files, maxFilesPerTrigger=1 → 8
# micro-batches with an advancing watermark, per-batch trigger cost and
# state-store rows read from the engine's own progress telemetry.
STREAM_N_FILES = 8
STREAM_POINTS = [
    ("10k", 10_000),
    ("100k", 100_000),
    ("1m", 1_000_000),
    # r10 (verdict item 7): one more decade to pin the per-batch cost
    # curve; ~100k users, so this point runs 32 state partitions (see
    # _run_streaming_sf)
    ("10m", 10_000_000),
]
# r12 (verdict item 4): the 100M decade runs as its own arm
# (--streaming-100m, both state-store providers) so the cheap points
# never pay its ~1 GB generation + half-hour-per-provider cost.
STREAM_100M = ("100m", 100_000_000)


def stream_dir(label: str) -> str:
    return os.path.join(REPO_ROOT, ".scaledata", f"stream_{label}")


def generate_streaming_events(out_dir: str, n_events: int) -> None:
    """Deterministic event stream with the testdata profile (5 event
    types, ~n/100 users, 30-day span, value in [0, 100)), sorted by ts
    and split into STREAM_N_FILES chronological slices — each file is
    one micro-batch, so event time advances across batches and the
    watermark actually moves (the condition for state eviction)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    done_marker = os.path.join(out_dir, f"part-{STREAM_N_FILES - 1:05d}.parquet")
    if os.path.exists(done_marker):
        return
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(SEED)
    n_users = max(100, n_events // 100)
    types = np.array(EVENT_TYPES)
    t0 = np.datetime64(EVENT_T0, "us")
    span_us = EVENT_SPAN_US
    ts = np.sort(rng.integers(0, span_us, size=n_events))
    tbl = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(t0 + ts),
            "user_id": pa.array(
                rng.integers(0, n_users, size=n_events, dtype=np.int64)
            ),
            "event_type": pa.array(
                types[rng.integers(0, len(types), size=n_events)]
            ),
            "value": pa.array(
                np.round(rng.uniform(0, 100, size=n_events), 2)
            ),
        }
    )
    per = (n_events + STREAM_N_FILES - 1) // STREAM_N_FILES
    for i in range(STREAM_N_FILES):
        pq.write_table(
            tbl.slice(i * per, per),
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
        )


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def _run_streaming_sf(sf_dir: str, provider: str | None = None) -> None:
    """(internal, fresh JVM) Drive the three stateful streaming operators
    (q69 session, q58 arbitrary-state, q95 stream-stream join) over the
    8-file chronological replay and print ONE JSON line with total wall
    seconds, per-micro-batch trigger costs, and state rows per batch —
    all read from the engine's StreamingQueryProgress.

    ``provider="rocksdb"`` re-runs the same plans on the RocksDB state
    store (round-11 arm): the default HDFSBackedStateStoreProvider holds
    every state row on the JVM heap — fine at harness scale, but at
    100 TB / billions of keys the deployment answer is RocksDB (state
    spills to local disk, heap stays bounded, snapshot+changelog
    checkpointing). Same telemetry, so the two providers' per-batch
    trigger costs and state-row curves compare side by side."""
    from pyspark.sql import functions as F  # noqa: N812

    from etl_procesos_odo_spark.session import get_spark
    from etl_procesos_odo_spark.streaming.temporal import (
        attribution_join,
        sessionized_stream,
        stateful_user_stats,
    )

    spark = get_spark("scale-ladder-streaming")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if provider == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
    schema = spark.read.parquet(sf_dir).schema
    n_events = spark.read.parquet(sf_dir).count()
    # state partition sizing tracks KEY CARDINALITY (r9 finding: q58 at
    # 1M events went 63 s @8 state partitions -> 24.3 s @32): state-store
    # open/commit is paid per partition per micro-batch, so few
    # partitions win while keys are few, but the 10m point carries ~100k
    # users and needs the parallelism
    spark.conf.set(
        "spark.sql.shuffle.partitions", "8" if n_events <= 1_000_000 else "32"
    )
    # r13 advice: recentProgress is a ring buffer capped at
    # numRecentProgressUpdates (default 100) — a future point with >100
    # micro-batches would silently undercount out_rows and truncate the
    # per-batch telemetry the arm's claims rest on. Raise the cap far
    # above any arm's batch count and hard-fail if it is ever hit.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(sf_dir)
        )

    def drive(df, name, mode):
        # noop sink (r12): the memory sink materializes EVERY output row
        # on the driver — at the 100M point the session query emits
        # ~100M finalized sessions and the heap dies before the operator
        # is even stressed. The noop sink executes the full streaming
        # plan and reports sink rows through progress telemetry, which
        # is the per-batch operator cost this arm measures.
        t0 = time.perf_counter()
        q = (
            df.writeStream.outputMode(mode)
            .format("noop")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            wall = round(time.perf_counter() - t0, 2)
            progress = list(q.recentProgress)
            cap = int(spark.conf.get(
                "spark.sql.streaming.numRecentProgressUpdates"
            ))
            if len(progress) >= cap:
                raise AssertionError(
                    f"{name}: recentProgress hit its {cap}-entry ring "
                    "buffer — telemetry truncated; raise "
                    "numRecentProgressUpdates above the batch count"
                )
            batches = []
            out_rows = 0
            idle_triggers = 0
            for p in progress:
                sink_rows = (p.get("sink") or {}).get("numOutputRows", 0)
                if sink_rows and sink_rows > 0:
                    out_rows += sink_rows
                if p["numInputRows"] == 0:
                    # skip ALL no-data triggers (leading, interleaved, or
                    # trailing) so the per-batch arrays reflect exactly the
                    # data micro-batches; count them separately
                    idle_triggers += 1
                    continue
                st = p.get("stateOperators") or []
                batches.append(
                    {
                        "input_rows": p["numInputRows"],
                        "trigger_ms": p["durationMs"].get("triggerExecution"),
                        "state_rows": sum(
                            s.get("numRowsTotal", 0) for s in st
                        ),
                        # r12: state SIZE per batch (provider-reported
                        # bytes — heap for the default store, native for
                        # RocksDB), the bounded-state claim's direct
                        # measurement
                        "state_bytes": sum(
                            s.get("memoryUsedBytes", 0) for s in st
                        ),
                    }
                )
        finally:
            q.stop()
        per_batch = [b["trigger_ms"] for b in batches]
        n_in = sum(b["input_rows"] for b in batches)
        return {
            "wall_sec": wall,
            "n_batches": len(batches),
            "idle_triggers": idle_triggers,
            "out_rows": out_rows,
            "sink": "noop",
            "rows_per_sec": round(n_in / wall) if wall else None,
            "trigger_ms_per_batch": per_batch,
            "state_rows_per_batch": [b["state_rows"] for b in batches],
            "state_bytes_per_batch": [b["state_bytes"] for b in batches],
            "input_rows_per_batch": [b["input_rows"] for b in batches],
        }

    out = {
        "n_events": n_events,
        "state_store": provider or "hdfs_backed_default",
        # q69's production form: append mode emits watermark-finalized
        # sessions once and drops their state (complete mode is the
        # harness-only oracle-exactness path)
        "session_append": drive(
            sessionized_stream(stream()), "lad_session", "append"
        ),
        "stateful_user_stats": drive(
            stateful_user_stats(stream()), "lad_stateful", "append"
        ),
        "stream_stream_join": drive(
            attribution_join(
                stream().filter(F.col("event_type") == "click"),
                stream().filter(F.col("event_type") == "purchase"),
            ),
            "lad_ssjoin",
            "append",
        ),
    }
    print(json.dumps(out))


# --- skew-tasks arm (round 11) ----------------------------------------------
# The adversarial census is value-hostile; this arm is SKEW-hostile at
# volume: the same four join/dedup/CC headliners timed on the uniform sf1
# star schema and on its --skew twin (datagen.py: hot supplier/customer/
# user keys + one LSH-hot document template), with PER-TASK max/median
# times read from the UI REST API — the straggler evidence wall-clock
# alone can't show — plus the final adaptive plan's skew-join markers.
SKEW_TASK_QUERIES = (
    "q63_salted_segments",        # manually salted hot-key join
    "q67_minhash_lsh_collapsed",  # banded LSH + hot-band min-k cap
    "q130_entity_resolution",     # blocked ER candidate pairs
    "q134_pagerank_neardup",      # iterative CC/PageRank on the dup graph
)


def _run_skew_tasks(sf_dir: str) -> None:
    """(internal, fresh JVM, spark.ui on) Run the four skew headliners at
    one scale point and print ONE JSON line: per query, wall seconds,
    number of new stages, the straggler stage's task count and its
    executorRunTime min/median/max (ms), the max task time across all
    stages, and whether the final adaptive plan engaged a skew-split
    join (isSkewJoin / skew=true markers)."""
    import re
    import urllib.request

    from etl_procesos_odo_spark.registry import registry
    from etl_procesos_odo_spark.session import get_spark

    spark = get_spark(
        "scale-ladder-skew", extra_conf={"spark.ui.enabled": "true"}
    )
    ui = spark.sparkContext.uiWebUrl
    app_id = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications")
    )[0]["id"]

    def stages() -> dict[tuple[int, int], int]:
        data = json.load(urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=COMPLETE"
        ))
        return {
            (s["stageId"], s["attemptId"]): s["numCompleteTasks"]
            for s in data
        }

    def task_summary(stage_id: int, attempt: int) -> list[float] | None:
        try:
            ts = json.load(urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app_id}/stages/"
                f"{stage_id}/{attempt}/taskSummary?quantiles=0.0,0.5,1.0"
            ))
            return ts.get("executorRunTime")
        except Exception:
            return None  # 1-task stages sometimes age out of the store

    def executed_plans(n_before: int) -> str:
        """Concatenated physicalPlanDescription of every SQL execution
        after index ``n_before`` — read from the SQLAppStatusStore, which
        holds the EXECUTED (AQE-finalized) plan. Grepping
        df.queryExecution() was the r11 advice bug: the noop write runs
        its own QueryExecution, so df's AdaptiveSparkPlan never
        finalizes and skew markers could never appear there."""
        lst = spark._jsparkSession.sharedState().statusStore().executionsList()
        return "\n".join(
            lst.apply(i).physicalPlanDescription()
            for i in range(n_before, lst.size())
        )

    def n_executions() -> int:
        return (
            spark._jsparkSession.sharedState().statusStore()
            .executionsList().size()
        )

    qdefs = {q.name: q for q in registry()}
    # warm the IO/codegen path once so stage timings measure the plans
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000).write.mode(
        "overwrite"
    ).format("noop").save()
    out: dict = {"sf_dir": sf_dir, "queries": {}}
    for name in SKEW_TASK_QUERIES:
        before = stages()
        execs_before = n_executions()
        # timer starts BEFORE construction (r11 advice): iterative queries
        # (q134 PageRank's eager localCheckpoint rounds) execute their
        # heavy work while the DataFrame is being built, so timing only
        # the final write recorded 0.06s walls next to 40-stage rows
        t0 = time.perf_counter()
        df = qdefs[name].spark_fn(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        wall = round(time.perf_counter() - t0, 2)
        plan = executed_plans(execs_before)
        new = {k: v for k, v in stages().items() if k not in before}
        worst = None  # (max_ms, [min, med, max], n_tasks, stage_id)
        for (sid, att), n_tasks in new.items():
            q3 = task_summary(sid, att)
            if q3 and (worst is None or q3[2] > worst[0]):
                worst = (q3[2], q3, n_tasks, sid)
        out["queries"][name] = {
            "wall_sec": wall,
            "n_stages": len(new),
            "skew_join_in_plan": bool(
                # executed-plan markers: SortMergeJoin/ShuffledHashJoin
                # print "(skew=true)" when AQE splits a skewed partition,
                # AQEShuffleRead prints "skewed" in its reader spec
                re.search(r"isSkewJoin=true|skew=true|AQEShuffleRead.*skewed",
                          plan)
            ),
            "straggler_stage": None if worst is None else {
                "stage_id": worst[3],
                "n_tasks": worst[2],
                "task_ms_min_med_max": worst[1],
            },
        }
    print(json.dumps(out))


def _run_r8ops_sf(sf_dir: str, which: str) -> None:
    """(internal, fresh JVM) Time the round-8 operators at one scale
    point: the documents-based pair (linkage, CDC chunking) on the
    documents ladder, the events-based pair (SCD2, backtest) on the
    mining ladder's 10x events table. Noop-sink convention."""
    from etl_procesos_odo_spark.registry import registry
    from etl_procesos_odo_spark.session import get_spark

    names = R8OPS_DOC_QUERIES if which == "docs" else R8OPS_EVENT_QUERIES
    table = "documents" if which == "docs" else "events"
    spark = get_spark("scale-ladder")
    spark.read.parquet(f"{sf_dir}/{table}.parquet").limit(1000).write.mode(
        "overwrite"
    ).format("noop").save()
    out: dict[str, float] = {}
    by_name = {q.name: q for q in registry()}
    for name in names:
        t0 = time.perf_counter()
        by_name[name].spark_fn(spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        out[name] = round(time.perf_counter() - t0, 2)
    n = spark.read.parquet(f"{sf_dir}/{table}.parquet").count()
    print(json.dumps({f"n_{table}": n, "queries": out}))


def _run_one_sf(sf_dir: str) -> None:
    """(internal, fresh JVM) Time the four ladder queries at one scale
    point with the bench.py noop-sink convention; print ONE JSON line."""
    from etl_procesos_odo_spark.registry import registry
    from etl_procesos_odo_spark.session import get_spark

    spark = get_spark("scale-ladder")
    _warm(spark, sf_dir)
    out: dict[str, float] = {}
    by_name = {q.name: q for q in registry()}
    for name in QUERIES:
        t0 = time.perf_counter()
        by_name[name].spark_fn(spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        out[name] = round(time.perf_counter() - t0, 2)
    fixed = _fixed_bench(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    print(json.dumps({"n_docs": n, "queries": out, "fixed_bench": fixed}))


def _run_fixed_only(sf_dir: str) -> None:
    """(internal, fresh JVM) sf10 point: fixed-bench pair only."""
    from etl_procesos_odo_spark.session import get_spark

    spark = get_spark("scale-ladder")
    _warm(spark, sf_dir)
    fixed = _fixed_bench(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    print(json.dumps({"n_docs": n, "fixed_bench": fixed}))


def skew_join_bench(spark, sf_dir: str) -> dict[str, float]:
    """Evidence for the salted-join scale claim (operators/joins.py): a
    deliberately skewed big side (~95% of rows on one hot key, inflated
    10×) equi-joined against a 1000-row dim with broadcast disabled (the
    big-big scenario salting exists for). Three measurements:

    - unsalted, AQE skew-split off  → the straggler worst case;
    - unsalted, AQE skew-split on   → what the runtime rescues for free;
    - salted (n_salt=32)            → the manual guard, hot key spread
                                      across 32 reducers.

    Reported under the "extras" key of SCALE_LADDER.json.
    """
    from pyspark.sql import functions as F

    from etl_procesos_odo_spark.operators.joins import salted_join

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            F.when(F.col("l_orderkey") % 20 != 0, F.lit(1).cast("long"))
            .otherwise(F.pmod(F.col("l_orderkey"), F.lit(1000)))
            .alias("k"),
            F.col("l_orderkey").alias("rk"),
            "l_quantity",
        )
        .withColumn("_i", F.explode(F.sequence(F.lit(1), F.lit(10))))
    )
    dim = spark.range(1000).select(
        F.col("id").alias("dk"), (F.col("id") * 2).alias("payload")
    )
    saved = {
        "spark.sql.autoBroadcastJoinThreshold":
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "spark.sql.adaptive.skewJoin.enabled":
            spark.conf.get("spark.sql.adaptive.skewJoin.enabled"),
    }
    res: dict[str, float] = {}

    def run(tag: str, df) -> None:
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        res[tag] = round(time.perf_counter() - t0, 3)

    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        unsalted = li.join(dim, li["k"] == dim["dk"], "inner")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        run("skew_join_unsalted_noaqe_sec", unsalted)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        run("skew_join_unsalted_aqe_sec", unsalted)
        run(
            "skew_join_salted_sec",
            salted_join(li, dim, "k", "dk", "rk", n_salt=32),
        )
    except Exception as exc:
        print(f"BENCH ERROR skew_join: {exc}", file=sys.stderr)
    finally:
        for key, val in saved.items():
            spark.conf.set(key, val)
    return res


def striped_rank_bench(spark) -> dict[str, float]:
    """Evidence for the partitioner's striped-rank scale claim
    (operators/partitioner.py:_striped_global_rank): the adversarial
    one-giant-unit case — 10M distinct keys in a SINGLE unit, where a
    plain ``row_number() over (partition by unit ...)`` funnels the whole
    unit through one task (the 10^8-keys-per-unit straggler the striping
    exists for), vs the striped form (4096 high-bit stripes, parallel
    local ranks + broadcast prefix offsets). Best-of-2 warm each; the
    results are bit-identical (property-tested), this measures only the
    straggler."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_procesos_odo_spark.operators.partitioner import (
        _striped_global_rank,
        seeded_order_hash,
    )

    keys = spark.range(10_000_000).select(
        F.lit("u0").alias("unit"), F.col("id").alias("k")
    )
    striped = _striped_global_rank(
        keys, "unit", "k", seeded_order_hash(F.col("k"), 42)
    )
    w = Window.partitionBy("unit").orderBy(
        F.xxhash64(F.col("k").cast("string"), F.lit(42)), "k"
    )
    plain = keys.withColumn("_rk", F.row_number().over(w))
    res: dict[str, float] = {}
    try:
        for tag, df in (("striped_rank_10m_one_unit_sec", striped),
                        ("plain_window_rank_10m_one_unit_sec", plain)):
            df.write.mode("overwrite").format("noop").save()  # warm
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                el = time.perf_counter() - t0
                best = el if best is None else min(best, el)
            res[tag] = round(best, 3)
    except Exception as exc:
        print(f"BENCH ERROR striped_rank: {exc}", file=sys.stderr)
    return res


def _run_extras(sf_dir: str) -> None:
    """(internal, fresh JVM) The skew-join and striped-rank evidence
    benches at one documents/lineitem scale point; print ONE JSON line."""
    from etl_procesos_odo_spark.session import get_spark

    spark = get_spark("scale-ladder")
    out = skew_join_bench(spark, sf_dir)
    out.update(striped_rank_bench(spark))
    print(json.dumps(out))


def main() -> None:
    if "--run-sf" in sys.argv:
        _run_one_sf(sys.argv[sys.argv.index("--run-sf") + 1])
        return
    if "--run-extras" in sys.argv:
        _run_extras(sys.argv[sys.argv.index("--run-extras") + 1])
        return
    if "--extras" in sys.argv:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", dict(LADDER)["sf0.1"])
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--run-extras",
             sf_dir],
            capture_output=True, text=True, timeout=3600, cwd=REPO_ROOT,
        )
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            raise SystemExit("extras segment failed")
        ladder_path = os.path.join(REPO_ROOT, "SCALE_LADDER.json")
        with open(ladder_path) as f:
            results = json.load(f)
        results["extras"] = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(ladder_path, "w") as f:
            json.dump(results, f, indent=1)
        print(json.dumps(results["extras"]))
        return
    if "--run-fixed" in sys.argv:
        _run_fixed_only(sys.argv[sys.argv.index("--run-fixed") + 1])
        return
    if "--run-mining" in sys.argv:
        _run_mining_sf(sys.argv[sys.argv.index("--run-mining") + 1])
        return
    if "--run-similarity" in sys.argv:
        _run_similarity_sf(sys.argv[sys.argv.index("--run-similarity") + 1])
        return
    if "--run-r8ops" in sys.argv:
        i = sys.argv.index("--run-r8ops")
        _run_r8ops_sf(sys.argv[i + 1], sys.argv[i + 2])
        return
    if "--run-streaming" in sys.argv:
        i = sys.argv.index("--run-streaming")
        prov = sys.argv[i + 2] if len(sys.argv) > i + 2 else None
        _run_streaming_sf(sys.argv[i + 1], provider=prov)
        return
    if "--run-skew-tasks" in sys.argv:
        _run_skew_tasks(sys.argv[sys.argv.index("--run-skew-tasks") + 1])
        return
    if "--skew-tasks" in sys.argv:
        # round-11 arm: uniform-vs-skew straggler evidence for the four
        # join/dedup/CC headliners. Expects both sf1 star dirs generated
        # (datagen.py --sf 1 [--skew]); one fresh JVM per dataset.
        ladder_path = os.path.join(REPO_ROOT, "SCALE_LADDER.json")
        with open(ladder_path) as f:
            results = json.load(f)
        arms: dict[str, dict] = {}
        for label, d in (
            ("uniform_sf1", os.path.join(REPO_ROOT, ".scaledata", "star_sf1")),
            ("skew_sf1", os.path.join(REPO_ROOT, ".scaledata", "star_sf1_skew")),
        ):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--run-skew-tasks", d],
                capture_output=True, text=True, timeout=3600, cwd=REPO_ROOT,
            )
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                raise SystemExit(f"skew-tasks segment {label} failed")
            arms[label] = json.loads(proc.stdout.strip().splitlines()[-1])
        results["skew_tasks"] = arms
        with open(ladder_path, "w") as f:
            json.dump(results, f, indent=1)
        print(json.dumps(arms))
        return
    if "--run-docs3" in sys.argv:
        _run_docs3_sf(sys.argv[sys.argv.index("--run-docs3") + 1])
        return
    if "--docs-sf3" in sys.argv:
        # round-12 arm (r11 verdict item 6): measured scaling exponents
        # for the three documents-table heavies, uniform + skew, one
        # fresh JVM per point, warm numbers only.
        import math

        generate_sf1()
        ladder_path = os.path.join(REPO_ROOT, "SCALE_LADDER.json")
        with open(ladder_path) as f:
            results = json.load(f)
        arm: dict[str, dict] = {}
        # the 150k-doc q154 point needs more than the 8g default heap
        # (local mode: one JVM is driver + executors); same sizing note
        # as the 100m streaming arm
        env_docs3 = dict(os.environ)
        env_docs3.setdefault("SPARK_DRIVER_MEMORY", "24g")
        for label, d, n_docs, skew in DOCS3_POINTS:
            if label != "sf1_uniform":
                generate_docs_variant(d, n_docs, skew)
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--run-docs3", d],
                capture_output=True, text=True, timeout=7200, cwd=REPO_ROOT,
                env=env_docs3,
            )
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                raise SystemExit(f"docs-sf3 segment {label} failed")
            arm[label] = json.loads(proc.stdout.strip().splitlines()[-1])
            # candidate decomposition computed in-arm (r13 advice: the
            # r12 fields were hand-added and a re-run dropped them)
            arm[label].update(docs3_candidate_stats(d))
        exps: dict[str, dict] = {}
        for qname in DOCS3_QUERIES:
            exps[qname] = {
                "expected_max": DOCS3_EXPECTED_MAX_EXP[qname],
            }
            for variant in ("uniform", "skew"):
                t1 = arm[f"sf1_{variant}"]["queries"][qname]
                t3 = arm[f"sf3_{variant}"]["queries"][qname]
                exps[qname][variant] = round(
                    math.log(t3 / t1) / math.log(3), 3
                ) if t1 > 0 and t3 > 0 else None
                if qname != "q154_tfidf_cosine_pairs":
                    continue
                # cost-vs-candidates and candidate-growth exponents,
                # against the EFFECTIVE (budget-capped) candidate set
                # the operator enumerates
                c1 = arm[f"sf1_{variant}"]["q154_candidate_pairs_effective"]
                c3 = arm[f"sf3_{variant}"]["q154_candidate_pairs_effective"]
                if t1 > 0 and t3 > 0 and c1 and c3 and c1 != c3:
                    exps[qname][f"{variant}_vs_candidates"] = round(
                        math.log(t3 / t1) / math.log(c3 / c1), 3
                    )
                if c1 and c3:
                    exps[qname][f"{variant}_candidate_growth_exp"] = round(
                        math.log(c3 / c1) / math.log(3), 3
                    )
        arm["exponents"] = exps
        arm["protocol"] = (
            "fresh JVM per point, SPARK_DRIVER_MEMORY=24g, one warm "
            "execution then one timed count() including construction; "
            "candidate decomposition computed in-arm per point (r13)"
        )
        results["docs_sf3"] = arm
        with open(ladder_path, "w") as f:
            json.dump(results, f, indent=1)
        print(json.dumps(arm))
        return
    if "--streaming-100m" in sys.argv:
        # round-12 arm (r11 verdict item 4): the 100M-event decade for
        # the three stateful operators on BOTH state-store providers,
        # merged into the existing streaming/streaming_rocksdb curves.
        # One fresh JVM per provider; trigger times, rows/sec, and
        # state rows+bytes per batch all come from the engine's own
        # StreamingQueryProgress.
        ladder_path = os.path.join(REPO_ROOT, "SCALE_LADDER.json")
        with open(ladder_path) as f:
            results = json.load(f)
        label, n = STREAM_100M
        d = stream_dir(label)
        generate_streaming_events(d, n)
        merged: dict[str, dict] = {}
        # 8g (the default) dies on the first 12.5M-row micro-batch: in
        # local mode one JVM holds driver + executors + the heap-resident
        # default state store. 24g fits with headroom (measured: the
        # whole q58 pass peaks ~17 GB total); 48g was WORSE — G1 happily
        # balloons toward max under shuffle churn and the 32 Python
        # state workers then die to the OS OOM killer (silent SIGKILL,
        # empty "worker crashed" messages — the r12 probe isolated it).
        env_100m = dict(os.environ)
        env_100m.setdefault("SPARK_DRIVER_MEMORY", "24g")
        for key, prov_args in (("streaming", []),
                               ("streaming_rocksdb", ["rocksdb"])):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--run-streaming", d, *prov_args],
                capture_output=True, text=True, timeout=14400,
                cwd=REPO_ROOT, env=env_100m,
            )
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                raise SystemExit(f"streaming-100m segment {key} failed")
            point = json.loads(proc.stdout.strip().splitlines()[-1])
            results.setdefault(key, {})[label] = point
            merged[key] = point
        with open(ladder_path, "w") as f:
            json.dump(results, f, indent=1)
        print(json.dumps(merged))
        return
    if "--streaming-rocksdb" in sys.argv:
        # round-11 arm: the 1m/10m decade of the streaming ladder on the
        # RocksDB state store, side-by-side with the default-provider
        # numbers already under results["streaming"]
        ladder_path = os.path.join(REPO_ROOT, "SCALE_LADDER.json")
        with open(ladder_path) as f:
            results = json.load(f)
        rocks: dict[str, dict] = {}
        for label, n in STREAM_POINTS:
            if label not in ("1m", "10m"):
                continue
            d = stream_dir(label)
            generate_streaming_events(d, n)
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--run-streaming", d, "rocksdb"],
                capture_output=True, text=True, timeout=3600, cwd=REPO_ROOT,
            )
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                raise SystemExit(f"streaming-rocksdb segment {label} failed")
            rocks[label] = json.loads(
                proc.stdout.strip().splitlines()[-1]
            )
        # merge, don't replace: the 100m decade lands via its own arm
        results.setdefault("streaming_rocksdb", {}).update(rocks)
        with open(ladder_path, "w") as f:
            json.dump(results, f, indent=1)
        print(json.dumps(rocks))
        return
    if "--streaming" in sys.argv:
        ladder_path = os.path.join(REPO_ROOT, "SCALE_LADDER.json")
        with open(ladder_path) as f:
            results = json.load(f)
        streaming: dict[str, dict] = {}
        for label, n in STREAM_POINTS:
            d = stream_dir(label)
            generate_streaming_events(d, n)
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--run-streaming", d],
                capture_output=True, text=True, timeout=3600, cwd=REPO_ROOT,
            )
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                raise SystemExit(f"streaming segment {label} failed")
            streaming[label] = json.loads(
                proc.stdout.strip().splitlines()[-1]
            )
        # merge, don't replace: the 100m decade lands via its own arm
        results.setdefault("streaming", {}).update(streaming)
        with open(ladder_path, "w") as f:
            json.dump(results, f, indent=1)
        print(json.dumps(streaming))
        return
    if "--r8ops" in sys.argv:
        generate_sf1()
        generate_mining_sf1()
        ladder_path = os.path.join(REPO_ROOT, "SCALE_LADDER.json")
        with open(ladder_path) as f:
            results = json.load(f)
        r8: dict[str, dict] = {}
        for label, sf_dir, which in (
            [(lb, d, "docs") for lb, d in LADDER]
            + [(lb, d, "events") for lb, d in MINING_LADDER]
        ):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--run-r8ops",
                 sf_dir, which],
                capture_output=True, text=True, timeout=3600, cwd=REPO_ROOT,
            )
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                raise SystemExit(f"r8ops segment {label}/{which} failed")
            seg = json.loads(proc.stdout.strip().splitlines()[-1])
            slot = r8.setdefault(label, {"queries": {}})
            slot["queries"].update(seg.pop("queries"))
            slot.update(seg)
        results["r8ops"] = r8
        with open(ladder_path, "w") as f:
            json.dump(results, f, indent=1)
        print(json.dumps(r8))
        return
    if "--similarity" in sys.argv:
        generate_sf1()
        ladder_path = os.path.join(REPO_ROOT, "SCALE_LADDER.json")
        with open(ladder_path) as f:
            results = json.load(f)
        sim: dict[str, dict] = {}
        for label, sf_dir in LADDER:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--run-similarity", sf_dir],
                capture_output=True, text=True, timeout=3600, cwd=REPO_ROOT,
            )
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                raise SystemExit(f"similarity segment {label} failed")
            sim[label] = json.loads(proc.stdout.strip().splitlines()[-1])
        results["similarity"] = sim
        with open(ladder_path, "w") as f:
            json.dump(results, f, indent=1)
        print(json.dumps(sim))
        return
    if "--mining" in sys.argv:
        generate_mining_sf1()
        ladder_path = os.path.join(REPO_ROOT, "SCALE_LADDER.json")
        with open(ladder_path) as f:
            results = json.load(f)
        mining: dict[str, dict] = {}
        for label, sf_dir in MINING_LADDER:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--run-mining",
                 sf_dir],
                capture_output=True, text=True, timeout=3600, cwd=REPO_ROOT,
            )
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                raise SystemExit(f"mining segment {label} failed")
            mining[label] = json.loads(proc.stdout.strip().splitlines()[-1])
        results["mining"] = mining
        with open(ladder_path, "w") as f:
            json.dump(results, f, indent=1)
        print(json.dumps(mining))
        return
    if "--sf10" in sys.argv:
        generate_sf1(SF10_DIR, N_DOCS_SF10)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--run-fixed",
             SF10_DIR],
            capture_output=True, text=True, timeout=3600, cwd=REPO_ROOT,
        )
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            raise SystemExit("sf10 segment failed")
        ladder_path = os.path.join(REPO_ROOT, "SCALE_LADDER.json")
        with open(ladder_path) as f:
            results = json.load(f)
        results["sf10"] = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(ladder_path, "w") as f:
            json.dump(results, f, indent=1)
        print(json.dumps(results["sf10"]))
        return
    generate_sf1()
    if "--gen-only" in sys.argv:
        print(f"generated {SF1_DIR}")
        return
    results: dict[str, dict] = {}
    for label, sf_dir in LADDER:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--run-sf", sf_dir],
            capture_output=True,
            text=True,
            timeout=3600,
            cwd=REPO_ROOT,
        )
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            raise SystemExit(f"ladder segment {label} failed")
        results[label] = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(REPO_ROOT, "SCALE_LADDER.json"), "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
