"""Round-4 corpus-governance operators: per-domain quotas, exact heavy
hitters via bounded-memory sketches, ANN recall evaluation, canonical doc
selection, and training-mix rebalancing.

The load-bearing properties here are the ones sf-scale oracle runs can't
pin: the Misra-Gries superset guarantee under ADVERSARIAL partition
layouts, the quota split's equivalence to the single-window form, the
full-probe recall identity, and the rebalance feasibility invariants.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_procesos_odo_spark.llm.sampling import mix_rebalance, source_quota
from etl_procesos_odo_spark.llm.similarity import ann_recall
from etl_procesos_odo_spark.llm.sketches import (
    _misra_gries_partition,
    heavy_hitters,
)


# ---------------------------------------------------------------------------
# heavy hitters
# ---------------------------------------------------------------------------

def _skewed_rows():
    # 'hot' 40%, 'warm' 20%, long tail of 400 singletons in 1000 rows
    rows = [("hot",)] * 400 + [("warm",)] * 200 + [
        (f"tail{i}",) for i in range(400)
    ]
    return rows


@pytest.mark.parametrize("layout", ["single", "hash32", "sorted_adversarial"])
def test_heavy_hitters_exact_under_any_partitioning(spark, layout):
    """The output must equal plain GROUP BY HAVING no matter how rows land
    in partitions — including the adversarial layout where each hot key's
    rows are spread thinly across every partition."""
    df = spark.createDataFrame(_skewed_rows(), "k string")
    if layout == "single":
        df = df.coalesce(1)
    elif layout == "hash32":
        df = df.repartition(32, "k")
    else:
        # round-robin spread: every partition sees a slice of the hot keys
        # interleaved with tail keys — the worst case for local summaries
        df = df.repartition(32)
    got = {
        (r["k"], r["cnt"])
        for r in heavy_hitters(df, "k", theta=0.15).collect()
    }
    assert got == {("hot", 400), ("warm", 200)}


def test_heavy_hitters_threshold_boundary(spark):
    """A key at exactly ceil(theta*N) qualifies; one below does not."""
    rows = [("a",)] * 30 + [("b",)] * 29 + [(f"t{i}",) for i in range(141)]
    df = spark.createDataFrame(rows, "k string")  # N=200, ceil(.15*200)=30
    got = {(r["k"], r["cnt"]) for r in heavy_hitters(df, "k", 0.15).collect()}
    assert got == {("a", 30)}


def test_heavy_hitters_theta_validation(spark):
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError):
        heavy_hitters(df, "k", theta=0.0)


def test_misra_gries_summary_is_bounded_and_superset():
    """Feed the partition kernel a stream in adversarial order (tail keys
    first so the table is full before the heavy key arrives): the summary
    stays within the counter budget and still surfaces the heavy key."""
    tail = pd.DataFrame({"k": [f"t{i}" for i in range(500)]})
    hot = pd.DataFrame({"k": ["hot"] * 300})
    out = list(_misra_gries_partition(iter([tail, hot]), "k", counters=14))
    keys = set(out[0]["k"])
    assert len(keys) <= 14
    assert "hot" in keys  # freq 300/800 >> n/(c+1) = 53


# ---------------------------------------------------------------------------
# source quota
# ---------------------------------------------------------------------------

def test_source_quota_equals_single_window(spark):
    """The count-bypass split must be semantically identical to the naive
    row_number() form it optimizes."""
    rows = [
        (i, f"src{i % 7}", (i * 37) % 100) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, score long")
    got = source_quota(df, "source", 10, "score", "doc_id").select(
        "doc_id", "source", "score"
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.col("doc_id"))
    want = (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .drop("rk")
    )
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()
    }


def test_source_quota_under_quota_groups_pass_through(spark):
    rows = [(i, "small", i) for i in range(5)] + [
        (100 + i, "big", i) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, score long")
    out = source_quota(df, "source", 10, "score", "doc_id")
    per = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per == {"small": 5, "big": 10}


# ---------------------------------------------------------------------------
# ANN recall evaluation
# ---------------------------------------------------------------------------

def test_ann_recall_full_probe_is_perfect(spark):
    """With nprobe == n_cells every query scans every posting list, so the
    IVF result is exactly the brute-force top-k and recall must be 1.0 —
    the identity that pins the recall computation itself (a join/count bug
    would break it even when the index is perfect)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = ann_recall(
        emb, emb.filter(F.col("vec_id") < 5), n_cells=4, k=3, nprobe=4
    ).collect()
    assert len(out) == 5
    assert all(r["recall"] == 1.0 for r in out)
    assert all(r["n_exact"] == 3 and r["n_hits"] == 3 for r in out)


def test_ann_recall_bounds_and_monotonicity(spark):
    """Recall in [0,1] and never decreases as nprobe grows."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)

    def mean_recall(nprobe):
        rows = ann_recall(emb, q, n_cells=8, k=5, nprobe=nprobe).collect()
        assert all(0.0 <= r["recall"] <= 1.0 for r in rows)
        return sum(r["recall"] for r in rows) / len(rows)

    assert mean_recall(1) <= mean_recall(2) + 1e-12


# ---------------------------------------------------------------------------
# cluster keep-best
# ---------------------------------------------------------------------------

def test_cluster_keep_best_picks_max_score_member(spark):
    from etl_procesos_odo_spark.llm.dedup import (
        cluster_keep_best,
        dedup_clusters,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "n_chars")
    kept = cluster_keep_best(docs, "text", "doc_id", "n_chars").collect()
    clusters = dedup_clusters(docs, "text", "doc_id").collect()

    members: dict[int, list[int]] = {}
    for r in clusters:
        members.setdefault(r["cluster_id"], []).append(r["doc_id"])
    score = {r["doc_id"]: r["n_chars"] for r in docs.collect()}

    assert len(kept) == len(members)  # one row per cluster
    assert sum(r["n_members"] for r in kept) == docs.count()
    for r in kept:
        ms = members[r["cluster_id"]]
        assert r["n_members"] == len(ms)
        # keep_id is the member with (max score, min id)
        best = min(ms, key=lambda d: (-score[d], d))
        assert r["keep_id"] == best
        assert r["keep_score"] == score[best]


# ---------------------------------------------------------------------------
# mix rebalance
# ---------------------------------------------------------------------------

def test_mix_rebalance_rate_invariants(spark):
    """Downsampling-only: every derived rate <= 1, the binding stratum's
    rate == 1 exactly, and expected sampled mass per stratum is
    proportional to the target shares."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang", F.col("n_chars").alias("w"))
    targets = {"en": 0.5, "es": 0.25, "de": 0.25}
    out = mix_rebalance(docs, "doc_id", "lang", "w", targets)
    rates = {
        r["lang"]: r["rate"]
        for r in out.select("lang", "rate").distinct().collect()
    }
    assert set(rates) <= set(targets)
    assert all(0.0 < v <= 1.0 for v in rates.values())
    assert any(v == 1.0 for v in rates.values())  # binding stratum

    totals = {
        r["lang"]: r["t"]
        for r in docs.groupBy("lang").agg(F.sum("w").alias("t")).collect()
    }
    # expected sampled mass T_l * rate_l must be proportional to targets
    exp = {
        lang: totals[lang] * rates[lang] for lang in rates
    }
    base = exp[next(iter(exp))] / targets[next(iter(exp))]
    for lang, mass in exp.items():
        assert mass / targets[lang] == pytest.approx(base, rel=1e-9)


def test_mix_rebalance_deterministic(spark):
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang", F.col("n_chars").alias("w"))
    targets = {"en": 0.6, "es": 0.4}
    a = {r["doc_id"] for r in
         mix_rebalance(docs, "doc_id", "lang", "w", targets).collect()}
    b = {r["doc_id"] for r in
         mix_rebalance(docs.repartition(13), "doc_id", "lang", "w",
                       targets).collect()}
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# k-means training
# ---------------------------------------------------------------------------

def test_kmeans_train_zero_rounds_is_seed_assignment(spark):
    """rounds=0 must reduce to the seed assignment: cell_final ==
    cell_init for every vector (pins the loop wiring — an off-by-one
    would refine once)."""
    from etl_procesos_odo_spark.llm.similarity import kmeans_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = kmeans_train(emb, n_cells=4, rounds=0).collect()
    assert len(out) == emb.count()
    assert all(r["cell_init"] == r["cell_final"] for r in out)


def test_kmeans_train_round3_differs_from_seed_somewhere(spark):
    """Sanity that training bites: after 3 rounds at least one vector
    moved cells (the synthetic embeddings are random, so refined
    centroids reassign some boundary vectors)."""
    from etl_procesos_odo_spark.llm.similarity import kmeans_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = kmeans_train(emb, n_cells=4, rounds=3).collect()
    assert any(r["cell_init"] != r["cell_final"] for r in out)


def test_kmeans_lloyd_step_is_one_training_round(spark):
    """kmeans_lloyd_step and kmeans_train run the same Lloyd loop: one
    step must equal one training round row for row (seed cell, refined
    cell and the cosine to the refined centroid), although the step
    checkpoints its seed assignment and training its centroids."""
    from etl_procesos_odo_spark.llm.similarity import (
        kmeans_lloyd_step,
        kmeans_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    step = sorted(
        tuple(r) for r in kmeans_lloyd_step(emb, n_cells=4).collect()
    )
    train = sorted(
        tuple(r) for r in kmeans_train(emb, n_cells=4, rounds=1).collect()
    )
    assert len(step) == emb.count()
    assert step == train


# ---------------------------------------------------------------------------
# property-based: the MG kernel guarantee under random streams/splits
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    keys=st.lists(st.integers(min_value=0, max_value=30), min_size=1,
                  max_size=400),
    counters=st.integers(min_value=2, max_value=20),
    n_batches=st.integers(min_value=1, max_value=5),
    data=st.data(),
)
def test_misra_gries_no_false_negatives_property(keys, counters, n_batches,
                                                 data):
    """For ANY stream, ANY batch split, and ANY counter budget c: every key
    with frequency > n/(c+1) must survive in the kernel's summary — the
    theorem the two-pass exactness rests on (false positives are fine,
    they die in the recount)."""
    n = len(keys)
    cuts = sorted(
        data.draw(st.lists(st.integers(min_value=0, max_value=n),
                           min_size=n_batches - 1, max_size=n_batches - 1))
    )
    bounds = [0, *cuts, n]
    batches = [
        pd.DataFrame({"k": keys[bounds[i]:bounds[i + 1]]})
        for i in range(len(bounds) - 1)
    ]
    out = list(_misra_gries_partition(iter(batches), "k", counters))
    got = set(out[0]["k"])
    assert len(got) <= counters
    from collections import Counter

    freq = Counter(keys)
    must_survive = {k for k, c in freq.items() if c > n / (counters + 1)}
    assert must_survive <= got, (freq, counters, got)


# ---------------------------------------------------------------------------
# hybrid RRF retrieval
# ---------------------------------------------------------------------------

def test_hybrid_rrf_score_decomposition(spark):
    """Every output row's rrf_score must equal the recomputed two-term
    sum from its own ranks (nulls contribute 0), and per-query ranks must
    be 1..k with no gaps."""
    from etl_procesos_odo_spark.llm.similarity import hybrid_rrf_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = hybrid_rrf_topk(docs, emb, n_queries=5, pool=10, k=5).collect()
    per_query: dict[int, list[int]] = {}
    for r in out:
        want = (0.0 if r["rank_lex"] is None else 1.0 / (60 + r["rank_lex"])) + (
            0.0 if r["rank_vec"] is None else 1.0 / (60 + r["rank_vec"])
        )
        assert r["rrf_score"] == want
        per_query.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_query.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_hybrid_rrf_both_arms_beat_single_arm(spark):
    """A doc ranked #1 by BOTH arms must be fused rank 1 (RRF dominance:
    1/61 + 1/61 is the maximum achievable score)."""
    from etl_procesos_odo_spark.llm.similarity import hybrid_rrf_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = hybrid_rrf_topk(docs, emb, n_queries=5, pool=10, k=5).collect()
    for r in out:
        if r["rank_lex"] == 1 and r["rank_vec"] == 1:
            assert r["rank"] == 1


# ---------------------------------------------------------------------------
# profiler / dedup report sanity
# ---------------------------------------------------------------------------

def test_profile_events_shape_and_invariants(spark):
    from etl_procesos_odo_spark.registry import registry

    q = {x.name: x for x in registry()}["q114_profile_events"]
    rows = {r["col_name"]: r for r in
            q.spark_fn(spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {"event_id", "event_type", "ts", "user_id"}
    n = rows["event_id"]["n_rows"]
    for r in rows.values():
        assert r["n_rows"] == n
        assert 0 <= r["n_nulls"] <= n
        assert 1 <= r["n_distinct"] <= n
    assert rows["event_id"]["n_distinct"] == n  # primary key


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=10_000),   # _id
                  st.integers(min_value=0, max_value=3),        # band_idx
                  st.integers(min_value=0, max_value=4)),       # hash bucket
        min_size=1, max_size=300,
    ),
    cap=st.integers(min_value=1, max_value=10),
    n_batches=st.integers(min_value=1, max_value=5),
    data=st.data(),
)
def test_band_min_k_kernel_property(rows, cap, n_batches, data):
    """For ANY partition content, ANY Arrow batch split, and ANY cap:
    the map-side kernel's output per bucket is exactly the cap smallest
    ids the partition holds for that bucket (duplicates preserved) —
    the invariant that makes the two-level merge equal the window form."""
    import pandas as pd

    from etl_procesos_odo_spark.llm.dedup import band_min_k  # noqa: F401

    def part_mink(batches, cap):
        acc = None
        for pdf in batches:
            cur = pdf if acc is None else pd.concat((acc, pdf))
            acc = (
                cur.sort_values("_id", kind="stable")
                .groupby(["band_idx", "band_hash"], sort=False)
                .head(cap)
            )
        return acc

    n = len(rows)
    cuts = sorted(data.draw(st.lists(
        st.integers(min_value=0, max_value=n),
        min_size=n_batches - 1, max_size=n_batches - 1)))
    bounds = [0, *cuts, n]
    frames = [
        pd.DataFrame(rows[bounds[i]:bounds[i + 1]],
                     columns=["_id", "band_idx", "band_hash"])
        for i in range(len(bounds) - 1)
    ]
    got = part_mink(iter(frames), cap)
    full = pd.DataFrame(rows, columns=["_id", "band_idx", "band_hash"])
    want = (
        full.sort_values("_id", kind="stable")
        .groupby(["band_idx", "band_hash"], sort=False)
        .head(cap)
    )
    key = lambda df: sorted(map(tuple, df.values.tolist()))  # noqa: E731
    assert key(got) == key(want)


@settings(max_examples=100, deadline=None)
@given(
    point=st.integers(min_value=0, max_value=10**9),
    start=st.integers(min_value=0, max_value=10**9),
    length=st.integers(min_value=0, max_value=10**7),
    w=st.integers(min_value=1, max_value=10**6),
)
def test_range_join_bin_math_never_loses_pairs(point, start, length, w):
    """The binning rewrite's correctness core: for ANY point, interval,
    and bin width, point ∈ [start, end] implies the point's bin lies in
    the interval's exploded bin range — so the equi-join + exact filter
    can never lose a qualifying pair (false candidates are filtered,
    never the reverse)."""
    end = start + length
    pbin = point // w
    lo, hi = start // w, end // w
    if start <= point <= end:
        assert lo <= pbin <= hi
