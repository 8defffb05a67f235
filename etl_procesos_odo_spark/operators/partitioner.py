"""Balanced deterministic partitioner — SURVEY.md §2.6 (X4–X6).

The reference partitions an appointment report into N near-equal workbooks:
per unit, it collects the distinct patients, shuffles them with a seeded RNG
and splits into N quota groups, remainder to the first parts
(``particion_equitativa``, app.py:49-89; constrained variant app.py:91-145).

Deliberate divergence (documented per SURVEY.md §4 item 2): RNG-shuffle
order depends on Python's Mersenne state and is not reproducible across
engines/partitions. The rebuild orders each unit's distinct keys by a seeded
``xxhash64`` and assigns ``ntile(N)`` — deterministic for a fixed seed,
distributed (no collect), and satisfying the same invariants: disjoint
cover, per-unit sizes differing by ≤1, remainder biased to the lowest part
ids exactly like the reference's quota math (app.py:77-87).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def seeded_order_hash(key: Column, seed: int, method: str = "xxhash64") -> Column:
    """The deterministic stand-in for the reference's RNG shuffle order.

    ``xxhash64`` is the production default (fastest, JVM-native);
    ``md5`` produces the identical 60-bit value in DuckDB
    (``CAST('0x'||substr(md5(k||':seed'),1,15) AS BIGINT)``), making full
    partition *membership* oracle-checkable, not just the balance invariant.
    """
    if method == "xxhash64":
        return F.xxhash64(key.cast("string"), F.lit(seed))
    if method == "md5":
        return F.conv(
            F.substring(
                F.md5(F.concat(key.cast("string"), F.lit(f":{seed}"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
    raise ValueError(f"unknown hash method: {method!r}")


STRIPE_SHIFT = 52  # high-bit stripes: 4096 for signed xxhash64, 256 for 60-bit md5


def _striped_global_rank(
    keys: DataFrame, unit_col: str, key_col: str, order_hash: Column
) -> DataFrame:
    """Per-unit global rank by (hash, key) WITHOUT a per-unit serial sort.

    A plain ``row_number() over (partition by unit order by hash)`` funnels
    every key of one unit through a single task — a straggler/OOM at 10⁸+
    keys per unit (and AQE does not split window partitions). Instead:

    1. stripe = high bits of the hash (``>> 52``, arithmetic shift — monotone
       in the signed hash), so ordering by (stripe, hash, key) ≡ ordering by
       (hash, key) and ranks compose exactly;
    2. local ``row_number`` within each (unit, stripe) window — parallelism
       is units × up-to-4096 stripes, each task holds ~1/4096 of a unit;
    3. per-(unit, stripe) counts (a tiny aggregate: ≤ units × 4096 rows)
       yield prefix-sum offsets, broadcast-joined back;
    4. global rank = stripe offset + local rank.

    Output: the distinct (unit, key) frame plus ``_rk`` (1-based global
    rank by (hash, key) within the unit) and ``_cnt`` (unit key count).
    The result is bit-identical to the single-window form — same order,
    same ranks — so oracle membership checks are unaffected.
    """
    striped = keys.withColumn("_h", order_hash).withColumn(
        "_stripe", F.shiftright(F.col("_h"), STRIPE_SHIFT)
    )
    w_local = Window.partitionBy(unit_col, "_stripe").orderBy("_h", key_col)
    w_part = Window.partitionBy(unit_col, "_stripe")
    # the per-(unit, stripe) count rides the SAME window exchange as the
    # local rank (unordered count over the identical partitioning), so the
    # counts branch below shares the shuffle (ReusedExchange) instead of
    # re-scanning and re-distincting the key frame
    local = striped.withColumn("_lrk", F.row_number().over(w_local)).withColumn(
        "_c", F.count("*").over(w_part)
    )
    counts = local.filter(F.col("_lrk") == 1).select(unit_col, "_stripe", "_c")
    w_off = (
        Window.partitionBy(unit_col)
        .orderBy("_stripe")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        unit_col,
        "_stripe",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_c").over(Window.partitionBy(unit_col)).alias("_cnt"),
    )
    # NULL-safe join on the unit: a plain equi-join silently DROPS every
    # key whose unit is NULL (r10 adversarial census finding — 3 NULL-
    # segment customers vanished from q19/q50's partitioning). Both
    # window partitioning above and the oracle's PARTITION BY treat NULL
    # as one ordinary group, so the offsets attach must too.
    off = offsets.withColumnRenamed(unit_col, "_u_off").withColumnRenamed(
        "_stripe", "_stripe_off"
    )
    return (
        local.join(
            F.broadcast(off),
            F.col(unit_col).eqNullSafe(F.col("_u_off"))
            & (F.col("_stripe") == F.col("_stripe_off")),
        )
        .withColumn("_rk", (F.col("_off") + F.col("_lrk")).cast("long"))
        .drop("_h", "_stripe", "_lrk", "_off", "_c", "_u_off", "_stripe_off")
    )


def balanced_partition(
    df: DataFrame,
    unit_col: str,
    key_col: str,
    num_parts: int,
    seed: int = 42,
    out_col: str = "particion",
    hash_method: str = "xxhash64",
) -> DataFrame:
    """X4 — assign each distinct ``key_col`` within each ``unit_col`` to one
    of ``num_parts`` balanced partitions; returns (unit, key, particion).

    The ntile quota formula over a seeded-hash ordering = the reference's
    shuffle+quota split: sizes per unit differ by at most 1, larger parts
    first (remainder to the lowest part ids, app.py:77-87). The rank itself
    comes from the striped two-pass assembly (``_striped_global_rank``) so
    no single task ever sorts a whole unit; the closed-form quota below is
    exactly ntile's: with cnt keys and n parts, the first cnt%n parts get
    ⌈cnt/n⌉ keys, the rest ⌊cnt/n⌋.
    """
    keys = df.select(unit_col, key_col).distinct()
    ranked = (
        _striped_global_rank(
            keys, unit_col, key_col,
            seeded_order_hash(F.col(key_col), seed, hash_method),
        )
        .withColumn("_base", F.expr(f"_cnt div {num_parts}"))
        .withColumn("_rem", F.col("_cnt") % F.lit(num_parts).cast("long"))
    )
    thr = F.col("_rem") * (F.col("_base") + 1)
    part = F.when(
        F.col("_rk") <= thr, F.expr("(_rk - 1) div (_base + 1) + 1")
    ).otherwise(F.col("_rem") + F.expr("(_rk - _rem * (_base + 1) - 1) div _base + 1"))
    return ranked.withColumn(out_col, part.cast("int")).drop(
        "_rk", "_cnt", "_base", "_rem"
    )


def constrained_partition(
    df: DataFrame,
    unit_col: str,
    key_col: str,
    allowed: DataFrame,
    seed: int = 42,
    out_col: str = "particion",
    hash_method: str = "xxhash64",
) -> DataFrame:
    """X5 — constrained variant: each unit may only use a configured subset
    of partitions (app.py:91-145). ``allowed`` is a dim
    (unit_col, particion) listing permitted part ids per unit; keys are
    round-robined across the unit's allowed parts by seeded-hash rank
    (the same striped two-pass rank as X4 — no per-unit serial sort).
    """
    n_allowed = allowed.groupBy(unit_col).agg(
        F.count("*").alias("_n_parts"),
        F.sort_array(F.collect_list(out_col)).alias("_parts"),
    )
    keys = df.select(unit_col, key_col).distinct()
    ranked = _striped_global_rank(
        keys, unit_col, key_col,
        seeded_order_hash(F.col(key_col), seed, hash_method),
    ).drop("_cnt")
    return (
        ranked.join(F.broadcast(n_allowed), on=unit_col, how="inner")
        .withColumn(
            out_col,
            F.element_at(
                F.col("_parts"), ((F.col("_rk") - 1) % F.col("_n_parts") + 1).cast("int")
            ),
        )
        .drop("_rk", "_n_parts", "_parts")
    )


def check_partition(
    assignment: DataFrame, unit_col: str, key_col: str, part_col: str = "particion"
) -> dict:
    """X6 — partition invariant checker (replaces ``comparar_particiones``,
    app.py:183-209): disjoint (each key in exactly one part per unit),
    balanced (per-unit max-min ≤ 1). Returns a small dict of violation
    counts — an action, test/driver use only.
    """
    dup = (
        assignment.groupBy(unit_col, key_col)
        .agg(F.countDistinct(part_col).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    sizes = assignment.groupBy(unit_col, part_col).agg(F.count("*").alias("sz"))
    imbalance = (
        sizes.groupBy(unit_col)
        .agg((F.max("sz") - F.min("sz")).alias("spread"))
        .filter(F.col("spread") > 1)
        .count()
    )
    return {"duplicated_keys": dup, "imbalanced_units": imbalance}


def skew_profile(
    df,
    key_col: str,
    target_rows_per_task: int = 1_000_000,
    top_k: int = 5,
):
    """Join-key skew diagnostic: the measurement a pipeline runs BEFORE
    choosing a join strategy at scale. Emits the ``top_k`` hottest keys,
    each annotated with the global distribution summary — key count,
    max/avg per-key rows, interpolated p50/p90/p99, the max/avg skew
    ratio, and the salting factor ``ceil(max_cnt / target_rows_per_task)``
    that would bound the hottest key's per-task rows (1 = no salting
    needed; the input `salt_n` a salted join like q63's expects).

    Scale design: per-key counts are one map-side-combinable groupBy (the
    only wide dependency — the profile never shuffles rows, only key
    counts); the summary is a second aggregation over one row per key;
    the top-k is a TakeOrdered (per-partition heap + driver merge of k
    rows, never a global sort); the 1-row summary joins the top-k rows
    via broadcast. Every output is exact, so the profile is
    oracle-checkable — percentiles use the standard (n-1)*p linear
    interpolation both engines implement.
    """
    if target_rows_per_task < 1:
        raise ValueError(
            f"target_rows_per_task must be >= 1, got {target_rows_per_task}"
        )
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("cnt"))
    summary = counts.agg(
        F.expr("cast(sum(cnt) as bigint)").alias("n_rows"),
        F.expr("count(*)").alias("n_keys"),
        F.expr("max(cnt)").alias("max_cnt"),
        F.expr("percentile(cnt, 0.5)").alias("p50_cnt"),
        F.expr("percentile(cnt, 0.9)").alias("p90_cnt"),
        F.expr("percentile(cnt, 0.99)").alias("p99_cnt"),
    ).selectExpr(
        "n_rows",
        "n_keys",
        "max_cnt",
        "p50_cnt",
        "p90_cnt",
        "p99_cnt",
        "cast(n_rows as double) / cast(n_keys as double) as avg_cnt",
        "cast(max_cnt as double) * cast(n_keys as double) "
        "/ cast(n_rows as double) as skew_ratio",
        f"cast(ceil(cast(max_cnt as double) / {target_rows_per_task}.0) "
        "as bigint) as rec_salt",
    )
    hot = (
        counts.orderBy(F.desc("cnt"), F.col(key_col))
        .limit(top_k)
        .select(
            F.col(key_col).alias("hot_key"),
            F.col("cnt").alias("hot_cnt"),
        )
    )
    # 1-row stat frame x top_k rows: the documented broadcast-tiny
    # cross join shape (same as the centroid/stat-frame precedents)
    return hot.crossJoin(F.broadcast(summary))
