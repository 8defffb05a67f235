"""Pattern-mining operators: frequent itemsets, association rules, and
sequential pattern support.

Library surface behind registry queries q176/q177/q178 (the inline
pipelines there are thin wrappers). Design notes:

- **One-shuffle basket-array architecture** (`basketize` +
  `frequent_itemsets`): baskets are built with a single
  groupBy(basket_key) ``collect_set`` — the only corpus-scale shuffle
  (it subsumes the row-level DISTINCT) — and pair/triple enumeration is
  a map-side nested ``transform``/``slice`` array comprehension whose
  counting shuffle is combined down to the candidate set per partition.
  A join-enumeration formulation re-shuffles the basket table once per
  itemset position (6 corpus-scale shuffles vs 1, measured in
  SCALE.md's mining ladder).
- **A-priori candidate pruning**: level-3 candidates are generated only
  from frequent level-2 pairs (self-join on the shared first item plus
  a semi-join requiring the (y, z) face to be frequent), so basket
  triple enumeration filters through a broadcast-tiny candidate list —
  never C(|items|, 3) cells. The tiny candidate joins are broadcast
  explicitly: they sit behind a stats-less ``localCheckpoint`` and
  would otherwise fall back to SortMergeJoin (plan-tested).
- **Exact thresholds**: minimum support is an integer fraction
  (num, den) applied as ``ceil(num * n / den)`` in exact integer
  arithmetic; rule confidence gates cross-multiply instead of dividing.
  Confidence / lift values are each ONE correctly-rounded IEEE division
  of exact integer counts, so they are bit-identical across engines.
- **Order-statistics collapse** (`sequential_pattern_support`): a user
  supports <A,B> iff min_ts(A) < max_ts(B), and <A,B,C> iff some
  B-event lies strictly inside (min_ts(A), max_ts(C)) — so per-entity
  history length never enters the cost; the corpus-scale work is one
  map-side-combining groupBy(entity, type) min/max plus a bounded
  |types|^2-per-event interval join (GSP exists-counting, Srikant &
  Agrawal EDBT 1996).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize

_PAIR_EXPR = (
    "flatten(transform({col}, (x, i) -> "
    "transform(slice({col}, i + 2, size({col})), y -> struct(x, y))))"
)
_TRIPLE_EXPR = (
    "flatten(flatten(transform({col}, (x, i) -> "
    "transform(slice({col}, i + 2, size({col})), (y, j) -> "
    "transform(slice({col}, i + j + 3, size({col})), "
    "z -> struct(x, y, z))))))"
)


def basketize(df: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """Rows -> one sorted distinct item array per basket. The single
    corpus-scale shuffle of the mining stack; eagerly checkpointed
    because every downstream stage re-reads it.

    eager=True is MEASURED, not stylistic (r13): flipping the package's
    nine non-loop eager checkpoints to lazy regressed 8 of 9 affected
    queries (subset min-of-2 ABBA A/B at sf0.1: eager 30.2 s vs lazy
    32.2 s; q146 2.24->2.61, q178 2.27->2.61, q175 4.35->4.90) — the
    dedicated full-width materialization job beats fusing the subtree
    into whichever consumer happens to run first. Do not re-flip
    without a new A/B."""
    return (
        df.groupBy(F.col(basket_col).alias("o"))
        .agg(F.sort_array(F.collect_set(item_col)).alias("it"))
        .transform(materialize, eager=True)
    )


def _minsup_frame(baskets: DataFrame, num: int, den: int) -> DataFrame:
    """1-row frame holding ceil(num * n_baskets / den), exact."""
    return baskets.agg(
        F.expr(f"({num} * count(1) + {den} - 1) div {den}").alias("ms")
    )


def _frequent_items(baskets: DataFrame, ms: DataFrame) -> DataFrame:
    """(item, support) for items meeting minsup: per-basket distinct
    counts via explode of the (already distinct) basket arrays."""
    return (
        baskets.select(F.explode("it").alias("br"))
        .groupBy("br")
        .agg(F.count(F.lit(1)).alias("sup"))
        .crossJoin(F.broadcast(ms))
        .filter("sup >= ms")
        .select("br", "sup")
    )


def _pruned_baskets(
    baskets: DataFrame, l1: DataFrame, min_size: int
) -> DataFrame:
    """Restrict basket arrays to frequent items (the A-priori L1 cut)."""
    keep = l1.agg(F.sort_array(F.collect_set("br")).alias("keep"))
    return (
        baskets.crossJoin(F.broadcast(keep))
        .selectExpr("array_intersect(it, keep) as it")
        .filter(f"size(it) >= {min_size}")
    )


def frequent_itemsets(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    minsup_num: int = 3,
    minsup_den: int = 1000,
) -> DataFrame:
    """Frequent pairs and triples (A-priori, Agrawal & Srikant VLDB
    1994) at support >= ceil(minsup_num * n_baskets / minsup_den).
    Returns (level, itemset 'x|y[|z]', support) — q176's surface."""
    baskets = basketize(df, basket_col, item_col)
    ms = _minsup_frame(baskets, minsup_num, minsup_den)
    l1 = _frequent_items(baskets, ms)
    bk = _pruned_baskets(baskets, l1, 2)
    l2 = (
        bk.select(F.explode(F.expr(_PAIR_EXPR.format(col="it"))).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("support"))
        .crossJoin(F.broadcast(ms))
        .filter("support >= ms")
        .selectExpr("p.x as x", "p.y as y", "support")
        .transform(materialize, eager=True)
    )
    # A-priori candidate generation over the tiny L2 set; explicit
    # broadcasts — l2 is stats-less behind the checkpoint
    p1 = l2.selectExpr("x", "y")
    p2 = l2.selectExpr("x as x2", "y as z")
    face = l2.selectExpr("x as fy", "y as fz")
    cand3 = (
        p1.join(F.broadcast(p2), F.expr("x = x2 and y < z"))
        .select("x", "y", "z")
        .join(
            F.broadcast(face),
            (F.col("y") == F.col("fy")) & (F.col("z") == F.col("fz")),
            "left_semi",
        )
    )
    l3 = (
        bk.filter("size(it) >= 3")
        .select(F.explode(F.expr(_TRIPLE_EXPR.format(col="it"))).alias("p"))
        .selectExpr("p.x as x", "p.y as y", "p.z as z")
        .join(F.broadcast(cand3), ["x", "y", "z"], "left_semi")
        .groupBy("x", "y", "z")
        .agg(F.count(F.lit(1)).alias("support"))
        .crossJoin(F.broadcast(ms))
        .filter("support >= ms")
        .select("x", "y", "z", "support")
    )
    r2 = l2.selectExpr(
        "2 as level",
        "concat(x, '|', y) as itemset",
        "cast(support as bigint) as support",
    )
    r3 = l3.selectExpr(
        "3 as level",
        "concat(x, '|', y, '|', z) as itemset",
        "cast(support as bigint) as support",
    )
    return r2.unionByName(r3)


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    minsup_num: int = 3,
    minsup_den: int = 1000,
    minconf_num: int = 1,
    minconf_den: int = 5,
) -> DataFrame:
    """Directed rules x -> y over frequent pairs with support,
    confidence and lift, kept at confidence >= minconf_num/minconf_den
    by integer cross-multiplication — q177's surface."""
    baskets = basketize(df, basket_col, item_col)
    n = baskets.agg(F.count(F.lit(1)).alias("n"))
    ms = n.selectExpr(
        f"({minsup_num} * n + {minsup_den} - 1) div {minsup_den} as ms"
    )
    s1 = _frequent_items(baskets, ms)
    bk = _pruned_baskets(baskets, s1, 2)
    s2 = (
        bk.select(F.explode(F.expr(_PAIR_EXPR.format(col="it"))).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("sup"))
        .crossJoin(F.broadcast(ms))
        .filter("sup >= ms")
        .selectExpr("p.x as x", "p.y as y", "sup")
        # s2 feeds BOTH directions of the dir2 union — un-checkpointed,
        # the basket pair-enumeration groupBy (the expensive stage) ran
        # twice (r13). Frequent-pair table is <= |items|^2 rows — tiny.
        .transform(materialize)
    )
    dir2 = s2.selectExpr("x as ante", "y as cons", "sup").unionByName(
        s2.selectExpr("y as ante", "x as cons", "sup")
    )
    sa = s1.selectExpr("br as ante", "sup as sup_a")
    sc = s1.selectExpr("br as cons", "sup as sup_c")
    return (
        dir2.join(F.broadcast(sa), "ante")
        .join(F.broadcast(sc), "cons")
        .crossJoin(F.broadcast(n))
        .filter(f"{minconf_den} * sup >= {minconf_num} * sup_a")
        .selectExpr(
            "ante",
            "cons",
            "cast(sup as bigint) as support",
            "cast(sup as double) / sup_a as confidence",
            "cast(n * sup as double) / (sup_a * sup_c) as lift",
        )
    )


def sequential_pattern_support(
    df: DataFrame,
    entity_col: str,
    type_col: str,
    ts_col: str,
    minsup_num: int = 5,
    minsup_den: int = 100,
) -> DataFrame:
    """Entities whose history contains <A,B> / <A,B,C> in strict
    timestamp order (gaps allowed), counted once per entity, kept at
    minsup = ceil(minsup_num * n_entities / minsup_den) — q178's
    surface, via the order-statistics collapse (module docstring)."""
    ev = df.select(
        F.col(entity_col).alias("u"),
        F.col(type_col).alias("t"),
        F.col(ts_col).alias("ts"),
    )
    tmm = (
        ev.groupBy("u", "t")
        .agg(F.min("ts").alias("mn"), F.max("ts").alias("mx"))
        .transform(materialize, eager=True)
    )
    # entity count from the checkpointed (u, t) min/max table, NOT the
    # raw event stream: distinct u over tmm == distinct u over ev by
    # construction (tmm keeps every (u, t)), and tmm is already
    # materialized — this drops one full corpus scan + distinct (r13)
    ms = tmm.agg(
        F.expr(
            f"({minsup_num} * count(distinct u) + {minsup_den} - 1) "
            f"div {minsup_den}"
        ).alias("ms")
    )
    a = tmm.selectExpr("u", "t as x", "mn")
    c = tmm.selectExpr("u", "t as z", "mx")
    p2 = (
        a.join(c, "u")
        .filter("mn < mx")
        .groupBy(F.col("x"), F.col("z").alias("y"))
        .agg(F.count(F.lit(1)).alias("support"))
        .crossJoin(F.broadcast(ms))
        .filter("support >= ms")
    )
    mid = (
        a.join(c, "u")
        .join(ev.selectExpr("u", "t as y", "ts"), "u")
        .filter("ts > mn and ts < mx")
        .select("u", "x", "y", "z")
        .distinct()
    )
    p3 = (
        mid.groupBy("x", "y", "z")
        .agg(F.count(F.lit(1)).alias("support"))
        .crossJoin(F.broadcast(ms))
        .filter("support >= ms")
    )
    r2 = p2.selectExpr(
        "2 as level",
        "concat(x, '>', y) as pattern",
        "cast(support as bigint) as support",
    )
    r3 = p3.selectExpr(
        "3 as level",
        "concat(x, '>', y, '>', z) as pattern",
        "cast(support as bigint) as support",
    )
    return r2.unionByName(r3)
