"""Deterministic corpus sampling for training-data pipelines.

At 100 TB, ``rand()``-based sampling (``df.sample``, ``sampleBy``) is the
wrong tool for corpus construction: results change across runs, retries,
and partition layouts, so a re-run of a failed stage yields a different
corpus. Hash-based sampling keys the keep/drop decision on a content-
derived uniform — reproducible across runs AND engines (the md5 primitive
matches DuckDB bit-for-bit, so the sample itself is oracle-checkable),
stable under repartitioning, and embarrassingly parallel (a per-row
expression at scan speed, no shuffle, no RNG state to coordinate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize
from .dedup import hash60

TWO_POW_60 = float(1 << 60)


def hash_uniform(key: Column, salt: str = "s1") -> Column:
    """Deterministic uniform in [0, 1): 60-bit md5 hash of (salt ‖ key)
    scaled by 2^60. Change the salt to draw an independent sample."""
    return hash60(F.concat(F.lit(salt), key.cast("string"))) / F.lit(TWO_POW_60)


def hash_sample(
    df: DataFrame,
    id_col: str,
    rates: dict[str, float],
    strata_col: str,
    default_rate: float = 0.0,
    salt: str = "s1",
) -> DataFrame:
    """Stratified deterministic sample: keep a row iff
    ``hash_uniform(id) < rates[stratum]`` — e.g. language rebalancing for
    a training mix (keep 50% of English, 30% of Spanish, ...). Strata not
    in ``rates`` fall back to ``default_rate``. Expected (not exact)
    fractions, like ``sampleBy`` — but re-runnable."""
    rate: Column = F.lit(default_rate)
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(r)).otherwise(rate)
    return df.filter(hash_uniform(F.col(id_col), salt) < rate)


def source_quota(
    df: DataFrame,
    group_col: str,
    quota: int,
    order_col: str,
    id_col: str,
) -> DataFrame:
    """Per-domain quota cap: keep at most ``quota`` rows per ``group_col``,
    preferring the highest ``order_col`` (ties broken by lowest id) — the
    C4/RefinedWeb-style guard against a handful of boilerplate-heavy
    domains dominating a crawl-scale training mix.

    Scale shape: a naive ``row_number() OVER (PARTITION BY domain)`` sorts
    EVERY domain's rows, but at crawl scale the long tail of domains is
    already under quota — only the head needs ranking. So: one cheap
    per-domain count (partial-agg shuffle on a low-cardinality key), rows
    in under-quota domains pass through unranked, and only over-quota
    domains pay the window sort. The count table is one row per domain —
    broadcast back, no extra wide shuffle on the data. Semantics are
    IDENTICAL to the single-window form (and the oracle states it that
    way); the split is purely a cost optimization. The count join is
    null-SAFE: a NULL group key forms one partition under the window
    form, so it must survive the split form too (a plain equi-join
    would silently drop NULL-keyed rows).
    """
    cnt = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_gn")
    ).withColumnRenamed(group_col, "_gk")
    tagged = df.join(
        F.broadcast(cnt), df[group_col].eqNullSafe(F.col("_gk"))
    ).drop("_gk")
    under = tagged.filter(F.col("_gn") <= quota).drop("_gn")
    w = Window.partitionBy(group_col).orderBy(
        F.desc(order_col), F.col(id_col)
    )
    over = (
        tagged.filter(F.col("_gn") > quota)
        .drop("_gn")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= quota)
        .drop("_rk")
    )
    return under.unionByName(over)


def mix_rebalance(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    weight_col: Column | str,
    targets: dict[str, float],
    salt: str = "mix1",
) -> DataFrame:
    """Training-mix rebalancing: derive per-stratum sampling rates so the
    EXPECTED sampled weight (e.g. token count) hits the target shares,
    then apply the deterministic hash sample at those rates.

    Rates are downsampling-only: with per-stratum totals ``T_s`` and
    target shares ``p_s``, the feasibility constant ``C = min_s T_s/p_s``
    is the largest total sampled weight reachable without upsampling any
    stratum; ``rate_s = p_s * C / T_s`` (== 1 for the binding stratum).
    Strata absent from ``targets`` are dropped (share 0).

    Scale shape: one partial-aggregated shuffle on the (tiny-cardinality)
    stratum key to get ``T_s``, a 1-row global min, and the rate table —
    rows = len(targets) — broadcast back onto the scan; the keep/drop
    decision is then a pure per-row expression (md5 uniform vs rate), so
    the pass over the corpus is scan-speed and reproducible across runs,
    retries, and engines. Float discipline: ``T_s`` is an exact BIGINT
    sum; ``C`` and rates are single-division doubles evaluated in the
    same order as the oracle SQL, so the boundary is bit-identical.
    """
    wcol = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    # base feeds the per-stratum totals AND the final rate-filtered join;
    # un-checkpointed, the caller's weight expression (typically a full
    # tokenize over the corpus, q109) ran twice. The frame is narrow by
    # contract — (id, stratum, weight) — so the barrier is cheap (r13;
    # form per master: session.materialize).
    base = materialize(df.withColumn("_w", wcol.cast("long")))
    totals = base.groupBy(strata_col).agg(F.sum("_w").alias("_t"))
    tgt = df.sparkSession.createDataFrame(
        sorted(targets.items()), [strata_col, "_share"]
    )
    joined = totals.join(F.broadcast(tgt), on=strata_col)
    cmin = joined.select(
        F.min(F.col("_t").cast("double") / F.col("_share")).alias("_c")
    )
    rates = joined.crossJoin(F.broadcast(cmin)).select(
        strata_col,
        (F.col("_share") * F.col("_c") / F.col("_t").cast("double")).alias(
            "rate"
        ),
    )
    return (
        base.join(F.broadcast(rates), on=strata_col)
        .filter(hash_uniform(F.col(id_col), salt) < F.col("rate"))
        .drop("_w")
    )


def leakage_safe_split(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fractions: tuple = (("train", 0.8), ("val", 0.9), ("test", 1.0)),
    salt: str = "split1",
) -> DataFrame:
    """Train/val/test assignment keyed by DUPLICATE CLUSTER, not by
    document: all copies of the same content land in the same split by
    construction, closing the train/test contamination a per-document
    hash split (q86/q126's shape) cannot — duplicated documents straddle
    splits there, and a model evaluated on the test half of a dup pair
    has seen its twin in training.

    Mechanics: exact-duplicate clusters via ``groupBy(md5(text))`` with
    ``min(id)`` as the cluster representative (one map-side-combinable
    shuffle keyed by digest — q30's exact-dedup shape); the split draw is
    ``hash_uniform(cluster_id)`` against cumulative ``fractions``
    thresholds (ordered (name, cumulative_upper) pairs, last must be
    1.0), so the assignment is deterministic, re-runnable, and
    cluster-atomic. Near-dup-atomic splits swap the digest for a
    connected-component cluster id (q47/q70) — same join shape.

    Output: every document with its ``cluster_id``, ``n_members``, and
    ``split``.
    """
    uppers = [u for _, u in fractions]
    if sorted(uppers) != uppers or abs(uppers[-1] - 1.0) > 1e-12:
        raise ValueError(
            f"fractions must have ascending cumulative uppers ending at "
            f"1.0, got {fractions}"
        )
    d = docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("dg")
    )
    # `d` feeds both the cluster aggregate and the assignment join;
    # unmaterialised, the full-text md5 scan runs twice (the partial agg
    # below the exchange defeats ReuseExchange). ~40 bytes/row kept vs
    # re-hashing every document.
    d = materialize(d)
    c = d.groupBy("dg").agg(
        F.min(id_col).alias("cluster_id"),
        F.count(F.lit(1)).alias("n_members"),
    )
    j = d.join(c, on="dg").select(id_col, "cluster_id", "n_members")
    r = hash_uniform(F.col("cluster_id"), salt)
    # build the cumulative CASE inside-out: the final ELSE is the last
    # band, each earlier band wraps it with its (lower) upper bound, so
    # evaluation order is ascending and first match wins
    split: Column = F.lit(fractions[-1][0])
    for name, upper in reversed(fractions[:-1]):
        split = F.when(r < F.lit(upper), F.lit(name)).otherwise(split)
    return j.withColumn("split", split)


# exact double literal for 2^60 (the hash60 value space) — scientific
# suffix so BOTH engines parse it as DOUBLE, not DECIMAL
_PS_TWO60 = "1.152921504606846976e18"


def priority_exprs(
    w_sql: str, key_sql: str, salt: str, engine: str
) -> dict:
    """SQL fragments for the priority-sampling draw (Duffield, Lund &
    Thorup, JACM 2007), bit-identical across Spark and DuckDB:

    - ``u``: deterministic uniform in (0, 1] — (hash60(salt‖key) + 1)
      / 2^60, one int->double cast + one correctly-rounded division
      (never 0, so ``q`` cannot divide by zero).
    - ``q``: the priority w / u. Items are sampled by TOP-k priority;
      every double step (+1 cast, two divisions) is correctly-rounded
      IEEE on exactly-representable operands, so the PRIORITY ORDER is
      identical in both engines — no libm (ln/pow) anywhere, unlike the
      exponential-key formulation of weighted sampling.
    """
    if engine == "spark":
        h = (
            f"cast(conv(substring(md5(concat('{salt}', "
            f"cast({key_sql} as string))), 1, 15), 16, 10) as bigint)"
        )
    elif engine == "duckdb":
        h = (
            f"CAST('0x' || substr(md5('{salt}' || "
            f"CAST({key_sql} AS VARCHAR)), 1, 15) AS BIGINT)"
        )
    else:
        raise ValueError(f"engine must be spark|duckdb, got {engine}")
    u = f"(cast({h} + 1 as double) / {_PS_TWO60})"
    q = f"(cast({w_sql} as double) / {u})"
    return {"u": u, "q": q}


def priority_sample(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "ps1",
    stripes: int = 8,
) -> DataFrame:
    """Weighted sample WITHOUT replacement of ``k`` items per group with
    an unbiased subset-sum estimator (priority sampling, Duffield-Lund-
    Thorup JACM 2007): draw u_i deterministic-uniform per key, rank by
    priority q_i = w_i / u_i, keep the top k; the threshold tau is the
    (k+1)-th priority and each kept item's adjusted weight is
    max(w_i, tau) — E[sum of adjusted weights] = true total weight, with
    near-optimal variance among k-sample estimators. Heavy items
    (w >= tau) are kept with certainty at weight w; light items are kept
    with probability w/tau and up-weighted to tau.

    Scale shape: the draw is a per-row scan expression (no RNG state —
    deterministic across runs/retries/engines); top-(k+1) uses the
    q50-style striped two-stage window (stripes-way parallel per group);
    the audit total is a map-side-combinable sum. Groups with <= k items
    return exactly (tau = 0, adjusted = raw, estimate exact).

    Returns one row per sampled item: group cols, key, ``w`` (raw
    weight), ``w_adj``, ``tau``, ``est_total`` (sum of adjusted weights
    over the group's sample, decomposed into exact integer sums so the
    double total is order-independent), ``exact_total`` (true group total — the
    audit arm the estimator replaces when only a sample can be read).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    ex = priority_exprs(weight_col, key_col, salt, "spark")
    pr = df.selectExpr(
        *group_cols,
        f"{key_col} as key",
        f"cast({weight_col} as bigint) as w",
        f"{ex['q']} as q",
        # deterministic stripe key for the two-stage top-k (NOT the
        # priority itself — stripes must spread each group arbitrarily)
        f"pmod(cast(conv(substring(md5(cast({key_col} as string)), 1, "
        f"15), 16, 10) as bigint), {stripes}) as _stripe",
    )
    w1 = Window.partitionBy(*group_cols, "_stripe").orderBy(
        F.desc("q"), F.asc("key")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(F.desc("q"), F.asc("key"))
    top = (
        pr.withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= k + 1)
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k + 1)
        .drop("_rn1", "_stripe")
        # (k+1) rows per group — consumed by the tau branch, the sample
        # branch, and (via samp) the estimator agg; unmaterialized, each
        # consumer re-runs the scan + both window sorts (measured 5
        # scans in the executed plan). Tiny by construction: checkpoint.
        .transform(materialize, eager=True)
    )
    tau = top.groupBy(*group_cols).agg(
        F.expr(
            f"coalesce(max(case when rn = {k + 1} then q end), 0e0)"
        ).alias("tau")
    )
    samp = (
        top.filter(F.col("rn") <= k)
        .join(F.broadcast(tau), group_cols)
        .withColumn("w_adj", F.expr("greatest(cast(w as double), tau)"))
    )
    # est_total = sum(max(w, tau)) decomposed into EXACT integer sums
    # plus ONE rounded multiply and ONE rounded add — heavy items
    # (w >= tau) contribute w, light items contribute tau each. Summing
    # w_adj doubles directly is order-dependent, and the
    # double->DECIMAL(28,18) workaround diverges across engines
    # (DuckDB's conversion scales in double arithmetic; Spark's goes
    # through the shortest decimal repr).
    est = samp.groupBy(*group_cols).agg(
        F.expr(
            "cast(sum(case when cast(w as double) >= tau then w "
            "else 0 end) as double) + cast(sum(case when "
            "cast(w as double) < tau then 1 else 0 end) as double) "
            "* max(tau)"
        ).alias("est_total")
    )
    exact = df.groupBy(*group_cols).agg(
        F.expr(f"sum(cast({weight_col} as bigint))").alias("exact_total")
    )
    return (
        samp.join(F.broadcast(est), group_cols)
        .join(F.broadcast(exact), group_cols)
        .select(*group_cols, "key", "w", "w_adj", "tau",
                "est_total", "exact_total")
    )


def budget_waterfill(
    stats: DataFrame,
    key_col: str,
    cap_col: str,
    weight_col: str,
    budget_num: int,
    budget_den: int,
) -> DataFrame:
    """Exact waterfilling allocation of a token budget across sources.

    Given per-source availability caps and priority weights, allocate a
    budget of ``ceil-free (budget_num * total_cap) div budget_den``
    tokens proportionally to weight, capping each source at its
    availability and redistributing the excess to the others — the
    data-mixture allocation step of corpus construction (the capped
    proportional-fairness / water-filling solution: every unsaturated
    source receives the same tokens-per-weight level).

    Exactness: sources sort by cap/weight (ONE IEEE division — identical
    across engines; ties broken by key). In that order saturation is a
    prefix, and each row's saturation test is the integer
    cross-multiplication ``cap * W_rest <= w * (budget - C_prev)``
    (W_rest / C_prev from window prefix sums) — no float thresholds.
    Unsaturated rows get ``(w * residual_budget) div W_unsat`` by
    integer division (sum(alloc) <= budget; the < |sources| remainder
    tokens are intentionally unallocated, documented).

    Scale: the corpus-scale work is building ``stats`` (caller's
    map-side-combining groupBy); the waterfill itself runs on the
    |sources| frame, where a single-partition ordered window is the
    RIGHT plan (allocation state is O(|sources|), KB-sized). For
    source counts beyond window comfort (~10^7), stripe the rank with
    the q50 partitioner — same expressions.

    ``stats`` and the labeled frame ``s`` are materialised (r13):
    the waterfill fans its input out to the budget total, the ordered
    prefix windows, the saturated-mass aggregate, and the final
    projection — un-materialized, EVERY branch re-ran the caller's
    corpus-scale groupBy from the parquet scan (q183's executed plan
    held 14 document scans / 53 exchanges; a downstream consumer like
    q183/q184 multiplies the fan-out again). Both frames are KB-sized
    (|sources| rows) — exactly the "cached bytes far below recompute
    cost" side of the line_dedup_corpus persist rule. Barrier form per
    master: see session.materialize.
    """
    stats = materialize(stats)
    tot = stats.agg(
        F.sum(cap_col).alias("tc"), F.sum(weight_col).alias("tw")
    ).selectExpr(f"({budget_num} * tc) div {budget_den} as budget", "tw")
    s = (
        stats.crossJoin(F.broadcast(tot))
        .withColumn(
            "_r", F.expr(f"cast({cap_col} as double) / {weight_col}")
        )
    )
    win = Window.orderBy("_r", key_col)
    s = (
        s.withColumn(
            "_cprev",
            F.coalesce(
                F.sum(cap_col).over(
                    win.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "_wrest",
            F.col("tw")
            - F.coalesce(
                F.sum(weight_col).over(
                    win.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "saturated",
            F.expr(
                f"{cap_col} * _wrest <= {weight_col} * (budget - _cprev)"
            ),
        )
    )
    # s feeds the saturated-mass aggregate AND the final projection —
    # barrier so the double-window prefix chain runs once (KB-sized)
    s = materialize(s)
    scal = s.agg(
        F.coalesce(
            F.sum(F.when(F.col("saturated"), F.col(cap_col))), F.lit(0)
        ).alias("sc"),
        F.coalesce(
            F.sum(F.when(F.col("saturated"), F.col(weight_col))), F.lit(0)
        ).alias("sw"),
    )
    return s.crossJoin(F.broadcast(scal)).selectExpr(
        key_col,
        f"cast({cap_col} as bigint) as cap",
        f"cast({weight_col} as bigint) as weight",
        f"""cast(case when saturated then {cap_col}
             when tw - sw > 0
             then ({weight_col} * (budget - sc)) div (tw - sw)
             else 0 end as bigint) as alloc""",
        "cast(saturated as int) as saturated",
    )


def grouped_budget_waterfill(
    stats: DataFrame,
    part_col: str,
    key_col: str,
    cap_col: str,
    weight_col: str,
    budget_col: str,
) -> DataFrame:
    """Per-partition waterfill: ``budget_waterfill`` semantics applied
    independently inside each ``part_col`` group, with each group's
    budget supplied as a COLUMN (constant within the group) — the inner
    stage of hierarchical mixture allocation (allocate across languages
    globally, then across sources within each language's grant). Same
    exact integer discipline; the ordered windows are PARTITIONED BY
    the group, so groups parallelize.

    ``stats`` and ``s`` are materialised like
    :func:`budget_waterfill` (r13): the input here is typically a join
    of the caller's corpus-scale groupBy with an OUTER waterfill (q183),
    so un-materialized fan-out re-ran both; frames are |groups×sources|
    rows, KB-sized. Barrier form per master: see session.materialize."""
    stats = materialize(stats)
    w_tot = Window.partitionBy(part_col)
    win = Window.partitionBy(part_col).orderBy("_r", key_col)
    s = (
        stats.withColumn(
            "_r", F.expr(f"cast({cap_col} as double) / {weight_col}")
        )
        .withColumn("_tw", F.sum(weight_col).over(w_tot))
        .withColumn(
            "_cprev",
            F.coalesce(
                F.sum(cap_col).over(
                    win.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "_wrest",
            F.col("_tw")
            - F.coalesce(
                F.sum(weight_col).over(
                    win.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "saturated",
            F.expr(
                f"{cap_col} * _wrest <= {weight_col} * "
                f"({budget_col} - _cprev)"
            ),
        )
    )
    s = materialize(s)
    scal = s.groupBy(part_col).agg(
        F.coalesce(
            F.sum(F.when(F.col("saturated"), F.col(cap_col))), F.lit(0)
        ).alias("_sc"),
        F.coalesce(
            F.sum(F.when(F.col("saturated"), F.col(weight_col))), F.lit(0)
        ).alias("_sw"),
    )
    return s.join(F.broadcast(scal), part_col).selectExpr(
        part_col,
        key_col,
        f"cast({cap_col} as bigint) as cap",
        f"cast({weight_col} as bigint) as weight",
        f"""cast(case when saturated then {cap_col}
             when _tw - _sw > 0
             then ({weight_col} * ({budget_col} - _sc)) div (_tw - _sw)
             else 0 end as bigint) as alloc""",
        "cast(saturated as int) as saturated",
    )
