"""Join operator kit — SURVEY.md §2.3 (J1–J7).

Every join in the reference has a bounded small side (13-row dims, hour/date
spines, per-sede configs), so the engine's default is an explicit
``broadcast()`` of the dim — the fact side never shuffles. Big-big joins
(not present in the reference but needed at scale) fall through to Spark's
sort-merge with AQE skew handling.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def broadcast_dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | str,
    how: str = "left",
) -> DataFrame:
    """J1/J2 — lookup join against a bounded dimension
    (Sede→Dirección 13 rows, app_confirmaciones.py:150-177; usuario→rol
    dict-map, app_calculador_recursos_modelo_atencion.py:196-201)."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def spine_left_join_fill(
    spine: DataFrame,
    agg: DataFrame,
    on: Sequence[str] | str,
    fill: dict | float = 0,
) -> DataFrame:
    """J4 — generated spine LEFT JOIN sparse aggregate, gaps filled
    (app_calculo_necesidad_recepción_call_center.py:436-463;
    app_indicadores_modelo_atencion.py:963-976).

    The aggregate side is post-groupBy (small); the spine is tiny. Either
    way this stays a broadcast join.
    """
    joined = spine.join(agg, on=on, how="left")
    if isinstance(fill, dict):
        return joined.na.fill(fill)
    return joined.na.fill(fill)


def union_all_by_name(frames: Sequence[DataFrame]) -> DataFrame:
    """J7/X1 — union of per-source tables with schema alignment
    (pd.concat of EVENTO+PGP+PDTE*, indicador-modelo-vs-facturacion.py:459-481)."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def salted_join(
    big: DataFrame,
    dim: DataFrame,
    big_key: str,
    dim_key: str,
    row_key: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the big side's key into ``n_salt``
    subkeys (deterministic hash of ``row_key``), replicate the dim side
    across every salt, join on (key, salt). The result is exactly the
    plain join — salting only changes task placement.

    This is the manual fallback when AQE's skew-join split isn't enough
    (e.g. one key holds >50% of rows): the hot key's rows spread over
    ``n_salt`` reducers instead of one straggler task. Dim replication
    costs n_salt× its (small) size — only ever used dim-side.

    **When to salt vs trust AQE** (measured, scale_ladder.py skew_join_bench at
    sf1, one key on ~95% of a 10x-inflated lineitem: unsalted with AQE
    skew-split OFF 30.4 s, AQE ON 10.6 s, salted 9.8 s): AQE's
    OptimizeSkewedJoin does the same work as salting — split the
    oversized partition, replicate the other side — at RUNTIME, so for a
    plain shuffled equi-join the two are within ~10% and AQE should be
    the default (zero code, adapts to actual sizes). Salt manually only
    when AQE's split cannot fire; :func:`recommend_salting` encodes the
    cases and is the documented decision rule (pinned by
    tests/test_plans.py::test_recommend_salting_contract).
    """
    salt = F.pmod(F.xxhash64(F.col(row_key)), F.lit(n_salt)).alias("_salt")
    big_s = big.withColumn("_salt", salt)
    dim_s = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    out = big_s.join(
        dim_s,
        (big_s[big_key] == dim_s[dim_key]) & (big_s["_salt"] == dim_s["_salt"]),
        how,
    )
    return out.drop("_salt")


def recommend_salting(
    hot_key_fraction: float,
    n_reducers: int,
    aqe_skew_split_available: bool = True,
    output_partitioning_reused: bool = False,
) -> tuple[bool, int, str]:
    """Should this equi-join be manually salted, and with how many salts?
    Returns ``(salt, n_salt, reason)`` — the documented decision rule so
    a 100x-scale user doesn't cargo-cult the salt (r11 verdict item 8).

    Grounded in the measured sf1 arm (see :func:`salted_join` docstring):
    when AQE's OptimizeSkewedJoin CAN fire, it equals manual salting to
    within ~10%, so the answer is "don't salt" for any skew level — the
    runtime split adapts to real partition sizes and costs no code. Salt
    only when the split CANNOT fire:

    - ``aqe_skew_split_available=False`` — AQE disabled, a streaming
      join (stateful operators pin their partitioning), or a join type
      OptimizeSkewedJoin skips (it only rewrites sort-merge /
      shuffled-hash with both sides shuffled);
    - ``output_partitioning_reused=True`` — a downstream operator needs
      the join's hash partitioning (e.g. a groupBy on the same key that
      would otherwise reuse the exchange): AQE skips the split rather
      than break the required distribution, so the straggler survives.

    In those cases salting pays once one key materially exceeds a fair
    reducer share (> ~3x the mean, i.e. ``hot_key_fraction * n_reducers
    > 3``) — below that the straggler is within normal variance and
    salting only adds dim replication and a wider shuffle key.

    ``n_salt`` targets the hot key's rows spreading to roughly a fair
    share per reducer: ``ceil(hot_key_fraction * n_reducers)``, clamped
    to [2, n_reducers] — more salts than reducers cannot help, and
    beyond the clamp the dim-replication cost grows for no placement
    gain.
    """
    import math

    if not 0.0 <= hot_key_fraction <= 1.0:
        raise ValueError("hot_key_fraction must be in [0, 1]")
    if n_reducers < 1:
        raise ValueError("n_reducers must be >= 1")
    excess = hot_key_fraction * n_reducers
    if aqe_skew_split_available and not output_partitioning_reused:
        return (False, 1,
                "AQE OptimizeSkewedJoin handles it at runtime (measured "
                "within ~10% of manual salting at sf1); salting adds dim "
                "replication for no placement gain")
    if excess <= 3.0:
        return (False, 1,
                f"hot key is only {excess:.1f}x a fair reducer share — "
                "within straggler variance; salting overhead not repaid")
    n_salt = max(2, min(n_reducers, math.ceil(excess)))
    why = ("AQE skew split unavailable"
           if not aqe_skew_split_available
           else "downstream reuses the join's partitioning, so AQE "
                "skips the skew split")
    return (True, n_salt,
            f"{why}; hot key is {excess:.1f}x a fair reducer share — "
            f"spread it across {n_salt} salts")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_vals: dict[str, str],
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Backward as-of join (a temporal operator Spark lacks natively; the
    feature-backfill primitive: "for each observation, the latest
    reading at or before it"): every left row gets the values of the
    single latest right row with the same ``on`` key and
    ``right_ts <= left_ts``, or nulls if none.

    Implementation is the scale-correct union + window trick — NOT a
    range join: tag both sides, union, and take
    ``last(value, ignorenulls)`` over (key, ts, side) with side ordering
    right-before-left so an equal-timestamp right row is visible to the
    left row. One shuffle on the key, per-key sort, zero row explosion —
    a naive range join materializes every (left, right-earlier) pair
    first, which is quadratic per key at scale.

    ``right_vals`` maps right column -> output alias. The right side must
    be unique per (key, ts); callers dedupe first (ties would otherwise
    be resolved by engine-dependent window order).

    ``tolerance_seconds`` (r12): maximum staleness — a matched right row
    older than ``left_ts - tolerance`` yields nulls instead (pandas
    ``merge_asof(tolerance=...)`` semantics). Since the as-of match is
    the LATEST right row at-or-before, a too-old latest means every
    candidate is too old, so nulling (not re-matching) is exact. The
    comparison runs on micros-exact epoch doubles (``cast(ts as
    double)``), the same expression a SQL oracle evaluates.
    """
    from pyspark.sql import Window

    # internal scaffolding names (r13 advice: a right_vals column
    # literally named `_rts` would duplicate the struct field and make
    # getField ambiguous; same latent class as _k/_ts/_side/_rv)
    reserved = {"_k", "_ts", "_side", "_rv", "_rv_last", "_rts"}
    clash = (reserved & set(left.columns)) | (reserved & set(right_vals))
    if clash:
        raise ValueError(
            f"asof_join reserves internal names {sorted(reserved)}; "
            f"rename colliding input columns {sorted(clash)}"
        )

    lcols = [c for c in left.columns]
    # carry the right row's attached values as ONE struct, non-null
    # exactly when the union row IS a right row: last(struct, ignorenulls)
    # then distinguishes "no right row yet" (struct null -> field null)
    # from "right row whose attribute is NULL" (struct present, field
    # null). Per-column last(ignorenulls) conflated the two and bled the
    # previous row's value over a legitimately-NULL attribute (r10
    # adversarial census finding on q81).
    rtypes = dict(right.dtypes)
    # with a tolerance the struct also carries the right row's epoch
    # seconds (`_rts`) so staleness is checked after the window fill
    rfields = dict.fromkeys(right_vals)
    struct_t = "struct<" + ",".join(
        f"`{rc}`:{rtypes[rc]}" for rc in rfields
    )
    r_struct = [F.col(rc) for rc in rfields]
    if tolerance_seconds is not None:
        struct_t += ",`_rts`:double"
        r_struct.append(F.col(right_ts).cast("double").alias("_rts"))
    struct_t += ">"
    l2 = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in lcols],
        F.lit(None).cast(struct_t).alias("_rv"),
    )
    r2 = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(t).alias(c) for c, t in left.dtypes],
        F.struct(*r_struct).alias("_rv"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l2.unionByName(r2).select(
        "_side",
        *lcols,
        F.last("_rv", ignorenulls=True).over(w).alias("_rv_last"),
    )
    rv = F.col("_rv_last")
    if tolerance_seconds is not None:
        fresh = (
            F.col(left_ts).cast("double") - rv.getField("_rts")
        ) <= F.lit(float(tolerance_seconds))
        rv = F.when(fresh, rv)  # stale or no match -> NULL struct -> nulls
    return filled.filter(F.col("_side") == 1).select(
        *lcols,
        *[rv.getField(rc).alias(alias) for rc, alias in right_vals.items()],
    )


def range_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    on: str,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bin_seconds: int = 3600,
) -> DataFrame:
    """Point-in-interval range join with an equality key — the
    attribution / enrichment-window primitive ("every view within the
    hour before this user's purchase"). Spark plans a naive
    ``p.ts BETWEEN i.start AND i.end`` predicate as a nested-loop join
    (with the equality key: an equi-join whose per-key pairing is still
    quadratic); this form stays an EQUI-join end to end, the standard
    time-binning rewrite:

    - each interval explodes to every ``bin_seconds`` bucket it overlaps
      (``sequence(floor(start/w), floor(end/w))`` — for intervals no
      longer than the bin width that's ≤ 2 rows);
    - each point maps to its single bucket;
    - the join keys on (equality key, bucket) — hash-partitioned, AQE /
      salting applicable like any equi-join — and the exact BETWEEN
      predicate filters within the bucket's co-located candidates.

    A point lives in exactly one bucket, so a qualifying (point,
    interval) pair forms exactly once — no dedup pass. Pick
    ``bin_seconds`` ≈ the typical interval length: shorter bins explode
    intervals wider; longer bins pack more false candidates per bucket.
    Both sides' non-key columns pass through.
    """
    def to_bin(c: str):
        # micros-exact epoch -> floor to bin index; deterministic and
        # mirrored verbatim by the oracle's floor(epoch(ts) / w)
        return F.floor(F.col(c).cast("double") / F.lit(bin_seconds)).cast(
            "long"
        )

    p = points.withColumn("_bin", to_bin(point_ts))
    i = intervals.withColumn(
        "_bin", F.explode(F.sequence(to_bin(start_ts), to_bin(end_ts)))
    )
    joined = p.join(i, on=[on, "_bin"]).filter(
        (F.col(point_ts) >= F.col(start_ts))
        & (F.col(point_ts) <= F.col(end_ts))
    )
    return joined.drop("_bin")


def _adaptive_stripe_len(
    df: DataFrame,
    sort_col: str,
    lengths: Sequence[int],
    target_stripes: int,
) -> int:
    """Shortest candidate prefix length whose largest stripe holds no
    more than ``total / target_stripes`` records (falls back to the
    longest candidate when none qualifies — e.g. every key identical,
    where no prefix can split the stripe). ONE pass over the key column:
    prefixes nest, so a ``rollup`` over the candidate substrings yields
    per-length stripe counts in a single aggregation; only the ≤
    ``len(lengths)+1`` (level, max_count) rows reach the driver."""
    lengths = sorted(set(lengths))
    subs = [
        F.substring(F.col(sort_col), 1, n).alias(f"_p{n}") for n in lengths
    ]
    stats = dict(
        df.select(*subs)
        .rollup(*[f"_p{n}" for n in lengths])
        .agg(F.count(F.lit(1)).alias("_c"), F.grouping_id().alias("_g"))
        .groupBy("_g")
        .agg(F.max("_c").alias("_mx"))
        .collect()
    )
    total = stats.get(2 ** len(lengths) - 1, 0)  # the () grand-total level
    if not total:
        return lengths[0]
    bound = max(1, -(-total // target_stripes))  # ceil div
    for i, n in enumerate(lengths):
        # rollup level grouping only the first i+1 prefixes has the
        # len(lengths)-1-i trailing columns aggregated away
        if stats.get(2 ** (len(lengths) - 1 - i) - 1, total) <= bound:
            return n
    return lengths[-1]


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_col: str,
    id_col: str,
    window: int = 3,
    stripe_prefix: int | Sequence[int] = 15,
    target_stripes: int = 32,
) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernández & Stolfo 1995)
    — the second blocking method a production entity-resolution stack
    unions with key blocking (q130): sort the corpus by ``sort_col``,
    pair every record with its ``window`` successors. Near-duplicates
    with typos in the BLOCKING key (which key blocking separates) still
    sort adjacently and get paired.

    Global rank without a single-reducer sort (the partitioner's striped
    trick adapted to string order): the stripe is a PREFIX of the sort
    key — ordering by (prefix, full, id) ≡ ordering by (full, id), so
    per-stripe local ranks plus broadcast prefix-sum offsets compose to
    the exact global rank; parallelism is one task per populated prefix
    stripe. Pairing is then an EQUI-join of rank r with r+1..r+window
    (offsets exploded — ``window`` rows per record, never a range or
    nested-loop join). Returns (id_a, id_b, <sort_col>_a, <sort_col>_b,
    rank_gap) with id_a/id_b in rank order.

    ``stripe_prefix`` is either a fixed prefix length (the q149 path —
    zero extra jobs) or a LADDER of candidate lengths, e.g.
    ``(15, 30, 45, 60)``: when keys share a long common prefix a short
    stripe degenerates to one serial window task, so the adaptive form
    extends the prefix until the largest stripe holds no more than
    ``total / target_stripes`` records. Selection costs one rollup pass
    over the key column (prefixes nest, so all candidate granularities
    aggregate in a single job); it picks the SHORTEST adequate length,
    which also minimizes the broadcast offsets frame. Ordering
    compatibility holds at every length — a stripe is always a prefix
    of the sort key. Corpora where the FULL key is one repeated value
    stay single-stripe by construction (no prefix distinguishes equal
    keys); that case is inherently serial for a rank-based pairing.
    """
    from pyspark.sql import Window

    if not isinstance(stripe_prefix, int):
        stripe_prefix = _adaptive_stripe_len(
            df.select(F.col(sort_col)), sort_col,
            tuple(stripe_prefix), target_stripes,
        )
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(sort_col).alias("_k"),
        F.substring(F.col(sort_col), 1, stripe_prefix).alias("_stripe"),
    )
    w_local = Window.partitionBy("_stripe").orderBy("_k", "_id")
    local = base.withColumn("_lrk", F.row_number().over(w_local))
    counts = (
        local.groupBy("_stripe").agg(F.count(F.lit(1)).alias("_c"))
    )
    w_off = (
        Window.orderBy("_stripe")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # the offset window orders STRIPES (bounded: one row per populated
    # prefix), not records — safe global window
    offsets = counts.select(
        "_stripe", F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off")
    )
    ranked = local.join(F.broadcast(offsets), on="_stripe").select(
        "_id", "_k", (F.col("_off") + F.col("_lrk")).cast("long").alias("_rk")
    )
    right = ranked.select(
        F.col("_id").alias("id_b"),
        F.col("_k").alias(f"{sort_col}_b"),
        F.col("_rk").alias("_rkb"),
    )
    probe = ranked.select(
        F.col("_id").alias("id_a"),
        F.col("_k").alias(f"{sort_col}_a"),
        "_rk",
        F.explode(
            F.array(*[F.lit(i) for i in range(1, window + 1)])
        ).alias("_gap"),
    ).withColumn("_rkb", F.col("_rk") + F.col("_gap"))
    return (
        probe.join(right, on="_rkb")
        .select(
            "id_a", "id_b", f"{sort_col}_a", f"{sort_col}_b",
            F.col("_gap").cast("long").alias("rank_gap"),
        )
    )


def _coarsened_bin_us(
    left: DataFrame,
    right: DataFrame,
    l_cols: tuple[str, str],
    r_cols: tuple[str, str],
    bin_us: int,
    max_span_bins: int,
) -> int:
    """Smallest ``bin_us`` multiple under which no interval on either
    side overlaps more than ``max_span_bins + 1`` buckets: an interval
    of span S overlaps at most ``S/w + 1`` width-``w`` buckets, so
    ``w = bin_us * ceil(max_span / (bin_us * max_span_bins))``. Returns
    ``bin_us`` unchanged when all spans already fit (the q153 path)."""
    if max_span_bins < 1:
        raise ValueError("max_span_bins must be >= 1")
    spans = [
        df.agg(
            F.max(F.col(e) - F.col(s)).cast("long").alias("m")
        ).first()["m"]
        for df, (s, e) in ((left, l_cols), (right, r_cols))
    ]
    max_span = max((m for m in spans if m is not None), default=0)
    factor = max(1, -(-max_span // (bin_us * max_span_bins)))  # ceil div
    return bin_us * factor


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_keys: Sequence[str],
    r_keys: Sequence[str],
    l_start: str = "start_us",
    l_end: str = "end_us",
    r_start: str = "r_start_us",
    r_end: str = "r_end_us",
    bin_us: int = 3_600_000_000,
    max_span_bins: int | None = None,
) -> DataFrame:
    """Interval-x-interval OVERLAP join via time binning — the
    two-sided generalization of :func:`range_join_binned` ("which
    sessions ran during an incident window"). A naive
    ``l.start < r.end AND r.start < l.end`` predicate is a nested-loop
    join; this stays an equi-join:

    - BOTH sides explode to every ``bin_us`` bucket they overlap
      (``sequence(floor(start/w), floor(end/w))``);
    - candidates pair on the shared bucket (hash-partitioned equi-join —
      two overlapping intervals must share at least one bucket, so
      recall is exact);
    - a pair spanning several shared buckets appears once per bucket, so
      a ``distinct`` over (keys + endpoints) collapses it — bounded by
      the true candidate set, never the cross product;
    - the exact predicate keeps pairs with POSITIVE overlap
      (``least(ends) - greatest(starts) > 0``; a session that merely
      touches an incident boundary does not overlap it), and the same
      expression is the returned ``overlap_us``.

    Endpoint units are epoch micros (BIGINT) on both sides, so the
    overlap arithmetic is exact integer math. Columns must be disjoint
    between the two inputs (pre-alias); all are passed through. Hot
    buckets (many concurrent intervals) are ordinary equi-join skew —
    AQE split / salting apply as usual.

    **Fan-out bound.** Each interval explodes to ``span/bin_us + 1``
    rows, so the input contract for the default (``max_span_bins=None``)
    is *choose ``bin_us`` within ~1-2 orders of magnitude of the typical
    span* (hour buckets for hours-long sessions/incidents, as in q153).
    For inputs with unbounded spans pass ``max_span_bins``: both sides'
    max span is measured (two cheap single-scalar aggs) and the bin is
    coarsened to the smallest ``bin_us`` multiple that keeps EVERY
    interval at ``<= max_span_bins + 1`` buckets. Coarsening never loses
    pairs (two overlapping intervals still share a coarse bucket — the
    bucket grid is only widened) and the exact overlap predicate still
    discards the extra same-bucket-but-disjoint candidates it admits;
    the trade is bounded explode fan-out vs. more candidates filtered
    post-join. Both sides must share one grid, hence one global width.
    """
    if max_span_bins is not None:
        eff_bin_us = _coarsened_bin_us(
            left, right, (l_start, l_end), (r_start, r_end),
            bin_us, max_span_bins,
        )
    else:
        eff_bin_us = bin_us

    def bins(s: str, e: str):
        return F.explode(
            F.sequence(
                F.floor(F.col(s) / F.lit(eff_bin_us)).cast("long"),
                F.floor(F.col(e) / F.lit(eff_bin_us)).cast("long"),
            )
        )

    lb = left.withColumn("_bin", bins(l_start, l_end))
    rb = right.withColumn("_bin", bins(r_start, r_end))
    ov = F.least(F.col(l_end), F.col(r_end)) - F.greatest(
        F.col(l_start), F.col(r_start)
    )
    return (
        lb.join(rb, on="_bin")
        .drop("_bin")
        .distinct()
        .filter(ov > 0)
        .withColumn("overlap_us", ov.cast("long"))
    )
