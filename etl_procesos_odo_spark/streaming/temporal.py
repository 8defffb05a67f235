"""Structured Streaming temporal operators (SURVEY.md §2.10).

The reference is batch-only; these are the natural streaming mappings of
its temporal semantics, driven here by the parquet file source (the smoke
path — production swaps in Kafka with identical plans):

- hourly/5-min demand counts (A1/A2/A4) → tumbling ``window()`` aggregates;
- dedup-keep-first per key (W1) → ``dropDuplicates`` with watermark;
- late data: the reference silently accepts any timestamp; the streaming
  variants bound state with a 1-day watermark — a documented divergence
  (SURVEY.md §2.10).

Memory-sink helpers run a bounded backfill synchronously
(``processAllAvailable``) and return the result as a batch DataFrame, which
is how the oracle-checked registry queries exercise the streaming engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table, with the same nanos→micros
    timestamp normalization and session-TZ pin as the batch loader
    (session.load_table)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def hourly_counts(stream: DataFrame) -> DataFrame:
    """Tumbling 1-hour window counts + exact value sums per event_type —
    the streaming form of the demand-curve aggregate (A1/A2)."""
    return (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
        )
    )


def dedup_first_stream(stream: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Watermarked keep-one per (user_id, day) — the streaming form of the
    confirmaciones dedup (W1). State for a key is dropped once the
    watermark passes its day."""
    return (
        stream.withColumn("fecha", F.to_date("ts"))
        .withWatermark("ts", watermark)
        .dropDuplicates(["user_id", "fecha"])
    )


def run_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int = 8,
) -> DataFrame:
    """Execute a streaming frame to completion against the memory sink and
    return the sink as a batch DataFrame (bounded-input smoke path).

    The export is the sink frame itself: its analysed plan keeps the
    ``MemoryPlan``, which Spark plans as a ``LocalTableScan``, so reading
    it runs no job and its rows stay on the driver for as long as the
    frame lives, under any master — no checkpoint, no collect-and-rebuild
    (the r13/r14 export forms and their measurements are in
    OPTIMIZATION_r14.md). The temp view is dropped before returning, so a
    long correctness session cannot accumulate sink views.

    State partitions are ``min(spark.sql.shuffle.partitions, the
    session's task slots (defaultParallelism), state_partitions)``: every
    micro-batch opens and commits one state store per partition, so more
    partitions than slots only adds commit waves. The conf is read at
    ``.start()`` and restored after; production sizes it at deploy time
    and replaces the memory sink with Kafka/Delta — nothing upstream
    changes.
    """
    spark = df.sparkSession
    # state partitions should track KEY cardinality (hours, users,
    # sessions — bounded here), not input width: at sf1 the
    # JVM-state-heavy operators regress with more partitions (q69's
    # session store 6.6 s at 8 vs 90.7 s at 32, commit-bound), so 8 stays
    # the default and only the Python-boundary-bound stateful op scales
    # it up via python_stateful_partitions
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    slots = spark.sparkContext.defaultParallelism
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(min(int(saved), slots, state_partitions)),
    )
    try:
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    sink = spark.table(name)
    # the analysed frame keeps the sink, so it outlives its view
    spark.catalog.dropTempView(name)
    return sink


def python_stateful_partitions(
    spark: SparkSession, sf_dir: str, table: str = "events"
) -> int:
    """Scale-adaptive state-partition count for PYTHON-stateful streaming
    operators (``applyInPandasWithState``), derived from the source's
    on-disk bytes (parquet footer-level cost, no job).

    Why only the Python-stateful op scales up (r14 sf1 telemetry,
    plans/r14/profile_sf1.py): its per-partition cost is the Arrow
    JVM->Python boundary plus per-key pandas work — embarrassingly
    parallel — so q58 at sf1 ran 13.5 s with 8 state partitions vs 4.7 s
    with 32, while its state store held only ~3 MB (commit cost
    negligible). The JVM state-heavy operators are the opposite: their
    cost is per-partition state-store commit (q95's stream-stream join
    86 MB state: 4.5 s at 8 partitions vs 8.2 s at 32; q69's session
    store 338 MB: 6.6 s vs 90.7 s), so they keep the low default.

    The rule: one partition per ~512 KB of source bytes, floored at
    run_to_memory's default 8, then capped at the session's parallelism
    — so a ``local[4]`` session gets 4 at every scale, and a
    ``local[32]`` one 8 at sf0.1 (2 MB events) and the full 32 at sf1
    (17 MB); on a cluster it tracks defaultParallelism rather than any
    local constant. The floor is measured: at sf0.01 (220 KB) the size
    rule alone gives one partition, and q58 ran 1.06 s there against
    0.87 s with 4 (in-JVM median of 9, ``local[4]``).
    """
    import glob as _glob
    import os as _os

    path = _os.path.join(sf_dir, f"{table}.parquet")
    if _os.path.isdir(path):
        nbytes = sum(
            _os.path.getsize(p)
            for p in _glob.glob(_os.path.join(path, "**", "*"), recursive=True)
            if _os.path.isfile(p)
        )
    else:
        nbytes = _os.path.getsize(path) if _os.path.exists(path) else 0
    cores = spark.sparkContext.defaultParallelism
    return min(cores, max(8, nbytes // (512 * 1024)))


def run_append_partials(
    stream_df: DataFrame,
    name: str,
    partial_agg,
    finalize,
) -> DataFrame:
    """Append-mode export with per-micro-batch PARTIAL AGGREGATION via
    ``foreachBatch`` — the scalable form of :func:`run_to_memory` for
    high-volume stateless append streams.

    ``run_to_memory`` keeps every raw sink row on the driver (the
    memory sink), which is fine for the bounded-key
    aggregates it serves but quadratic-unfriendly for raw match
    streams: q156's pair stream grows 96× from sf0.1 to sf1 (64,345 →
    6,181,482 rows) while its distinct-pair partials grow ~10×, and the
    driver round-trip was measured at ~145 s of its 155 s sf1 cost.
    Here every micro-batch is reduced DISTRIBUTEDLY by ``partial_agg``
    (a map-side-combine-style callback whose outputs are unioned across
    batches — it must be decomposable, e.g. partial counts that a final
    SUM re-aggregates): the reduce itself runs on the executors, and only
    the bounded ``finalize`` rollup is collected — the same bounded-export
    contract as run_to_memory.

    The parquet spool is a driver-local ``tempfile.mkdtemp`` path, which
    is the LOCAL-MODE harness contract (the same single-machine contract
    session.py documents): on ``local[n]`` the "executors" are threads of
    the driver JVM, so their writes land in the one shared filesystem. On
    a real cluster a driver-local path would receive only the partials of
    executors that happen to share the driver's disk — derive the spool
    from a cluster-visible scratch location (HDFS/S3 staging dir) there,
    or better, swap the spool for the Kafka/Delta topic the sink
    docstrings already name; partial_agg then runs as the consumer's
    first stage.

    Each batch writes to a batchId-keyed subdirectory with
    ``mode("overwrite")``, so a re-fired micro-batch (foreachBatch is
    at-least-once under checkpointed restart/retry) replaces its own
    partials instead of double-counting them. The helper itself runs
    synchronously with a temp checkpoint (no restart path), but the
    write stays idempotent so the pattern survives being lifted into a
    checkpointed production job.

    Zero-data streams finalize an empty partial frame built from
    ``partial_agg`` on an empty batch, so the returned schema is
    identical whether or not any micro-batch fired.
    """
    import shutil
    import tempfile

    spark = stream_df.sparkSession
    tmpdir = tempfile.mkdtemp(prefix=f"{name}_partials_")
    try:
        q = (
            stream_df.writeStream.outputMode("append")
            .foreachBatch(_partial_emitter(tmpdir, partial_agg))
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        import glob as _glob
        import os as _os

        if _glob.glob(_os.path.join(tmpdir, "b*", "*.parquet")):
            partials = spark.read.option(
                "recursiveFileLookup", "true"
            ).parquet(tmpdir)
        else:
            partials = partial_agg(
                spark.createDataFrame([], stream_df.schema)
            )
        result = finalize(partials)
        rows, schema = result.collect(), result.schema
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)


def _partial_emitter(tmpdir: str, partial_agg):
    """foreachBatch callback: reduce one micro-batch via ``partial_agg``
    and spool the partials to a batchId-keyed subdir, overwriting any
    partials a previous attempt of the SAME batch left behind (the
    at-least-once idempotency contract — see run_append_partials).
    Module-level so the idempotency is unit-testable without driving a
    stream (tests/test_streaming.py re-fires a batch id directly)."""
    import os as _os

    def _emit(bdf: DataFrame, batch_id: int) -> None:
        partial_agg(bdf).write.mode("overwrite").parquet(
            _os.path.join(tmpdir, f"b{batch_id}")
        )

    return _emit


def sessionized_stream(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 day"
) -> DataFrame:
    """Gap sessionization under the streaming engine — the *same
    expression* as the batch q56 plan (``session_window`` + count/exact
    sum), proving the batch/streaming unification claim: one definition of
    a session, two execution modes.

    The watermark bounds session state in production (append mode emits a
    session once the watermark passes its end and its state is dropped).
    The harness runs this in complete mode so the bounded backfill emits
    *every* session and the output can be hash-compared against the exact
    batch oracle; with append mode the comparison would be limited to the
    watermark-finalized prefix.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def stateful_user_stats(stream: DataFrame) -> DataFrame:
    """Custom arbitrary-stateful operator (applyInPandasWithState): a
    per-user running profile — event count, purchase count, max value,
    latest-event micros — carried in explicit group state across
    micro-batches and re-emitted on every update.

    This is the escape hatch for semantics window/dropDuplicates can't
    express (per-key accumulators, custom eviction). State lives in the
    state store keyed by user_id (one shuffle to co-locate keys); rows
    cross into Python as Arrow batches per key. All emitted measures are
    arrival-order independent, so on a bounded single-batch backfill the
    output equals the batch groupBy — which is what the oracle checks.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("n_purchases", LongType()),
            StructField("max_value", DoubleType()),
            StructField("last_ts_us", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("np", LongType()),
            StructField("mx", DoubleType()),
            StructField("ts", LongType()),
        ]
    )

    def update(key, pdf_iter, state):
        n, np_, mx, ts = (
            state.get if state.exists else (0, 0, float("-inf"), -1)
        )
        for pdf in pdf_iter:
            n += len(pdf)
            np_ += int((pdf["event_type"] == "purchase").sum())
            mx = max(mx, float(pdf["value"].max()))
            ts = max(ts, int(pdf["ts"].astype("int64").max() // 1000))
        state.update((n, np_, mx, ts))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_purchases": [np_],
                "max_value": [mx],
                "last_ts_us": [ts],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_static_weighted(
    stream: DataFrame, weights: DataFrame
) -> DataFrame:
    """Stream-static enrichment join (the dimension-lookup operator under
    the streaming engine): each micro-batch inner-joins the static weight
    dim — Spark re-plans the static side per batch, so a broadcast dim
    stays a broadcast hash join with NO stream-side shuffle for the join
    itself — then rolls a tumbling 1-hour weighted demand aggregate.

    This is the streaming form of the J1 broadcast-lookup family: at
    scale the static side is a slowly-changing dimension re-read per
    batch; the only wide dependency is the windowed aggregate's state
    shuffle.
    """
    j = stream.join(F.broadcast(weights), on="event_type")
    return (
        j.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                (F.col("value") * F.col("weight")).cast("decimal(25,6)")
            ).cast("double").alias("weighted_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "weighted_value",
        )
    )


def attribution_join(
    views: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "1 day",
) -> DataFrame:
    """Stream-stream interval join (the attribution pattern): every
    'click' event joined to the same user's 'purchase' events that land
    within ``horizon`` after it. Both sides carry watermarks and the join
    condition bounds event time on both, so each side's state is
    evictable: a buffered click can be dropped once the purchase-side
    watermark passes click_ts + horizon. Append-mode output (the only
    mode stream-stream inner joins support).

    Scale shape: one shuffle per side keyed user_id; join state is
    O(events inside the watermark x horizon window), independent of
    stream length.

    Exactness vs the batch oracle (q95): the harness replays
    events.parquet as a SINGLE micro-batch, so no row can arrive after
    the watermark has passed it and the streaming result is exactly the
    batch interval join. In a multi-batch replay with event-time disorder
    beyond ``watermark``, the stream-stream join would (by design) drop
    late rows the batch oracle still matches — set ``watermark`` at or
    above the source's max disorder to keep backfills exact.
    """
    v = views.select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    joined = v.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")
        ),
    )
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        "purchase_value",
        (
            F.col("purchase_ts").cast("double")
            - F.col("click_ts").cast("double")
        ).alias("secs_to_purchase"),
    )


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table — the corpus-ingestion
    smoke path (production swaps in Kafka/autoloader with identical
    downstream plans). Pins the session TZ like session.load_table."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def quality_gate_stats(stream: DataFrame) -> DataFrame:
    """Streaming corpus-ingestion quality gate: score every arriving
    document with the scan-speed quality/repetition expressions and
    aggregate per-language accept/reject counts — the live dashboard a
    training-data intake runs in front of the (batch) dedup stages. The
    gate itself is stateless per-row work; only the per-language rollup
    (bounded keys) holds state."""
    from ..llm.text_analysis import quality_metrics, repetition_metrics

    qm = quality_metrics(F.col("text"))
    rm = repetition_metrics(F.col("text"))
    accept = (
        (qm["n_tokens"] >= 10)
        & (qm["punct_ratio"] < 0.3)
        & (rm["dup_word_frac"] < 0.5)
    )
    # the file-source micro-batch arrives as one partition per file —
    # spread the stateless per-row scoring across the executors before
    # the (cheap, bounded-key) rollup shuffle
    scored = stream.repartition(32).select(
        "lang", F.when(accept, 1).otherwise(0).alias("ok")
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ok").cast("long").alias("n_accepted"),
        (F.count(F.lit(1)) - F.sum("ok")).cast("long").alias("n_rejected"),
    )


def recommend_state_store(
    state_bytes_estimate: int,
    churn_ratio: float,
    heap_per_executor_bytes: int,
) -> tuple[str, str, str]:
    """Which state-store provider should a stateful streaming query use?
    Returns ``(provider, provider_class, reason)`` with ``provider`` one
    of ``"rocksdb"`` / ``"hdfs_backed_default"`` and ``provider_class``
    the value for ``spark.sql.streaming.stateStore.providerClass`` —
    the documented decision rule (r12 verdict item 6), encoding the
    measured 100M-event crossover (SCALE.md round-12 streaming table)
    the way :func:`~..operators.joins.recommend_salting` encodes the
    sf1 salting arm.

    Inputs:

    - ``state_bytes_estimate`` — resident state per EXECUTOR at steady
      state (rows x avg row bytes / executors; the ladder reads it from
      progress telemetry's ``memoryUsedBytes``).
    - ``churn_ratio`` — fraction of resident state rows replaced
      (inserted + evicted) per micro-batch. Watermarked stream-stream
      join state is churn-heavy (rows live one watermark); session /
      long-horizon aggregation state is churn-light.
    - ``heap_per_executor_bytes`` — executor heap.

    Measured grounding, 100M events on local[32] (fresh JVM, noop
    sink): churn-heavy join state favors the on-heap default at every
    scale measured (98.7 s vs 201.0 s RocksDB at 100M — RocksDB pays
    write amplification on rows that die within a watermark). For
    churn-light state the crossover is heap pressure: at ~10.3 GB state
    on a 24 GB heap (ratio ~0.43) RocksDB wins 1.42x on the session op
    (497.9 vs 704.9 s) and 1.19x on the Python-stateful op, holding the
    same state in ~390 MB native; at 10M events (state well under heap
    scale) RocksDB taxes the session op ~2x (86.6 vs 44.1 s). The rule:

    - churn-heavy (ratio > 0.3) -> on-heap default;
    - churn-light and state >= ~40% of heap -> RocksDB (the default
      store's super-linear term is GC, not the operator);
    - otherwise -> on-heap default (RocksDB's serde tax not repaid).
    """
    if state_bytes_estimate < 0:
        raise ValueError("state_bytes_estimate must be >= 0")
    if not 0.0 <= churn_ratio <= 1.0:
        raise ValueError("churn_ratio must be in [0, 1]")
    if heap_per_executor_bytes <= 0:
        raise ValueError("heap_per_executor_bytes must be > 0")
    rocksdb_class = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    default_class = (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    )
    pressure = state_bytes_estimate / heap_per_executor_bytes
    if churn_ratio > 0.3:
        return (
            "hdfs_backed_default",
            default_class,
            f"churn-heavy state ({churn_ratio:.0%} replaced per batch): "
            "RocksDB pays write amplification on rows that die within "
            "the watermark (measured 2.0x slower at 100M events); "
            "on-heap wins",
        )
    if pressure >= 0.4:
        return (
            "rocksdb",
            rocksdb_class,
            f"churn-light state at {pressure:.0%} of executor heap: "
            "GC pressure is the on-heap store's super-linear term "
            "(measured crossover ~43% of heap at 100M events, RocksDB "
            "1.42x faster holding the state off-heap)",
        )
    return (
        "hdfs_backed_default",
        default_class,
        f"state is only {pressure:.0%} of executor heap: RocksDB's "
        "serde tax is not repaid below heap-scale state (measured ~2x "
        "session-op tax at 10M events)",
    )
