"""SparkSession factory (layer 0).

Local-mode settings follow the harness contract (local[$SPARK_GRAFT_CPUS],
32 shuffle partitions ~ cores); at cluster scale the same builder is reused
with master/shuffle-partitions supplied by the deployment, and AQE re-plans
shuffle sizing and skew joins at runtime. ``materialize`` is the one way
the library keeps a reused frame; its form follows the master.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


_TRUE_SPELLINGS = ("1", "true", "yes", "on")
_FALSE_SPELLINGS = ("", "0", "false", "no", "off")


def _env_flag(name: str) -> bool:
    """Boolean env knob: unset/empty is false; any value outside the
    known true/false spellings (case- and whitespace-insensitive) raises
    ``ValueError`` naming the variable."""
    raw = os.environ.get(name, "")
    value = raw.strip().lower()
    if value in _TRUE_SPELLINGS:
        return True
    if value in _FALSE_SPELLINGS:
        return False
    raise ValueError(
        f"{name}={raw!r} is not a boolean: use one of "
        f"{'/'.join(_TRUE_SPELLINGS)} or {'/'.join(_FALSE_SPELLINGS[1:])}"
    )


_BYTE_SIZE = re.compile(r"\d+(?:[kmgtp]?b|[kmgtp])?")


def _env_byte_size(name: str) -> str:
    """Spark byte-size env knob: unset/empty is ``0``; otherwise digits
    with an optional ``b/k/kb/m/mb/g/gb/t/tb/p/pb`` unit in any case.
    Anything else raises ``ValueError`` naming the variable — Spark would
    not reject it up front (``abc`` hung the first shuffle join)."""
    raw = os.environ.get(name, "")
    value = raw.strip().lower() or "0"
    if not _BYTE_SIZE.fullmatch(value):
        raise ValueError(
            f"{name}={raw!r} is not a byte size: use digits with an "
            "optional b/k/kb/m/mb/g/gb/t/tb/p/pb unit, e.g. 64m"
        )
    return value


def _env_cpus(name: str) -> str:
    """Core-count env knob for ``local[N]``: unset, empty or ``*`` is
    ``*`` (every core); otherwise a positive integer, kept as it is.
    Anything else raises ``ValueError`` naming the variable — Spark would
    get it as ``local[<value>]``."""
    raw = os.environ.get(name, "")
    value = raw.strip() or "*"
    if value == "*":
        return value
    if not (value.isascii() and value.isdigit() and int(value) > 0):
        raise ValueError(f"{name}={raw!r} is not a positive integer core count")
    return value


def get_spark(
    app_name: str = "etl-procesos-odo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    UTC session timezone keeps timestamp semantics identical to the DuckDB
    oracle; Arrow is on for the Pandas-UDF slow paths; AQE handles runtime
    partition coalescing and skew-join splitting at scale.
    """
    cpus = _env_cpus("SPARK_GRAFT_CPUS")
    prefer_smj = _env_flag("SPARK_GRAFT_PREFER_SMJ")  # raises on a typo
    shj_threshold = _env_byte_size("SPARK_GRAFT_SHJ_AQE_THRESHOLD")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # r13 (guide §3.1/§9): let the planner pick shuffled-hash join when
        # its size conditions hold (build side under
        # autoBroadcastJoinThreshold x shuffle partitions and 3x smaller
        # than the probe) instead of always sorting both sides. Measured
        # on the 13 SortMergeJoin-bearing registry queries (interleaved
        # fresh-JVM A/B, min-of-2-reps, sf0.1, plans/r13/ab_conf_result
        # .json): 86.5 s -> 59.8 s (-31%; q107 19.1->9.3, q168 12.4->7.7,
        # q112 4.1->2.6) with zero plan regressions. Size-conditioned, so
        # it scales with per-partition bytes, not with local[32]; a
        # deployment where build-side estimates are untrustworthy can
        # revert via SPARK_GRAFT_PREFER_SMJ=true without a code change.
        # AQE skew-join splitting covers SHJ as well as SMJ in Spark 3.3+.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            "true" if prefer_smj else "false",
        )
        # r14 (adverse-condition arm, plans/r14/shj_adverse.py): on a
        # deliberately misestimated build side (28-37 MB file estimate,
        # 2.5-3.3 GB runtime rows, 4 GB heap) the planner-level SHJ pick
        # is 1.5-2x slower than SMJ and OOM-flaky at the margin, while
        # the AQE-level rewrite (maxShuffledHashJoinLocalMapThreshold)
        # sees the REAL runtime partition bytes and stays on SMJ — safe
        # and fastest there. Deployments with untrustworthy size
        # estimates set SPARK_GRAFT_PREFER_SMJ=true and this threshold
        # (e.g. 64m) to keep the SHJ win only where runtime sizes prove
        # it fits; unset (default 0) preserves the shipped local-mode
        # behavior and the r13 A/B baseline.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            shj_threshold,
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver-generated parquet stores naive (isAdjustedToUTC=false)
        # timestamps; read them as LTZ (session TZ is UTC) so epoch
        # functions work and semantics match the DuckDB oracle
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # long-session hygiene: the correctness harness runs the whole
        # 203-query registry in one JVM — reclaim shuffle files, broadcast
        # blocks and localCheckpoint RDDs promptly instead of at the default
        # 30-min ContextCleaner GC tick
        .config("spark.cleaner.periodicGC.interval", "2min")
        # ...and the reliable-checkpoint files materialize() writes under
        # a non-local master, which Spark otherwise keeps until the
        # checkpoint directory is removed
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # surface Python-worker native crashes with a stack instead of a
        # silent executor death (diagnosis aid for the Arrow/UDF paths)
        .config("spark.python.worker.faulthandler.enabled", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _in_process_master(spark: SparkSession) -> bool:
    """True when executors run inside the driver JVM (``local`` /
    ``local[N]``); ``local-cluster[...]`` and real cluster masters have
    executors that can be lost independently of the driver."""
    master = spark.sparkContext.master
    return master == "local" or master.startswith("local[")


def _shared_checkpoint_dir(spark: SparkSession) -> None:
    """Make sure reliable checkpoints have a directory. A deployment sets
    one on storage every executor reaches (``spark.checkpoint.dir`` or
    ``SparkContext.setCheckpointDir``); ``local-cluster`` executors share
    the driver's host, so a driver temp dir serves there."""
    sc = spark.sparkContext
    if sc.getCheckpointDir() is not None:
        return
    if not sc.master.startswith("local"):
        raise RuntimeError(
            f"materialize() under master {sc.master!r} needs a checkpoint "
            "directory on storage every executor reaches: set "
            "spark.checkpoint.dir"
        )
    path = tempfile.mkdtemp(prefix="etl-odo-checkpoint-")
    atexit.register(shutil.rmtree, path, True)
    sc.setCheckpointDir(path)


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialise a frame that several consumers (or loop rounds) read,
    so its subtree runs once. The only place the library persists,
    caches or checkpoints; callers must use the returned frame.

    Both forms cut the frame's lineage, so loop rounds keep a flat plan,
    and both are released by the ContextCleaner once the returned frame
    is garbage (periodicGC pinned at 2 min above) — never earlier: a
    caller may build a frame now and run its action later, and releasing
    a checkpoint before that action loses data. The form follows the
    master:

    - In-process master (``local``/``local[N]``):
      ``localCheckpoint(eager)``. Executors share the driver's fate, so
      keeping the data only in executor blocks costs nothing.
    - Any other master, ``local-cluster`` included: a reliable
      ``checkpoint`` written to the checkpoint directory, which survives
      the loss of the executor that computed it. It is always eager: a
      lazy reliable checkpoint computes the frame more than once (twice
      for a two-consumer first action, measured), an eager one once.
      The files are removed with the frame because get_spark sets
      ``spark.cleaner.referenceTracking.cleanCheckpoints``.
    """
    spark = df.sparkSession
    if _in_process_master(spark):
        return df.localCheckpoint(eager=eager)
    _shared_checkpoint_dir(spark)
    return df.checkpoint(eager=True)


def spread_small_input(df):
    """Small-input parallelism guard: a single small parquet file (or any
    sub-parallelism frame) scans as one task, serializing expensive
    per-row expressions or Arrow-batched Python work on one core while
    the rest idle. Repartition up to the session's default parallelism
    only when the frame has fewer partitions — a no-op at scale, where
    file-granular splits already saturate the cluster (and where an
    unconditional shuffle of raw input would be the wrong trade)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _normalize_timestamps(df):
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP (LTZ). The session runs in
    UTC, so the wall-clock values are preserved bit-for-bit and downstream
    epoch functions (``unix_micros`` etc.) that reject NTZ keep working —
    matching DuckDB, whose naive timestamps compare as UTC instants."""
    from pyspark.sql import functions as F

    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Parquet scan for one harness table (predicate/column pushdown apply).

    Timestamp normalization across driver-generated data variants:
    - TIMESTAMP(NANOS) (round-1 data): Spark has no native type — read as
      long nanos (legacy conf, settable at runtime) and truncate to micros,
      exactly like DuckDB's nanos→micros read.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) (round-2 data): Spark 4
      infers TIMESTAMP_NTZ by default; read as LTZ instead (runtime conf,
      so driver-provided sessions get it too) — identical instants under
      the UTC session timezone.
    """
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Pin the session TZ here too (not only in get_spark): every registry
    # query loads through this function, so a driver-provided session gets
    # oracle-matching timestamp semantics regardless of its own defaults.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _normalize_timestamps(df)
    return _normalize_timestamps(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
