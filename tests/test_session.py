"""session.py policies: the single materialisation call site, the
streaming export (run_to_memory returns the memory sink in place, with
state partitions capped at the task slots), and env-knob parsing
(boolean, byte-size and core-count knobs)."""

from __future__ import annotations

import pathlib
import re

import pytest


def test_materialize_is_the_only_persist_site():
    """Every reused frame goes through session.materialize, so one policy
    (form per master, release by the ContextCleaner) covers them all. A raw
    (local)checkpoint/persist/cache elsewhere in the package bypasses it."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "etl_procesos_odo_spark"
    pat = r"localCheckpoint\(|\.checkpoint\(|\.persist\(|\.cache\(\)"
    bad: list[str] = []
    for f in sorted(pkg.rglob("*.py")):
        if f.name == "session.py" and f.parent == pkg:
            continue
        src = f.read_text()
        for m in re.finditer(pat, src):
            line = src[: m.start()].count("\n") + 1
            bad.append(f"{f.relative_to(pkg)}:{line}:{m.group(0)}")
    assert not bad, bad


@pytest.mark.parametrize("in_process", [True, False])
def test_run_to_memory_returns_the_sink_in_place(spark, monkeypatch, in_process):
    """The streaming export is the memory-sink frame itself, under any
    master: after its view is dropped it still equals the batch answer,
    its plan reads the sink (no rebuilt rows, no checkpoint RDD), and
    reading it runs no Spark job. Both forms run with no checkpoint
    directory set, so an export that needed checkpoint storage would
    fail or set one."""
    from etl_procesos_odo_spark import session
    from etl_procesos_odo_spark.streaming import temporal

    from .conftest import SF_DIR

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    saved_dir = jsc.checkpointDir()
    set_dir = getattr(jsc, "checkpointDir_$eq")
    set_dir(sc._jvm.scala.Option.empty())
    monkeypatch.setattr(session, "_in_process_master", lambda _spark: in_process)
    name = f"sink_export_{'local' if in_process else 'cluster'}"
    group = f"{name}_read"
    try:
        stream = temporal.events_stream(spark, SF_DIR)
        out = temporal.run_to_memory(stream.groupBy("event_type").count(), name)
        assert name not in [t.name for t in spark.catalog.listTables()]
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "MemoryPlan" in plan and "LogicalRDD" not in plan
        sc.setJobGroup(group, group)
        try:
            got = sorted(tuple(r) for r in out.collect())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jsc.listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert sc.getCheckpointDir() is None
    finally:
        set_dir(saved_dir)
    batch = session.load_table(spark, SF_DIR, "events")
    want = sorted(tuple(r) for r in batch.groupBy("event_type").count().collect())
    assert got == want and want


def test_run_to_memory_state_partitions_fit_the_task_slots(spark):
    """Every stateful operator of a run_to_memory backfill runs at most
    one state partition per task slot, for the fixed default (q113's
    window counts) and the size-scaled count (q58's Python state)."""
    from pyspark.sql.streaming import StreamingQueryListener

    from etl_procesos_odo_spark import queries_streaming_ml as qsm

    from .conftest import SF_DIR

    parts: list[tuple[str, int]] = []

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            parts.extend(
                (p.name, o.numShufflePartitions) for o in p.stateOperators or []
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    try:
        qsm.q113_streaming_heavy_hitters(spark, SF_DIR).collect()
        qsm.q58_stateful_user_stats(spark, SF_DIR).collect()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    slots = spark.sparkContext.defaultParallelism
    assert {n for n, _ in parts} == {"q113_hh_out", "q58_stateful_user_stats_out"}
    assert all(k <= slots for _, k in parts), (slots, parts)


@pytest.mark.parametrize("value", ["ture", "2", "enabled", "yes please"])
def test_prefer_smj_rejects_unknown_values(monkeypatch, value):
    """A typo in SPARK_GRAFT_PREFER_SMJ must fail loudly, naming the
    variable, instead of silently keeping the default join preference.
    The value is parsed before any session is built."""
    from etl_procesos_odo_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_PREFER_SMJ", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_PREFER_SMJ"):
        get_spark("prefer-smj-typo")


@pytest.mark.parametrize(
    "value,expected",
    [("", False), ("false", False), (" No ", False), ("0", False),
     ("off", False), ("TRUE", True), ("1", True), ("yes", True), ("on", True)],
)
def test_env_flag_known_spellings(monkeypatch, value, expected):
    from etl_procesos_odo_spark.session import _env_flag

    monkeypatch.setenv("SPARK_GRAFT_PREFER_SMJ", value)
    assert _env_flag("SPARK_GRAFT_PREFER_SMJ") is expected


@pytest.mark.parametrize("value", ["abc", "64 megabytes", "-1", "1.5g", "64mib", "m"])
def test_shj_aqe_threshold_rejects_non_byte_sizes(monkeypatch, value):
    """A malformed SPARK_GRAFT_SHJ_AQE_THRESHOLD must fail loudly before
    any session is built: Spark accepts the string and then hangs the
    first shuffle join on it."""
    from etl_procesos_odo_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_SHJ_AQE_THRESHOLD", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_SHJ_AQE_THRESHOLD"):
        get_spark("shj-threshold-typo")


@pytest.mark.parametrize(
    "value,expected",
    [("", "0"), ("0", "0"), (" 64m ", "64m"), ("64MB", "64mb"),
     ("1024", "1024"), ("512b", "512b"), ("2G", "2g"), ("1tb", "1tb"),
     ("3Pb", "3pb"), ("8k", "8k")],
)
def test_env_byte_size_known_spellings(monkeypatch, value, expected):
    from etl_procesos_odo_spark.session import _env_byte_size

    monkeypatch.setenv("SPARK_GRAFT_SHJ_AQE_THRESHOLD", value)
    assert _env_byte_size("SPARK_GRAFT_SHJ_AQE_THRESHOLD") == expected


def test_env_byte_size_unset_is_zero(monkeypatch):
    from etl_procesos_odo_spark.session import _env_byte_size

    monkeypatch.delenv("SPARK_GRAFT_SHJ_AQE_THRESHOLD", raising=False)
    assert _env_byte_size("SPARK_GRAFT_SHJ_AQE_THRESHOLD") == "0"


@pytest.mark.parametrize(
    "value,expected",
    [(None, "*"), ("", "*"), ("  ", "*"), ("*", "*"), ("4", "4"),
     (" 32 ", "32"), ("1", "1")],
)
def test_env_cpus_known_spellings(monkeypatch, value, expected):
    from etl_procesos_odo_spark.session import _env_cpus

    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert _env_cpus("SPARK_GRAFT_CPUS") == expected


@pytest.mark.parametrize("value", ["0", "-2", "abc", "4.5", "4 cores", "**", "４"])
def test_env_cpus_rejects_non_positive_integers(monkeypatch, value):
    """A malformed SPARK_GRAFT_CPUS must fail loudly, naming the variable,
    before any session is built, instead of reaching Spark as
    ``local[<value>]``."""
    from etl_procesos_odo_spark.session import _env_cpus, get_spark

    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        _env_cpus("SPARK_GRAFT_CPUS")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark("cpus-typo")
