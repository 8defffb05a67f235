"""session.py policies: the single materialisation call site, the
cluster form of the streaming export, and env-knob parsing (boolean and
byte-size knobs)."""

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


def test_run_to_memory_cluster_export_survives_view_drop(spark, monkeypatch):
    """Under a non-local master the big-sink export is a reliable
    checkpoint, which must not depend on the sink's temp view that
    run_to_memory drops: the returned frame reads the checkpoint files
    (LogicalRDD), with the same rows as the local-master export."""
    from etl_procesos_odo_spark import session
    from etl_procesos_odo_spark.streaming import temporal

    from .conftest import SF_DIR

    def export(name):
        stream = temporal.events_stream(spark, SF_DIR)
        out = temporal.run_to_memory(stream.groupBy("event_type").count(), name)
        return out, sorted(tuple(r) for r in out.collect())

    monkeypatch.setattr(temporal, "_DRIVER_EXPORT_MAX_BYTES", 0)
    _, local_rows = export("materialize_export_local")
    monkeypatch.setattr(session, "_in_process_master", lambda _spark: False)
    out, cluster_rows = export("materialize_export_cluster")
    assert "materialize_export_cluster" not in [
        t.name for t in spark.catalog.listTables()
    ]
    assert "LogicalRDD" in out._jdf.queryExecution().analyzed().toString()
    assert cluster_rows == local_rows and local_rows


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
