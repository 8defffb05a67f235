#!/usr/bin/env python3
"""End-to-end benchmark: one closed-loop client driving one Spark JVM.

    python3 perfbench/run.py --workload clinic_reports --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed``, warms up with one full round, then times a fixed number of
rounds and checks every item against the registry's DuckDB oracle.
``--seconds`` is accepted but does not change the run: the amount of
timed work is fixed (``TIMED_ROUNDS``), not a time budget. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. README.md describes each metric
and the noise it was designed against.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

from host import HostRecord, read_cpu  # noqa: E402
from stats import (  # noqa: E402
    canonical_hash,
    rows_per_s,
    steal_share,
    success_ratio,
    supported_percentile,
)
from workloads import (  # noqa: E402
    CLINIC_SCHEMAS,
    WORKLOADS,
    generate_inputs,
    write_csv_exports,
)

WARMUP_ROUNDS = 1
# a fixed count, not a time budget, so both sides of a comparison do
# identical work whatever the host's speed; three is the fewest rounds
# whose median is one round's time rather than a mean of two
TIMED_ROUNDS = 3
CPUS = 4
DRIVER_MEMORY = "2g"


def pin_environment(work: str) -> None:
    """Fixed parallelism and heap, and every temp, spill and streaming
    checkpoint directory inside this run's own work directory."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(min(CPUS, os.cpu_count() or 1))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # Spark puts the temporary checkpoints of memory-sink streaming
    # queries under java.io.tmpdir; without UsePerfData the JVM writes
    # no hsperfdata file to the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None


class Oracle:
    """The registry's DuckDB oracle over the generated parquet, one
    canonical hash per query, computed on first use."""

    def __init__(self, data_dir: str, qdefs: dict, canon):
        import duckdb

        from etl_procesos_odo_spark.session import TABLES

        self.qdefs, self.canon, self.hashes = qdefs, canon, {}
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def hash(self, name: str) -> str:
        if name not in self.hashes:
            rel = self.con.sql(self.qdefs[name].oracle)
            self.hashes[name] = canonical_hash(
                rel.columns, rel.fetchall(), self.canon)
        return self.hashes[name]

    def close(self) -> None:
        self.con.close()


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.w = WORKLOADS[args.workload]
        self.work = work
        self.items: list[dict] = []
        self.rounds: list[dict] = []
        self.tracer = self.probe = self.stream_events = None

    # --- set-up (everything before the first timed item) -----------------
    def prepare_inputs(self) -> None:
        """Seeded inputs; benchmark-only work, not part of setup_s."""
        self.data_dir = os.path.join(self.work, "data")
        generate_inputs(self.args.seed, self.w.sf, self.data_dir)
        self.exports = {}
        if self.w.ingest:
            self.exports = write_csv_exports(
                self.data_dir, self.w.input_tables,
                os.path.join(self.work, "exports"))
            self.landing = os.path.join(self.work, "landing")
        import pyarrow.parquet as pq

        self.rows_per_round = sum(
            pq.read_metadata(os.path.join(self.data_dir, f"{t}.parquet")).num_rows
            for t in self.w.input_tables)

    def start_session(self) -> float:
        t = time.perf_counter()
        from etl_procesos_odo_spark import sources
        from etl_procesos_odo_spark.registry import registry
        from etl_procesos_odo_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.w.name}")
        self.session_s = time.perf_counter() - t
        self.sources = sources
        by_prefix = {q.name.split("_")[0]: q for q in registry()}
        self.qdefs = {p: by_prefix[p] for p in self.w.queries}
        return time.perf_counter() - t

    # --- one round --------------------------------------------------------
    def ingest(self) -> float:
        """Raw CSV exports -> parquet landing, through the sources layer."""
        t = time.perf_counter()
        for tname, (path, _rows, _bytes) in self.exports.items():
            df = self.sources.read_csv(
                self.spark, path, schema=CLINIC_SCHEMAS[tname])
            df.write.mode("overwrite").parquet(
                os.path.join(self.landing, f"{tname}.parquet"))
        return time.perf_counter() - t

    def item(self, rnd: int, qname: str) -> dict:
        q = self.qdefs[qname]
        item_id = f"r{rnd}:{qname}"
        src = self.landing if self.w.ingest else self.data_dir
        rec = {"round": rnd, "query": q.name, "ok": False}
        tr = self.tracer
        if self.probe:
            self.probe.begin(item_id)
            streams_before = len(self.stream_started)
        try:
            with _span(tr, "item", item_id):
                t0 = time.perf_counter()
                with _span(tr, "build", item_id):
                    df = q.spark_fn(self.spark, src)
                t1 = time.perf_counter()
                if self.probe:
                    # between the timed spans: wait until the status store
                    # has every event of the jobs the build started
                    with _span(tr, "probe", item_id):
                        build_jobs = self.probe.settled_jobs(item_id)
                t2 = time.perf_counter()
                with _span(tr, "engine", item_id):
                    rows = df.collect()
                t3 = time.perf_counter()
            rec.update(build_s=t1 - t0, engine_s=t3 - t2,
                       latency_s=(t1 - t0) + (t3 - t2))
            # outside the timed span: the export (the benchmark's own CSV
            # writer, no library code), the oracle check, layer counters
            if self.w.export:
                with _span(tr, "export", item_id):
                    t = time.perf_counter()
                    rec["export_bytes"] = self.export(q.name, df.columns, rows)
                    rec["export_s"] = time.perf_counter() - t
            rec["ok"] = (canonical_hash(df.columns, rows, self.canon)
                         == self.oracle.hash(qname))
            if self.probe:
                jobs = self.probe.settled_jobs(item_id)
                # micro-batch jobs run under their query's run id
                stream_jobs = set()
                for run_id in self.stream_started[streams_before:]:
                    stream_jobs |= self.probe.jobs(run_id)
                rec.update(self.layer_counts(df, jobs, build_jobs,
                                             stream_jobs))
        except Exception as e:  # an item's failure is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        return rec

    def export(self, name: str, cols, rows) -> int:
        """The workbook step: one report written to a CSV file."""
        import csv

        path = os.path.join(self.work, "out", f"{name}.csv")
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(cols)
            w.writerows(rows)
        return os.path.getsize(path)

    def layer_counts(self, df, jobs: set[int], build_jobs: set[int],
                     stream_jobs: set[int]) -> dict:
        """Jobs the item started while its plan was built (a streaming
        query's micro-batches run inside the build) vs in its action, and
        the stage metrics of all of them."""
        build_jobs = build_jobs | stream_jobs
        jobs = jobs | stream_jobs
        out = {"build_jobs": len(build_jobs),
               "engine_jobs": len(jobs) - len(build_jobs),
               "plan_ms": self.probe.plan_ms(df)}
        out.update(self.probe.stage_totals(jobs))
        return out

    def run_round(self, rnd: int) -> None:
        start_wall = time.time()
        cpu_before = read_cpu()
        ingest_s = 0.0
        if self.w.ingest:
            if self.probe:
                self.probe.begin(f"r{rnd}:ingest")
            with _span(self.tracer, "sources.ingest", f"r{rnd}"):
                ingest_s = self.ingest()
        for qname in self.w.queries:
            self.items.append(self.item(rnd, qname))
        mine = [r for r in self.items if r["round"] == rnd]
        self.rounds.append({
            "round": rnd, "start_wall": start_wall, "end_wall": time.time(),
            "ingest_s": ingest_s,
            "round_s": ingest_s + sum(r.get("latency_s", 0.0) for r in mine),
            "steal": steal_share(cpu_before, read_cpu()),
        })

    # --- tracing hooks ----------------------------------------------------
    def enable_tracing(self) -> None:
        from tracing import EngineProbe, Tracer, streaming_listener

        self.tracer = Tracer()
        self.probe = EngineProbe(self.spark)
        self.stream_started, self.stream_events = streaming_listener(self.spark)


def _span(tracer, name, item):
    return nullcontext() if tracer is None else tracer.span(name, item)


def median_item_ms(items) -> float:
    """Median latency of one item over the timed rounds, in ms."""
    return statistics.median(
        i["latency_s"] * 1000 for i in items
        if i["round"] >= WARMUP_ROUNDS and "latency_s" in i)


def end_to_end(run: Run, setup_s: float) -> dict:
    rounds = [r["round_s"] for r in run.rounds if r["round"] >= WARMUP_ROUNDS]
    ok = sum(r["ok"] for r in run.items)
    m = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (median_item_ms(run.items), "ms"),
        "rows_per_s": (rows_per_s(run.rows_per_round, rounds), "1/s"),
        "success_ratio": (success_ratio(ok, len(run.items)), "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def per_layer(run: Run, host: HostRecord) -> dict:
    """Per-round layer totals, median over the timed rounds."""
    timed = [r for r in run.rounds if r["round"] >= WARMUP_ROUNDS]

    def per_round(fn):
        return statistics.median(fn(r["round"]) for r in timed)

    def item_sum(key, scale=1.0):
        return per_round(lambda rnd: scale * sum(
            i.get(key, 0) for i in run.items if i["round"] == rnd))

    def stream_sum(value):
        def one(rnd):
            rr = next(r for r in run.rounds if r["round"] == rnd)
            return sum(value(e) for e in run.stream_events
                       if rr["start_wall"] <= e["start"] < rr["end_wall"])
        return per_round(one)

    m = {
        "session.start_s": (run.session_s, "s"),
        "sources.ingest_ms": (
            statistics.median(1000 * r["ingest_s"] for r in timed), "ms"),
        "sources.rows": (run.rows_per_round if run.w.ingest else 0, "count"),
        "sources.bytes": (sum(b for _p, _r, b in run.exports.values()), "B"),
        "build.ms": (item_sum("build_s", 1000), "ms"),
        "build.jobs": (item_sum("build_jobs"), "count"),
        "engine.ms": (item_sum("engine_s", 1000), "ms"),
        "engine.jobs": (item_sum("engine_jobs"), "count"),
        "engine.stages": (item_sum("stages"), "count"),
        "engine.tasks": (item_sum("tasks"), "count"),
        "engine.plan_ms": (item_sum("plan_ms"), "ms"),
        "engine.task_run_ms": (item_sum("task_run_ms"), "ms"),
        "engine.task_cpu_ms": (item_sum("task_cpu_ms"), "ms"),
        "engine.gc_ms": (item_sum("gc_ms"), "ms"),
        "engine.shuffle_read_bytes": (item_sum("shuffle_read_bytes"), "B"),
        "engine.shuffle_write_bytes": (item_sum("shuffle_write_bytes"), "B"),
        "engine.spill_bytes": (item_sum("spill_bytes"), "B"),
        "streaming.batches": (stream_sum(lambda e: 1), "count"),
        "streaming.batch_ms": (stream_sum(lambda e: e["batch_ms"]), "ms"),
        "streaming.state_commit_ms": (stream_sum(lambda e: e["commit_ms"]), "ms"),
        "streaming.state_rows": (stream_sum(lambda e: e["state_rows"]), "count"),
        "streaming.state_bytes": (stream_sum(lambda e: e["state_bytes"]), "B"),
        "export.ms": (item_sum("export_s", 1000), "ms"),
        "export.bytes": (item_sum("export_bytes"), "B"),
        "host.steal_share": (host.steal, "ratio"),
        "host.calib_ms": (host.calib_before_ms, "ms"),
        "host.jvm_peak_rss_mb": (host.jvm_peak_rss_mb, "MiB"),
        "trace.latency_p50_ms": (median_item_ms(run.items), "ms"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    # a TERM (a harness timeout) still stops the JVM and removes the
    # work directory on the way out
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    host = HostRecord(ROOT)
    work = os.path.join(HERE, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "out"))
    run = Run(args, work)
    spark = None
    try:
        pin_environment(work)
        from verify_all import canon

        run.canon = canon
        t = time.perf_counter()
        run.prepare_inputs()
        prep_s = time.perf_counter() - t
        setup_s = run.start_session()
        spark = run.spark
        run.oracle = Oracle(run.data_dir, run.qdefs, canon)
        for q in run.w.queries:
            run.oracle.hash(q)
        if args.trace:
            run.enable_tracing()
        if run.w.ingest:
            os.makedirs(run.landing)
        for rnd in range(WARMUP_ROUNDS):
            run.run_round(rnd)
            setup_s += run.rounds[-1]["round_s"]
        for rnd in range(WARMUP_ROUNDS, WARMUP_ROUNDS + TIMED_ROUNDS):
            run.run_round(rnd)
        if args.trace:
            run.probe.drain()  # the last streaming progress events
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        host.close(jvm.pid if jvm else None)
        run.oracle.close()
        metrics = (per_layer(run, host) if args.trace
                   else end_to_end(run, setup_s))
        failed = sum(not r["ok"] for r in run.items)
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "items": len(run.items), "rounds": TIMED_ROUNDS,
            # no tail percentile is reported while a run's timed items
            # support none above the median (README.md, Metrics)
            "tail_percentile_supported": supported_percentile(
                len(run.w.queries) * TIMED_ROUNDS),
            "warmup_rounds": WARMUP_ROUNDS, "prep_s": prep_s,
            "wall_s": time.perf_counter() - t_start,
            "host": host.as_dict(),
            "round_s": [round(r["round_s"], 3) for r in run.rounds],
            "round_steal": [round(r["steal"], 4) for r in run.rounds],
            "item_ms": {q.name: [round(1000 * i["latency_s"], 1)
                                 for i in run.items
                                 if i["query"] == q.name and "latency_s" in i]
                        for q in run.qdefs.values()},
            "errors": [r["error"] for r in run.items if "error" in r][:5],
            # stages of an item's jobs the status store did not know even
            # after the listener bus was drained (0 in a sound traced run)
            "stages_unknown": sum(r.get("stages_unknown", 0)
                                  for r in run.items),
            "mismatches": [r["query"] for r in run.items
                           if not r["ok"] and "error" not in r],
        }
        if args.trace:
            os.makedirs(os.path.join(HERE, ".runs"), exist_ok=True)
            run.tracer.write(
                os.path.join(HERE, ".runs",
                             f"{args.workload}-seed{args.seed}-trace.json"),
                {"record": record, "items": run.items, "rounds": run.rounds,
                 "streaming_events": run.stream_events})
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass
    print(json.dumps({"run": record}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.items),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
