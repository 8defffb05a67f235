"""Traced mode: spans around each layer call plus engine and streaming
counters, all read from outside the library.

Spans and events stay in memory and are written once, at exit. The Spark
status store and the streaming listener are read only when tracing is on;
an untraced run pays for neither.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError, Py4JJavaError


class Tracer:
    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, item: str | None = None):
        """Record [start, end) of one layer call, parented to the enclosing
        span (an index into ``spans``). Counts are kept per item, under the
        same item id, in the run's item records."""
        rec = {
            "name": name,
            "item": item,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class EngineProbe:
    """Jobs, stages and task metrics of one item, from the always-on status
    store (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()

    def begin(self, item: str) -> None:
        self.sc.setJobGroup(item, item)

    def drain(self) -> None:
        """Block until the listener bus has delivered every posted event.
        The status store and the streaming listener fill from it
        asynchronously, so without this a read right after an action can
        miss its last jobs and stages."""
        self.bus.waitUntilEmpty()

    def settled_jobs(self, item: str) -> set[int]:
        """The item's jobs so far, read once the bus is drained."""
        self.drain()
        return self.jobs(item)

    def jobs(self, item: str) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(item))

    def stage_totals(self, job_ids) -> dict:
        """Sums over the stages that ran. Call after ``drain``: a stage
        Spark skipped (its output was reused) is in the store as SKIPPED
        and is not counted; a job or stage the store does not know at all
        is counted in ``stages_unknown``."""
        tot = dict(stages=0, tasks=0, task_run_ms=0, task_cpu_ms=0.0,
                   gc_ms=0, shuffle_read_bytes=0, shuffle_write_bytes=0,
                   spill_bytes=0, stages_unknown=0)
        seen = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                tot["stages_unknown"] += 1
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # not in the store
                    tot["stages_unknown"] += 1
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numCompleteTasks()
                tot["task_run_ms"] += sd.executorRunTime()
                tot["task_cpu_ms"] += sd.executorCpuTime() / 1e6
                tot["gc_ms"] += sd.jvmGcTime()
                tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
                tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
        return tot

    @staticmethod
    def plan_ms(df) -> float:
        """Catalyst analysis + optimization + planning time of the frame's
        own query execution (0 where the tracker is not readable)."""
        try:
            it = df._jdf.queryExecution().tracker().phases().iterator()
        except Py4JError:  # no tracker on this plan
            return 0.0
        total = 0.0
        while it.hasNext():
            kv = it.next()
            total += kv._2().durationMs()
        return total


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def streaming_listener(spark):
    """Register a listener that keeps every query start and progress event
    in memory. The lists fill asynchronously from Spark's listener bus.

    A streaming query runs its micro-batch jobs under its own job group,
    the query's run id, so ``started`` is how an item's stream jobs are
    found in the status store."""
    from pyspark.sql.streaming import StreamingQueryListener

    started: list[str] = []
    events: list[dict] = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            started.append(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            events.append({
                "name": p.name,
                "batch": p.batchId,
                "start": _epoch(p.timestamp),
                "batch_ms": (p.durationMs or {}).get("triggerExecution", 0),
                "commit_ms": sum(o.commitTimeMs for o in ops),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_bytes": sum(o.memoryUsedBytes for o in ops),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Listener())
    return started, events
