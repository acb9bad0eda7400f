"""Spans around calls into the engine's layers, and Spark's own counters.

A span is opened by the benchmark around one call into a layer's public
function (`session.get_spark`, a sink's `apply_batch`, a registry
builder, ...). Every span carries the run ID. With tracing on,
a span also sets a Spark job group named after itself; when it closes, the
jobs of that group (plus the jobs of any stream started inside it, which
run under the stream's own run ID, plus jobs that carry no group, which
helper threads submit) are read back from Spark's status store.

Spark streaming progress comes from a `StreamingQueryListener`, which is
registered in both modes: it is how Spark reports micro-batch times.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# SQL metrics of the Arrow/pandas Python nodes, by display name
PYTHON_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_bytes_sent",
}
# units of the SQL status store's formatted metric values
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def _metric_value(text: str) -> float:
    """'total (min, med, max ...)\\n12.1 s (2.8 s, ...)' or '0 ms' -> 12.1"""
    num, unit = text.split("\n")[-1].split(" (")[0].split()
    return float(num) * _UNITS[unit]


class ProgressLog(StreamingQueryListener):
    """Keeps every streaming event Spark posts, as plain dicts."""

    def __init__(self):
        self._lock = threading.Lock()
        self.started: dict[str, str | None] = {}
        self.terminated: dict[str, str | None] = {}
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        with self._lock:
            self.started[str(event.runId)] = event.name

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "rows": p.numInputRows,
            "sink": p.sink.description,
            "ms": dict(p.durationMs),
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated[str(event.runId)] = event.exception

    def mark(self) -> tuple[set[str], int]:
        with self._lock:
            return set(self.started), len(self.progress)

    def since(self, mark: tuple[set[str], int], timeout: float = 15.0):
        """Run IDs started and progress events posted since `mark`, once
        every stream started since then has reported its termination
        (listener events arrive asynchronously)."""
        before, n = mark
        deadline = time.monotonic() + timeout
        while True:
            with self._lock:
                runs = [r for r in self.started if r not in before]
                done = all(r in self.terminated for r in runs)
                if done or time.monotonic() > deadline:
                    errors = [self.terminated.get(r) for r in runs if self.terminated.get(r)]
                    return runs, list(self.progress[n:]), errors
            time.sleep(0.01)


class Tracer:
    """Records spans; with `enabled`, also attributes Spark work to them."""

    def __init__(self, spark, enabled: bool, progress: ProgressLog):
        self.run_id = uuid.uuid4().hex[:12]
        self.enabled = enabled
        self.progress = progress
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._ungrouped = set(self._sc.statusTracker().getJobIdsForGroup(None))

    def record(self, name: str, layer: str, wall_s: float) -> None:
        """A span for a call timed before the tracer existed (the session
        start that creates the context it reads)."""
        self.spans.append({
            "run_id": self.run_id, "id": len(self.spans), "parent": None,
            "name": name, "layer": layer, "leaf": False, "wall_s": wall_s,
        })

    @contextmanager
    def span(self, name: str, layer: str, leaf: bool = True, **attrs):
        """Time one call. A leaf span is a call into a layer; with tracing
        on, the Spark work it caused is attributed to it. A non-leaf span
        (a round, the set-up) only groups leaves."""
        rec = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "layer": layer,
            "leaf": leaf,
            **attrs,
        }
        self.spans.append(rec)
        group = f"{self.run_id}.{rec['id']}"
        traced = self.enabled and leaf
        if traced:
            self._sc.setJobGroup(group, name)
            executions = self._sql_store.executionsCount()
        mark = self.progress.mark()
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            runs, events, errors = self.progress.since(mark)
            rec["streams"] = runs
            rec["progress"] = events
            rec["stream_errors"] = [str(e) for e in errors]
            if traced:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
                rec["spark"] = self._work([group, *runs])
                rec["spark"].update(self._python(executions))

    def _python(self, since: int) -> dict:
        """Python-worker metrics of the SQL executions started since the
        execution count `since` (the Arrow/pandas nodes' own metrics)."""
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        store = self._sql_store
        n = store.executionsCount() - since
        if n <= 0:
            return out
        execs = store.executionsList(since, n)
        for i in range(execs.size()):
            ex = execs.apply(i)
            # one call for all of the plan's metrics: each renders as
            # SQLPlanMetric(name,accumulatorId,metricType)
            wanted = []
            for line in ex.metrics().mkString("\n").splitlines():
                name, acc, _ = line[len("SQLPlanMetric("):-1].rsplit(",", 2)
                if name in PYTHON_METRICS:
                    wanted.append((PYTHON_METRICS[name], int(acc)))
            if not wanted:
                continue
            values = store.executionMetrics(ex.executionId())
            for key, acc in wanted:
                v = values.get(acc)
                if v.isDefined():
                    out[key] += _metric_value(v.get())
        return out

    def _work(self, groups: list[str]) -> dict:
        tracker = self._sc.statusTracker()
        ids = set()
        for g in groups:
            ids.update(tracker.getJobIdsForGroup(g))
        ungrouped = set(tracker.getJobIdsForGroup(None))
        ids.update(ungrouped - self._ungrouped)
        self._ungrouped = ungrouped
        out = {
            "jobs": len(ids), "stages": 0, "tasks": 0, "failed_tasks": 0,
            "executor_run_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "intervals": [],
        }
        stage_ids = set()
        for jid in sorted(ids):
            job = self._job(jid)
            if job is None:
                continue
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                out["intervals"].append((sub.get().getTime(), end.get().getTime()))
            seq = job.stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted or never-submitted stage
                continue
            if str(st.status()) not in ("COMPLETE", "FAILED"):
                continue  # skipped: its output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def _job(self, jid: int, timeout: float = 5.0):
        """Job data once the status store has seen the job end (its
        listener runs asynchronously)."""
        deadline = time.monotonic() + timeout
        while True:
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # evicted from the store
                return None
            if job.completionTime().isDefined() or time.monotonic() > deadline:
                return job
            time.sleep(0.005)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh, default=str)


def union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of [start, end] millisecond intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0
