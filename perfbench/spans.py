"""Spans and Spark status-store counts for the benchmark's traced runs.

The benchmark records a span around each of its own calls into the engine
(run -> pass -> op -> construct / execute, or the offers pipeline steps).
In a traced run, after each span that may have started Spark work, it drains
the listener bus and reads what Spark's in-process status stores recorded
for the jobs and SQL executions that began inside the span:

* the app status store (``SparkContext.statusStore``): jobs, stages, task
  time, CPU, GC, shuffle bytes, spill, peak execution memory, task skew;
* the SQL status store (``sharedState.statusStore``): the executed plan
  graph with its SQL metrics (scans, exchanges, Python-worker metrics).

Objects cross py4j as JSON written by Spark's bundled Jackson, one call per
object. Nothing here changes the engine or starts a Spark job.
"""

from __future__ import annotations

import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

MB = 2**20

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}

PYTHON_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}
SCAN_METRICS = {
    "number of files read": "catalog.scan_files",
    "size of files read": "catalog.scan_mb",
    "number of output rows": "catalog.scan_rows",
}
EXCHANGES = ("Exchange", "BroadcastExchange")


def metric_value(text: str) -> float:
    """Parse a formatted SQL metric ("1,600", "1.3 s", "152.0 KiB", or the
    "total (min, med, max ...)\\n<total> (...)" form) into base units:
    seconds for timings, bytes for sizes."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    text = text.split(" (", 1)[0].strip()
    num, _, unit = text.partition(" ")
    return float(num.replace(",", "")) * _UNITS.get(unit, 1.0)


class StatusStores:
    """Reads one SparkContext's status stores through py4j."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = sc.statusTracker()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(scala_module.__getattr__("MODULE$"))
        self._quantiles = sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._next_job = 0
        self._next_exec = 0
        self.skip()

    def skip(self) -> None:
        """Forget the Spark work done so far (e.g. in an untraced pass)."""
        self.drain()
        self._new_jobs()
        while self._sql.execution(self._next_exec).isDefined():
            self._next_exec += 1

    def _to_py(self, obj):
        return json.loads(self._json.writeValueAsString(obj))

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def _new_jobs(self) -> list[dict]:
        """Jobs started since the last call. Job ids are sequential; the
        tracker lists only jobs outside job groups, so ids up to its newest
        are probed one by one (skipping any gap) and later ones until the
        first missing id."""
        newest = max(self._tracker.getJobIdsForGroup(), default=-1)
        jobs = []
        jid = self._next_job
        while True:
            try:
                jobs.append(self._to_py(self._app.job(jid)))
            except Py4JJavaError:  # no such job
                if jid > newest:
                    break
            jid += 1
        self._next_job = jid
        return jobs

    def _new_executions(self, timeout_s: float = 30.0) -> list[int]:
        """Ids of SQL executions started since the last call, once each has
        completed in the SQL listener (its end event lags the action)."""
        ids = []
        while self._sql.execution(self._next_exec).isDefined():
            ids.append(self._next_exec)
            self._next_exec += 1
        deadline = time.monotonic() + timeout_s
        for eid in ids:
            while self._sql.execution(eid).get().completionTime().isEmpty():
                if time.monotonic() > deadline:
                    raise TimeoutError(f"SQL execution {eid} did not complete")
                self.drain()
                time.sleep(0.001)
        return ids

    def collect(self, start_epoch: float, end_epoch: float) -> dict:
        """Counts for the jobs and SQL executions started since the last
        call; ``start_epoch``/``end_epoch`` bound the span (Unix seconds)."""
        self.drain()
        c: dict[str, float] = defaultdict(float)
        executions = self._new_executions()
        intervals = []
        stage_ids: set[int] = set()
        for job in self._new_jobs():
            c["stage.jobs"] += 1
            stage_ids.update(job["stageIds"])
            if job.get("submissionTime") and job.get("completionTime"):
                intervals.append((job["submissionTime"] / 1e3, job["completionTime"] / 1e3))
        longest = None
        for sid in sorted(stage_ids):
            st = self._to_py(self._app.lastStageAttempt(sid))
            if st["status"] == "SKIPPED":
                continue
            c["stage.count"] += 1
            c["stage.tasks"] += st["numCompleteTasks"]
            c["stage.tasks_failed"] += st["numFailedTasks"]
            c["stage.task_run_s"] += st["executorRunTime"] / 1e3
            c["stage.task_cpu_s"] += st["executorCpuTime"] / 1e9
            c["stage.gc_s"] += st["jvmGcTime"] / 1e3
            c["stage.shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
            c["stage.shuffle_read_mb"] += st["shuffleReadBytes"] / MB
            c["stage.spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / MB
            c["stage.peak_exec_mem_mb"] = max(
                c["stage.peak_exec_mem_mb"], st["peakExecutionMemory"] / MB
            )
            if longest is None or st["executorRunTime"] > longest["executorRunTime"]:
                longest = st
        if longest is not None:
            dist = self._app.taskSummary(longest["stageId"], longest["attemptId"], self._quantiles)
            if dist.isDefined():
                p50, mx = self._to_py(dist.get())["executorRunTime"]
                c["stage.task_skew"] = mx / p50 if p50 > 0 else 1.0
        covered = _union(intervals, start_epoch, end_epoch)
        c["spark.job_covered_s"] = covered
        c["spark.driver_gap_s"] = max(0.0, (end_epoch - start_epoch) - covered)
        for eid in executions:
            self._plan_counts(eid, c)
        return dict(c)

    def _plan_counts(self, eid: int, c: dict) -> None:
        nodes = self._to_py(self._sql.planGraph(eid).allNodes())
        values = self._to_py(self._sql.executionMetrics(eid))
        seen: set[int] = set()
        c["sql.executions"] += 1
        for node in nodes:
            metrics = node["metrics"]
            ids = [m["accumulatorId"] for m in metrics]
            # A reused subplan appears twice in the graph with the same
            # accumulators; count each physical operator once.
            if ids and ids[0] in seen:
                continue
            seen.update(ids)
            name = node["name"]
            if name in EXCHANGES:
                c["operators.exchanges"] += 1
            vals = {m["name"]: metric_value(values[str(m["accumulatorId"])])
                    for m in metrics if str(m["accumulatorId"]) in values}
            if "data sent to Python workers" in vals:
                c["python.nodes"] += 1
                for metric, key in PYTHON_METRICS.items():
                    v = vals.get(metric, 0.0)
                    c[key] += v / MB if key.endswith("_mb") else v
            if name.startswith("Scan "):
                for metric, key in SCAN_METRICS.items():
                    v = vals.get(metric, 0.0)
                    c[key] += v / MB if key.endswith("_mb") else v


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """In-memory spans. With ``stores`` set, every span flagged ``spark``
    gets the status-store counts of the Spark work started inside it."""

    def __init__(self, stores: StatusStores | None = None) -> None:
        self.stores = stores
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._trace = 0
        self.pass_no: int | None = None

    def new_trace(self) -> None:
        self._trace += 1

    @contextmanager
    def span(self, name: str, spark: bool = False, **attrs):
        rec = {
            "trace": self._trace,
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "no": self.pass_no,
            "name": name,
            **attrs,
        }
        self._stack.append(rec)
        rec["epoch"] = time.time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if spark and self.stores is not None:
                end_epoch = rec["epoch"] + (rec["end"] - rec["start"])
                rec["counts"] = self.stores.collect(rec["epoch"], end_epoch)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans
        cover (children run one after another on the driver thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)
