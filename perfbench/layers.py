"""Per-layer measurement from outside the package.

``Tracer`` keeps spans (name, start, end, parent, operation id) in memory
around the benchmark's calls into each layer. ``SparkSurfaces`` reads Spark's
own local surfaces: the UI REST store (jobs, stages, SQL executions, cached
RDDs, executors) and ``StreamingQueryListener`` progress. ``layer_metrics``
joins the two by time: a job or SQL execution belongs to the innermost span
whose interval holds its submission time. Streaming work runs on stream
threads outside any job group, so its numbers come from the listener.
"""

from __future__ import annotations

import json
import re
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

MIB = float(2**20)

#: Layer metrics reported by a traced run, in output order.
LAYER_METRICS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "plans.construct_tasks": "count",
    "plans.construct_driver_only_s": "s",
    "execute.s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.driver_only_s": "s",
    "execute.executor_run_s": "s",
    "execute.executor_cpu_s": "s",
    "execute.gc_s": "s",
    "execute.input_mb": "MiB",
    "execute.shuffle_write_mb": "MiB",
    "execute.spill_mb": "MiB",
    "functions.python_total_s": "s",
    "functions.python_boot_s": "s",
    "functions.python_sent_mb": "MiB",
    "functions.python_returned_mb": "MiB",
    "functions.python_rows": "count",
    "cacheutil.cached_scan_nodes": "count",
    "cacheutil.resident_rdds": "count",
    "cacheutil.resident_mb": "MiB",
    "sources.fetch_s": "s",
    "sources.bronze_mb": "MiB",
    "sinks.write_jobs": "count",
    "sinks.write_executor_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written_mb": "MiB",
    "pipeline.branch_s.weather": "s",
    "pipeline.branch_s.station_status": "s",
    "pipeline.attempts": "count",
    "pipeline.rows_inserted": "count",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MiB",
    "jvm_heap_peak_mb": "MiB",
    "trace.wall_s": "s",
}


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, the clock Spark's REST timestamps use
    end: float
    parent: int | None
    op: int | None


@dataclass
class Tracer:
    """Span recorder. Disabled, it records only the operation spans."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)
    _op: Span | None = None

    @contextmanager
    def _span(self, name: str):
        # pipeline branches run on pool threads: their spans hang off the op
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._op
        with self._lock:
            span = Span(len(self.spans), name, time.time(), 0.0,
                        parent.id if parent else None, self._op.id if self._op else None)
            self.spans.append(span)
        stack.append(span)
        try:
            yield span
        finally:
            span.end = time.time()
            stack.pop()

    @contextmanager
    def op(self, name: str):
        """The span of one whole operation; always recorded."""
        with self._span("op:" + name) as span:
            span.op = span.id
            self._op = span
            try:
                yield span
            finally:
                self._op = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._span(name) as span:
            yield span

    def add(self, counter: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counters[counter] = self.counters.get(counter, 0.0) + value

    def peak(self, counter: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counters[counter] = max(self.counters.get(counter, 0.0), value)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# ------------------------------------------------------------ Spark surfaces


def rest_time(stamp: str | None) -> float | None:
    """'2026-10-17T04:02:50.810GMT' -> epoch seconds."""
    if not stamp:
        return None
    dt = datetime.strptime(stamp[:-3], "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


_SCALE = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}


_NUMBER = re.compile(r"(-?[\d,]+(?:\.\d+)?)(?: (ns|ms|s|m|h|B|KiB|MiB|GiB|TiB)\b)?")


def sql_metric(text: str) -> float:
    """A SQL metric as the UI renders it ('1.4 s', '234.0 KiB', '1,474', or
    a 'total (min, med, max ...)' header over such a total) -> seconds,
    bytes or a count."""
    if text.startswith("total ("):
        text = text.partition("\n")[2]
    num, unit = _NUMBER.search(text).groups()
    return float(num.replace(",", "")) * _SCALE.get(unit, 1.0)


def _progress_listener():
    """A StreamingQueryListener that keeps every progress event as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressLog()


class SparkSurfaces:
    """The local UI REST store of the live application, plus a streaming
    progress listener while attached."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
        self.spark = spark
        self.listener = None

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as resp:
            return json.load(resp)

    def attach_listener(self) -> None:
        self.listener = _progress_listener()
        self.spark.streams.addListener(self.listener)

    def detach_listener(self) -> list[dict]:
        if self.listener is None:
            return []
        self.spark.streams.removeListener(self.listener)
        return self.listener.events

    def heap_peak_mb(self) -> float:
        driver = next(e for e in self.get("/executors") if e["id"] == "driver")
        return driver["peakMemoryMetrics"]["JVMHeapMemory"] / MIB

    def resident(self) -> tuple[int, float]:
        rdds = self.get("/storage/rdd")
        return len(rdds), sum(r["memoryUsed"] + r["diskUsed"] for r in rdds) / MIB

    def snapshot(self) -> dict:
        return {
            "jobs": self.get("/jobs"),
            "stages": self.get("/stages?details=false"),
            "sql": self.get("/sql?details=true&planDescription=false&offset=0&length=1000000"),
        }


# ---------------------------------------------------------- layer attribution

#: A REST timestamp is truncated to the millisecond.
_SLACK = 0.002


def _owner(spans: list[Span], t: float | None) -> Span | None:
    """Innermost span holding time t (spans are recorded in start order, so
    the last holder is the innermost)."""
    if t is None:
        return None
    hit = None
    for s in spans:
        if s.start - _SLACK <= t <= s.end:
            hit = s
    return hit


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _driver_only(spans: list[Span], jobs_by_span: dict[int, list[dict]]) -> float:
    total = 0.0
    for s in spans:
        busy = []
        for j in jobs_by_span.get(s.id, []):
            a = max(rest_time(j["submissionTime"]), s.start)
            b = min(rest_time(j.get("completionTime")) or s.end, s.end)
            if b > a:
                busy.append((a, b))
        total += (s.end - s.start) - _union(busy)
    return total


#: The SQL metrics the layers read: Python exec nodes and file writes.
_SQL_METRICS = {
    "time to run Python workers", "time to start Python workers",
    "time to initialize Python workers", "data sent to Python workers",
    "data returned from Python workers", "number of output rows",
    "number of written files", "written output",
}


def layer_metrics(tracer: Tracer, snap: dict, progress: list[dict]) -> dict[str, float]:
    """Every LAYER_METRICS entry except the session, heap and wall figures,
    which the caller measures itself."""
    spans = tracer.spans
    by_layer: dict[str, list[Span]] = {}
    for s in spans:
        by_layer.setdefault(s.name, []).append(s)

    jobs_by_span: dict[int, list[dict]] = {}
    for j in snap["jobs"]:
        owner = _owner(spans, rest_time(j["submissionTime"]))
        if owner is not None:
            jobs_by_span.setdefault(owner.id, []).append(j)
    stages = {(s["stageId"], s["attemptId"]): s for s in snap["stages"]
              if s["status"] not in ("SKIPPED", "PENDING")}
    stages_of_job = {j["jobId"]: j["stageIds"] for j in snap["jobs"]}

    def layer_jobs(layer: str) -> list[dict]:
        return [j for s in by_layer.get(layer, []) for j in jobs_by_span.get(s.id, [])]

    def stage_rows(job_ids) -> list[dict]:
        ids = {sid for jid in job_ids for sid in stages_of_job.get(jid, [])}
        return [st for (sid, _), st in stages.items() if sid in ids]

    m: dict[str, float] = {}
    plans, execute = by_layer.get("plans", []), by_layer.get("execute", [])
    cj = layer_jobs("plans")
    m["plans.construct_s"] = sum(s.end - s.start for s in plans)
    m["plans.construct_jobs"] = len(cj)
    m["plans.construct_tasks"] = sum(j["numCompletedTasks"] for j in cj)
    m["plans.construct_driver_only_s"] = _driver_only(plans, jobs_by_span)

    ej = layer_jobs("execute")
    est = stage_rows(j["jobId"] for j in ej)
    m["execute.s"] = sum(s.end - s.start for s in execute)
    m["execute.jobs"] = len(ej)
    m["execute.stages"] = len(est)
    m["execute.tasks"] = sum(st["numCompleteTasks"] for st in est)
    m["execute.driver_only_s"] = _driver_only(execute, jobs_by_span)
    m["execute.executor_run_s"] = sum(st["executorRunTime"] for st in est) / 1e3
    m["execute.executor_cpu_s"] = sum(st["executorCpuTime"] for st in est) / 1e9
    m["execute.gc_s"] = sum(st["jvmGcTime"] for st in est) / 1e3
    m["execute.input_mb"] = sum(st["inputBytes"] for st in est) / MIB
    m["execute.shuffle_write_mb"] = sum(st["shuffleWriteBytes"] for st in est) / MIB
    m["execute.spill_mb"] = sum(st["diskBytesSpilled"] for st in est) / MIB

    fn = dict.fromkeys(("total", "boot", "sent", "returned", "rows"), 0.0)
    cached_scans = files = written = 0.0
    write_jobs: set[int] = set()
    # Every plan that scans a cache shows the cached plan again, with the
    # metrics of the run that built it; count each such node once.
    python_nodes: set[str] = set()
    # the sinks module is called from the pipeline and the stream drains; a
    # pipeline branch can submit its write while the other branch's fetch
    # span is the innermost one, so test the enclosing layers directly
    writers = by_layer.get("pipeline", []) + by_layer.get("streaming", [])
    for ex in snap["sql"]:
        submitted = rest_time(ex["submissionTime"])
        if _owner(spans, submitted) is None:
            continue
        is_write = False
        for node in ex["nodes"]:
            vals = {mm["name"]: sql_metric(mm["value"]) for mm in node["metrics"]
                    if mm["name"] in _SQL_METRICS}
            if node["nodeName"] == "InMemoryTableScan":
                cached_scans += 1
            signature = json.dumps([node["nodeName"], node["metrics"]])
            if "time to run Python workers" in vals and signature not in python_nodes:
                python_nodes.add(signature)
                fn["total"] += vals["time to run Python workers"]
                fn["boot"] += vals.get("time to start Python workers", 0.0)
                fn["boot"] += vals.get("time to initialize Python workers", 0.0)
                fn["sent"] += vals.get("data sent to Python workers", 0.0)
                fn["returned"] += vals.get("data returned from Python workers", 0.0)
                fn["rows"] += vals.get("number of output rows", 0.0)
            if "number of written files" in vals and _owner(writers, submitted) is not None:
                is_write = True
                files += vals["number of written files"]
                written += vals.get("written output", 0.0)
        if is_write:
            write_jobs.update(ex["successJobIds"] + ex["failedJobIds"])
    m["functions.python_total_s"] = fn["total"]
    m["functions.python_boot_s"] = fn["boot"]
    m["functions.python_sent_mb"] = fn["sent"] / MIB
    m["functions.python_returned_mb"] = fn["returned"] / MIB
    m["functions.python_rows"] = fn["rows"]
    m["cacheutil.cached_scan_nodes"] = cached_scans
    m["sinks.write_jobs"] = len(write_jobs)
    m["sinks.write_executor_s"] = sum(st["executorRunTime"] for st in stage_rows(write_jobs)) / 1e3
    m["sinks.files_written"] = files
    m["sinks.bytes_written_mb"] = written / MIB

    m["sources.fetch_s"] = sum(s.end - s.start for s in by_layer.get("sources", []))
    for name in ("cacheutil.resident_rdds", "cacheutil.resident_mb", "sources.bronze_mb",
                 "pipeline.branch_s.weather", "pipeline.branch_s.station_status",
                 "pipeline.attempts", "pipeline.rows_inserted"):
        m[name] = tracer.counters.get(name, 0.0)

    dur = [p.get("durationMs", {}) for p in progress]
    m["streaming.batches"] = len(progress)
    m["streaming.batch_p50_s"] = (
        statistics.median(d.get("triggerExecution", 0) for d in dur) / 1e3 if dur else 0.0
    )
    m["streaming.add_batch_s"] = sum(d.get("addBatch", 0) for d in dur) / 1e3
    m["streaming.query_planning_s"] = sum(d.get("queryPlanning", 0) for d in dur) / 1e3
    m["streaming.wal_commit_s"] = sum(d.get("walCommit", 0) for d in dur) / 1e3
    m["streaming.input_rows"] = sum(p.get("numInputRows", 0) for p in progress)
    state = [p.get("stateOperators", []) for p in progress]
    m["streaming.state_rows"] = max((sum(o["numRowsTotal"] for o in s) for s in state), default=0)
    m["streaming.state_mem_mb"] = max(
        (sum(o["memoryUsedBytes"] for o in s) for s in state), default=0
    ) / MIB
    return m
