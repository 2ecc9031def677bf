"""Instruments read from outside the program: harness spans, streaming
progress (a query's ``recentProgress``, or a ``StreamingQueryListener`` for
queries the harness does not hold), and Spark's event log.

Spans are recorded at the harness's own call boundaries (set-up, each
query's build and execution, each emoncms ``poster`` call), kept in memory
and written out when the run ends.  Event-log and progress totals are
restricted to a time window, so the untimed set-up work does not count.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

from stats import percentile

PROGRESS_CAP = 1000  # progress updates each streaming query keeps


class Spans:
    """In-memory span log: name, start, end, the index of the enclosing span
    open in the same thread (``parent``) and attributes."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._open = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Records one span around the ``with`` body (nothing when off)."""
        if not self.enabled:
            yield
            return
        stack = self._open.__dict__.setdefault("stack", [])
        with self._lock:
            idx = len(self.spans)
            self.spans.append({"name": name, "start": time.time(), "end": None,
                               "parent": stack[-1] if stack else None, **attrs})
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx]["end"] = time.time()

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def batch_end(p: dict) -> float:
    """Epoch seconds at which the micro-batch of progress ``p`` ended."""
    return _ts(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1e3


class ProgressListener(StreamingQueryListener):
    """Feeds every streaming progress event of the session to a ``Progress``
    (for queries the harness does not hold, such as the registry's stream
    twins)."""

    def __init__(self, progress: "Progress"):
        self.progress = progress

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.progress.add(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


class Progress:
    """Streaming progress, one JSON dict per micro-batch: each query's input
    rows, and when each of its micro-batches ended with how many rows it had
    read by then (the gateway's delivery times need them).  When ``keep``,
    it also keeps every progress dict."""

    def __init__(self, keep: bool):
        self.keep = keep
        self.rows: dict[str, int] = defaultdict(int)
        self.read_by: dict[str, list[tuple[float, int]]] = defaultdict(list)
        self.events: list[dict] = []
        self._lock = threading.Lock()

    @classmethod
    def of_queries(cls, queries, cap: int) -> "Progress":
        """The progress every query in ``queries`` kept (``recentProgress``,
        which holds the latest ``cap`` updates); raises if a query may have
        dropped some."""
        out = cls(keep=True)
        for q in queries:
            ps = q.recentProgress
            if len(ps) >= cap:
                raise RuntimeError(f"{q.name}: {len(ps)} progress updates, "
                                   "older ones may have been dropped")
            for p in sorted(ps, key=lambda p: p.timestamp):
                out.add(json.loads(p.json))
        return out

    def add(self, p: dict) -> None:
        name = p.get("name") or p["id"]
        rows = p.get("numInputRows", 0)
        with self._lock:
            self.rows[name] += rows
            if rows:
                self.read_by[name].append((batch_end(p), self.rows[name]))
            if self.keep:
                self.events.append(p)

    def rows_of(self, name: str) -> int:
        with self._lock:
            return self.rows.get(name, 0)

    def time_read(self, name: str, n_rows: int) -> float | None:
        """End time of the micro-batch after which query ``name`` had read
        ``n_rows`` rows in all (None if it has not yet)."""
        with self._lock:
            history = list(self.read_by.get(name, ()))
        return next((t for t, rows in history if rows >= n_rows), None)

    def batches(self, start: float, end: float) -> list[dict]:
        """Progress of micro-batches that ran (not idle heartbeats) and
        began inside the window."""
        with self._lock:
            evs = list(self.events)
        return [p for p in evs
                if "addBatch" in p.get("durationMs", {})
                and start <= _ts(p["timestamp"]) <= end]


class PlanningTimes:
    """A ``QueryExecutionListener`` (through Py4J) that records the Catalyst
    time of every SQL execution of the session that succeeded: analysis,
    optimization and physical planning, from the execution's own
    ``QueryPlanningTracker``.  Listeners run on the listener bus, so call
    ``settle`` before reading ``records``."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.records: list[tuple[str, float]] = []
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802
        total_ms = 0
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            total_ms += it.next()._2().durationMs()
        self.records.append((func_name, total_ms / 1e3))

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802
        pass

    def settle(self) -> int:
        """Waits until the listener bus has delivered every event posted so
        far; returns the number of records."""
        self._bus.waitUntilEmpty()
        return len(self.records)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def stream_layers(batches: list[dict]) -> dict[str, float]:
    """Per-layer metrics of the ``streaming`` and ``streaming.state``
    layers, summed over micro-batches (times in ms)."""
    dur = defaultdict(float)
    trig, commit, dropped, input_rows = [], 0.0, 0, 0
    last_state: dict[str, tuple[int, int]] = {}
    for p in batches:
        for k, v in p["durationMs"].items():
            dur[k] += v
        trig.append(p["durationMs"].get("triggerExecution", 0))
        input_rows += p.get("numInputRows", 0)
        ops = p.get("stateOperators", [])
        commit += sum(o.get("commitTimeMs", 0) for o in ops)
        dropped += sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
        if ops:
            last_state[p["runId"]] = (
                sum(o.get("numRowsTotal", 0) for o in ops),
                sum(o.get("memoryUsedBytes", 0) for o in ops),
            )
    out = {
        "stream.batches": len(batches),
        "stream.trigger_ms.p50": percentile(trig, 50)[0] if trig else 0.0,
        "stream.trigger_ms.p99": percentile(trig, 99)[0] if trig else 0.0,
        "stream.latest_offset_ms": dur["latestOffset"],
        "stream.get_batch_ms": dur["getBatch"],
        "stream.query_planning_ms": dur["queryPlanning"],
        "stream.add_batch_ms": dur["addBatch"],
        "stream.wal_commit_ms": dur["walCommit"],
        "stream.commit_offsets_ms": dur["commitOffsets"],
        "state.commit_ms": commit,
        "state.rows_total": sum(r for r, _ in last_state.values()),
        "state.memory_bytes": sum(m for _, m in last_state.values()),
        "state.rows_dropped_by_watermark": dropped,
        "sources.input_rows": input_rows,
    }
    return out


# ------------------------------------------------------------- event log

_PY_NODE_MARKS = ("Python", "Arrow", "Pandas")
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    """accumulator id -> (plan node name, metric name), over a plan tree."""
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every (possibly rolled) uncompressed event log."""
    events = []
    files = sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
    for path in files:
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                if line.strip():
                    events.append(json.loads(line))
    return events


def event_log_layers(events: list[dict], start: float, end: float) -> dict[str, float]:
    """Scheduler, executor, shuffle and Python-worker totals for the jobs
    submitted, stages completed and tasks finished inside the window."""
    lo, hi = start * 1000, end * 1000
    acc_names: dict[int, tuple[str, str]] = {}
    jobs = stages = tasks = 0
    run_ms = gc_ms = cpu_ns = 0
    sh_w = sh_r = spill = 0
    py = defaultdict(int)
    for e in events:
        kind = e.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metrics(e.get("sparkPlanInfo", {}), acc_names)
        elif kind == "SparkListenerJobStart":
            jobs += lo <= e.get("Submission Time", 0) <= hi
        elif kind == "SparkListenerStageCompleted":
            stages += lo <= e["Stage Info"].get("Completion Time", 0) <= hi
        elif kind == "SparkListenerTaskEnd":
            info = e.get("Task Info", {})
            if not lo <= info.get("Finish Time", 0) <= hi:
                continue
            tasks += 1
            m = e.get("Task Metrics") or {}
            run_ms += m.get("Executor Run Time", 0)
            cpu_ns += m.get("Executor CPU Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            sh_w += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            rd = m.get("Shuffle Read Metrics", {})
            sh_r += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for a in info.get("Accumulables", []):
                node, metric = acc_names.get(a.get("ID"), ("", a.get("Name", "")))
                # Bytes to and from Python workers are named alike on every
                # node (UDFs, Python data sources and sinks); output rows
                # count only on Python UDF nodes.
                if metric in _PY_BYTES or (
                        metric == "number of output rows"
                        and any(mark in node for mark in _PY_NODE_MARKS)):
                    py[metric] += int(a.get("Update", 0) or 0)
    return {
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
        "executor.run_s": run_ms / 1e3,
        "executor.cpu_s": cpu_ns / 1e9,
        "executor.gc_s": gc_ms / 1e3,
        "shuffle.write_bytes": sh_w,
        "shuffle.read_bytes": sh_r,
        "spill.bytes": spill,
        "python.data_sent_bytes": py["data sent to Python workers"],
        "python.data_received_bytes": py["data returned from Python workers"],
        "python.rows_received": py["number of output rows"],
    }
