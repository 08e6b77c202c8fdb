"""Tracing for the per-layer run, all of it from outside the program.

* ``Tracer`` records a span (name, start, end, parent) around each call the
  benchmark makes into a layer's public function. Spans stay in memory and
  are written out once, when the run ends.
* ``SparkCounters`` reads Spark's status store after each operation and
  sums the stages that operation started.
* ``analysis_ms`` and ``CatalystCounters`` read Catalyst's phase tracker:
  of the built DataFrame, and of every query execution that completes.
* ``StreamCounters`` is a ``StreamingQueryListener`` that sums micro-batch
  progress reports.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus its children's.

        Operations run one at a time, so children never overlap."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


_STAGE_FIELDS = {
    # name: (getter, scale to the unit the metric reports)
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
}


class SparkCounters:
    """Differences in the status store around each operation.

    Stage and job ids only grow, and the store lists the newest first, so
    the stages an operation started are the leading entries whose id is
    above the last one seen."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._defaults = [getattr(self._store, f"stageList$default${i}")() for i in range(2, 6)]
        self._last_stage, self._last_job = -1, -1
        self.delta()

    def delta(self) -> dict[str, float]:
        self._bus.waitUntilEmpty(30_000)
        out: dict[str, float] = defaultdict(float)
        jobs = self._store.jobsList(None)
        newest_job = self._last_job
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= self._last_job:
                break
            newest_job = max(newest_job, jid)
            out["jobs"] += 1
        self._last_job = newest_job
        stages = self._store.stageList(None, *self._defaults)
        newest = self._last_stage
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            for key, (getter, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(st, getter)() * scale
        self._last_stage = newest
        out["spill_bytes"] = out.pop("memory_spill_bytes", 0) + out.pop("disk_spill_bytes", 0)
        out["task_offcpu_s"] = out["task_run_s"] - out["task_cpu_s"]
        return dict(out)


def _phases_ms(qe) -> dict[str, float]:
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def analysis_ms(df) -> float:
    """Analysis ms of ``df``'s own query execution. Read right after the
    DataFrame is built: analysis is eager, and a later write of ``df`` may
    stretch the phase's recorded end."""
    return _phases_ms(df._jdf.queryExecution())["analysis"]


class CatalystCounters:
    """A ``QueryExecutionListener`` that sums the Catalyst phase times of
    every query execution that completes in the session: the noop write
    that forces a DataFrame plans the DataFrame's logical plan in a query
    execution of its own, and this is where that planning is seen."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._lock = threading.Lock()
        self.totals: dict[str, float] = defaultdict(float)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):
        ms = _phases_ms(qe)
        with self._lock:
            for phase, v in ms.items():
                self.totals[phase] += v

    def onFailure(self, func_name, qe, exception):
        pass

    def take(self) -> dict[str, float]:
        """Totals since the last call. Call after ``SparkCounters.delta``,
        which waits until the listener bus has delivered every event."""
        with self._lock:
            out, self.totals = dict(self.totals), defaultdict(float)
        return out


class StreamCounters(StreamingQueryListener):
    """Sums of the progress reports of every streaming query in the session."""

    def __init__(self):
        self._lock = threading.Lock()
        self.totals: dict[str, float] = defaultdict(float)
        self._state_rows: dict[str, int] = {}
        self._started = 0
        self._ended = 0

    def onQueryStarted(self, event):
        with self._lock:
            self._started += 1

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs
        with self._lock:
            t = self.totals
            t["batches"] += 1
            t["input_rows"] += p.numInputRows
            t["batch_s"] += d.get("triggerExecution", 0) / 1e3
            t["add_batch_s"] += d.get("addBatch", 0) / 1e3
            t["query_planning_s"] += d.get("queryPlanning", 0) / 1e3
            t["wal_commit_s"] += d.get("walCommit", 0) / 1e3
            t["rows_dropped_by_watermark"] += sum(
                o.numRowsDroppedByWatermark for o in p.stateOperators
            )
            self._state_rows[str(p.id)] = sum(o.numRowsTotal for o in p.stateOperators)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self._ended += 1

    def take(self, timeout_s: float = 10.0) -> dict[str, float]:
        """Totals since the last call, once every started query's
        termination has been delivered (or after ``timeout_s``)."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self._ended >= self._started:
                    break
            time.sleep(0.01)
        with self._lock:
            out = dict(self.totals)
            out["state_rows"] = float(sum(self._state_rows.values()))
            self.totals = defaultdict(float)
            self._state_rows = {}
        return out
