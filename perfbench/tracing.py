"""Tracing from outside the program: spans recorded by the benchmark
around its own calls into the program, and counts read from Spark's own
status stores and listener events.

- ``Tracer`` keeps spans (id, name, start, end, parent id, run id, op
  id) in memory; the runner writes them out when the run ends.
- ``SparkProbe`` reads, after each operation, what Spark recorded while
  it ran: jobs and stages from the application status store, every SQL
  execution's Catalyst phases and physical-plan SQL metrics through a
  ``QueryExecutionListener``, and streaming progress through a
  ``StreamingQueryListener``. Both listeners are registered here, by the
  benchmark.
- ``wrap_public`` puts a span around public functions and methods of the
  program's modules, so inner layers (bronze/silver/gold, verify,
  reports, incremental, export, layout) get their own spans.
"""

from __future__ import annotations

import functools
import re
import threading
import time

from stats import union_length

_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: [^,]*, value: (-?\d+)\)")

PYTHON_METRICS = {
    "pythonBootTime": "python.boot_s",
    "pythonInitTime": "python.init_s",
    "pythonTotalTime": "python.run_s",
    "pythonDataSent": "python.bytes_sent",
    "pythonDataReceived": "python.bytes_received",
}
WRITE_METRICS = {
    "numFiles": "sources.files_written",
    "numOutputBytes": "sources.write_bytes",
    "numParts": "sources.partitions_written",
    "taskCommitTime": "sources.commit_s",
    "jobCommitTime": "sources.commit_s",
}
WRITE_NODES = ("DataWritingCommandExec", "ExecutedCommandExec")


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def add(self, name: str, start: float, end: float, parent: int) -> None:
        """Record a span measured elsewhere (a Spark job)."""
        self.spans.append({
            "id": len(self.spans), "name": name, "start": start, "end": end,
            "parent": parent, "run": self.run_id, "op": self.op_id,
        })


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        t = self.tracer
        self.index = len(t.spans)
        t.spans.append({
            "id": self.index, "name": self.name, "start": time.time(), "end": None,
            "parent": t._stack[-1] if t._stack else None,
            "run": t.run_id, "op": t.op_id, **self.attrs,
        })
        t._stack.append(self.index)
        return t.spans[self.index]

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[self.index]["end"] = time.time()
        t._stack.pop()
        return False


def wrap_public(tracer: Tracer, owner, names, span_name: str) -> None:
    """Replace ``owner.<name>`` for each name with a wrapper that records
    a span named ``span_name`` around the call."""
    for name in names:
        fn = getattr(owner, name)

        @functools.wraps(fn)
        def wrapped(*a, __fn=fn, **kw):
            with tracer.span(span_name, fn=__fn.__qualname__):
                return __fn(*a, **kw)

        setattr(owner, name, wrapped)


class SparkProbe:
    """What Spark recorded during one operation, read after it ends."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._next_job = self._max_job_id() + 1
        self._lock = threading.Lock()
        self._pending: list = []
        self._progress: list[dict] = []
        self._metric_types: dict[str, str] = {}
        ensure_callback_server_started(sc._gateway)
        self._qe_listener = _QueryListener(self)
        spark._jsparkSession.listenerManager().register(self._qe_listener)
        probe = self

        class _StreamListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                probe._on_progress(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._stream_listener = _StreamListener()
        spark.streams.addListener(self._stream_listener)

    def close(self) -> None:
        try:
            self.spark.streams.removeListener(self._stream_listener)
            self.spark._jsparkSession.listenerManager().unregister(self._qe_listener)
        except Exception:
            pass

    def _max_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    # -- listener callbacks (listener-bus thread) -------------------------
    def _on_execution(self, qe) -> None:
        # Only keep the reference here; the plan is read in collect(),
        # after the operation, so the walk does not compete with it.
        with self._lock:
            self._pending.append(qe)

    def _read_execution(self, qe) -> dict:
        phases = []
        tracker = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            p = tracker.get(phase)
            if p.isDefined():
                p = p.get()
                phases.append((phase, p.startTimeMs() / 1e3, p.endTimeMs() / 1e3))
        counts: dict[str, float] = {}
        self._walk(qe.executedPlan(), counts)
        return {"phases": phases, "counts": counts}

    def _walk(self, node, counts: dict) -> None:
        cls = node.getClass().getSimpleName()
        if cls.startswith("Reused"):
            return
        metrics = node.metrics()
        for name, value in _METRIC.findall(metrics.toString()):
            key = None
            if name in PYTHON_METRICS:
                key = PYTHON_METRICS[name]
            elif cls in WRITE_NODES or "Write" in cls or "Append" in cls \
                    or "Overwrite" in cls:
                key = WRITE_METRICS.get(name)
            elif name == "numFiles" and "Scan" in cls:
                key = "sources.files_read"
            if key is None:
                continue
            v = float(value)
            if key.endswith("_s"):
                v /= self._time_divisor(metrics, name)
            counts[key] = counts.get(key, 0.0) + v
        if cls == "AdaptiveSparkPlanExec":
            self._walk(node.executedPlan(), counts)
            return
        if cls.endswith("QueryStageExec"):
            self._walk(node.plan(), counts)
            return
        children = node.children()
        for i in range(children.size()):
            self._walk(children.apply(i), counts)
        subs = node.subqueries()
        for i in range(subs.size()):
            self._walk(subs.apply(i), counts)

    def _time_divisor(self, metrics, name: str) -> float:
        kind = self._metric_types.get(name)
        if kind is None:
            kind = metrics.apply(name).metricType()
            self._metric_types[name] = kind
        return 1e9 if kind == "nsTiming" else 1e3

    def _on_progress(self, p) -> None:
        d = p.durationMs or {}
        ops = p.stateOperators or []
        with self._lock:
            self._progress.append({
                "query": str(p.id),
                "trigger_s": d.get("triggerExecution", 0) / 1e3,
                "add_batch_s": d.get("addBatch", 0) / 1e3,
                "planning_s": d.get("queryPlanning", 0) / 1e3,
                "wal_commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
                "state_commit_s": sum(o.commitTimeMs for o in ops) / 1e3,
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_bytes": sum(o.memoryUsedBytes for o in ops),
            })

    # -- per-operation read-out ------------------------------------------
    def collect(self) -> dict:
        """Everything recorded since the previous call: jobs with their
        stage metrics, SQL executions, streaming progress."""
        self._bus.waitUntilEmpty(30_000)
        jobs = []
        jid = self._next_job
        while True:
            try:
                j = self._store.job(jid)
            except Exception:
                break
            jobs.append(self._job(j))
            jid += 1
        self._next_job = jid
        with self._lock:
            pending, self._pending = self._pending, []
            progress, self._progress = self._progress, []
        execs = [self._read_execution(qe) for qe in pending]
        for qe in pending:
            qe._detach()
        return {"jobs": jobs, "executions": execs, "progress": progress}

    def _job(self, j) -> dict:
        sub = j.submissionTime()
        done = j.completionTime()
        start = sub.get().getTime() / 1e3 if sub.isDefined() else 0.0
        end = done.get().getTime() / 1e3 if done.isDefined() else start
        out = {"start": start, "end": end, "stages": 0, "tasks": 0,
               "task_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
               "shuffle.write_bytes": 0, "shuffle.read_bytes": 0,
               "shuffle.fetch_wait_s": 0.0, "shuffle.spill_bytes": 0,
               "sources.read_bytes": 0}
        ids = j.stageIds()
        for i in range(ids.size()):
            try:
                s = self._store.lastStageAttempt(ids.apply(i))
            except Exception:
                continue
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["task_s"] += s.executorRunTime() / 1e3
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle.write_bytes"] += s.shuffleWriteBytes()
            out["shuffle.read_bytes"] += s.shuffleReadBytes()
            out["shuffle.fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
            out["shuffle.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["sources.read_bytes"] += s.inputBytes()
        return out


class _QueryListener:
    def __init__(self, probe: SparkProbe):
        self.probe = probe

    def onSuccess(self, func_name, qe, duration_ns):
        self.probe._on_execution(qe)

    def onFailure(self, func_name, qe, exception):
        self.probe._on_execution(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def job_time_in(jobs, start: float, end: float) -> float:
    """Part of ``[start, end]`` during which at least one job ran."""
    return union_length(
        (max(j["start"], start), min(j["end"], end)) for j in jobs
    )
