"""Per-layer probes read from Spark's own surfaces, from outside the program.

- job, stage and task counts: ``StatusTracker`` with one job group per
  query execution; streaming micro-batch jobs run under a job group equal
  to the stream's ``runId``, which the listener below records;
- SQL operator metrics (shuffle, spill, Python workers, file writes): the
  shared SQL status store, ``_jsparkSession.sharedState().statusStore()``;
- streaming ``durationMs``: a ``StreamingQueryListener``. The program runs
  each stream on its own ``SparkSession.newSession()``, whose listener bus
  only reports that session's queries, so the tracer registers its
  listener on every session created while it is installed;
- JVM garbage-collection time and heap peaks: the JMX beans over py4j.

Nothing here changes the program; every probe is read-only.
"""

from __future__ import annotations

import re
import threading
import time

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

# SQL metric name -> benchmark layer metric; values summed per query.
SQL_METRICS = {
    "shuffle bytes written": "sql.shuffle_write_bytes",
    "local bytes read": "sql.shuffle_read_bytes",
    "remote bytes read": "sql.shuffle_read_bytes",
    "spill size": "sql.spill_bytes",
    "number of written files": "sql.files_written",
    "written output": "sql.bytes_written",
    "time to start Python workers": "python.worker_start_ms",
    "time to initialize Python workers": "python.worker_start_ms",
    "time to run Python workers": "python.worker_run_ms",
    "data returned from Python workers": "python.bytes_from_worker",
}
STREAM_DURATIONS = {
    "addBatch": "stream.add_batch_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
    "queryPlanning": "stream.query_planning_ms",
}
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6,
}  # fmt: skip
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Numeric total of one ``SQLMetrics.stringValue`` rendering.

    Sums render as ``1,234``; size and timing metrics as a header line
    and ``<total> (<min>, <med>, <max> ...)``, totals in B..EiB or
    ms/s/m/h (timings are returned in ms).
    """
    line = text.split("\n")[-1].strip()
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class _StreamListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.durations: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        with self.lock:
            self.durations.append(dict(event.progress.durationMs))

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.terminated.add(str(event.runId))

    def drain(self) -> tuple[list[str], list[dict]]:
        with self.lock:
            out = self.started, self.durations
            self.started, self.durations = [], []
            return out


class Tracer:
    """Counts one query execution at a time; see the module docstring."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.listener = _StreamListener()
        spark.streams.addListener(self.listener)
        new_session = SparkSession.newSession

        def traced_new_session(session):
            s = new_session(session)
            s.streams.addListener(self.listener)
            return s

        SparkSession.newSession = traced_new_session  # for the rest of this process
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        self.gc_beans = list(mf.getGarbageCollectorMXBeans())
        self.heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"
        ]
        self._group = ""
        self._seen = self.store.executionsCount()

    def _new_executions(self) -> list:
        """SQL executions recorded since the last call, in id order."""
        count = self.store.executionsCount()
        execs = self.store.executionsList(self._seen, count - self._seen)
        self._seen = count
        return [execs.apply(i) for i in range(execs.size())]

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self.gc_beans))

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self.heap_pools) / 2**20

    def begin(self, group: str) -> None:
        self._group = group
        self.sc.setJobGroup(group, group)

    def end(self) -> dict[str, float]:
        """Counts for the execution since :meth:`begin`."""
        self.bus.waitUntilEmpty(10_000)
        runs, durations = self._wait_streams()
        jobs = list(self.tracker.getJobIdsForGroup(self._group))
        for run_id in runs:
            jobs += list(self.tracker.getJobIdsForGroup(run_id))
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                st = self.tracker.getStageInfo(s)
                tasks += st.numTasks if st is not None else 0
        out: dict[str, float] = {"jobs": len(jobs), "stages": stages, "tasks": tasks}
        for e in self._new_executions():
            for name, value in self._sql_metrics(e):
                key = SQL_METRICS.get(name)
                if key:
                    out[key] = out.get(key, 0.0) + value
        out["stream.batches"] = len(durations)
        out["stream.trigger_ms"] = sum(d.get("triggerExecution", 0) for d in durations)
        for src, key in STREAM_DURATIONS.items():
            out[key] = float(sum(d.get(src, 0) for d in durations))
        out["stream.queries"] = len(runs)
        return out

    def _wait_streams(self, timeout: float = 10.0) -> tuple[list[str], list[dict]]:
        """Streams started in this execution, once each has terminated."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self.listener.lock:
                if set(self.listener.started) <= self.listener.terminated:
                    break
            time.sleep(0.02)
        return self.listener.drain()

    def _sql_metrics(self, execution) -> list[tuple[str, float]]:
        values = {}
        text = self.store.executionMetrics(execution.executionId()).toList().mkString("\x01")
        for item in filter(None, text.split("\x01")):
            acc, _, value = item[1:-1].partition(",")
            values[int(acc)] = value
        out = []
        defs = execution.metrics().mkString("\x01")
        for item in filter(None, defs.split("\x01")):
            # SQLPlanMetric(<name>,<accumulatorId>,<metricType>)
            name, acc, _ = item[len("SQLPlanMetric(") : -1].rsplit(",", 2)
            if name in SQL_METRICS and int(acc) in values:
                out.append((name, parse_metric(values[int(acc)])))
        return out
