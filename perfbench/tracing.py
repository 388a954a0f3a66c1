"""Spans and Spark counters for the traced run, read from outside the engine.

`Tracer` records one span per layer call (op -> build / execute /
verify / release) in memory, and after each op reads what Spark
itself counted for the jobs that op submitted:

- jobs: the op is tagged with `setJobGroup`, but stream micro-batches
  run under the stream's own group, so an op's jobs are taken as the
  job-id window between its start and end (one client, ops run one
  after another, so every job in the window is the op's);
- stages: `statusStore().lastStageAttempt` for counts, executor,
  shuffle and spill totals, `taskSummary` for the task-time skew
  (max/median, worst stage with a median task of at least 10 ms);
- Catalyst: `QueryPlanningTracker.phases()` of the DataFrame the op
  collected. Writes (the lake sinks, gold) plan their own command
  inside the execute span; that planning is not read, so no phase is
  counted twice;
- Python/Arrow boundary: the SQL status store's metrics named after
  `PythonSQLMetrics`, for every SQL execution in the op's window;
- streaming: a `StreamingQueryListener` registered here.

`NullTracer` has the same interface and records nothing; the untraced
run uses it, so both runs execute the same code path.
"""

from __future__ import annotations

import re
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_PY_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.recv_mb",
}
_PY_METRIC_RE = re.compile(r"SQLPlanMetric\((" + "|".join(map(re.escape, _PY_METRICS)) + r"),(\d+),")
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
# stages whose median task runs shorter than this are left out of the
# skew ratio: at a few ms, scheduling jitter, not data, sets max/median
SKEW_MIN_MEDIAN_MS = 10.0
_TOTAL_RE = re.compile(r"^\s*([0-9][0-9.,]*)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_metric_total(text: str) -> float:
    """Total of a formatted SQL metric ('total (min, med, max ...)\\n1.2 s
    (...)' or plain '1.2 s'), in seconds for timings and MiB for sizes."""
    line = text.strip().splitlines()[-1]
    m = _TOTAL_RE.match(line)
    if m is None:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _seq(s) -> list:
    """Elements of a Scala Seq reached over py4j."""
    return [s.apply(i) for i in range(s.size())]


class NullTracer:
    @contextmanager
    def op(self, name: str):
        yield

    @contextmanager
    def span(self, name: str):
        yield

    def mark_build_done(self) -> None:
        pass

    def observe_df(self, df) -> None:
        pass

    def before_release(self) -> None:
        pass

    def after_release(self) -> None:
        pass

    def close(self) -> None:
        pass


class _StreamListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.progress: list[tuple[float, int, int]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state_rows = sum(s.numRowsTotal for s in p.stateOperators)
        with self.lock:
            self.progress.append((float(p.durationMs.get("triggerExecution", 0)), int(p.numInputRows), int(state_rows)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.cores = self.sc.defaultParallelism
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._cur: dict | None = None
        self.listener = _StreamListener()
        spark.streams.addListener(self.listener)

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "op": self._cur["op"] if self._cur else None, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, name: str):
        self.sc.setJobGroup(name, f"perfbench op {name}")
        cur = {"op": name, "job_lo": self._max_job_id(), "exec_lo": self._max_execution_id(),
               "n_progress": len(self.listener.progress), "counters": {}}
        self._cur = cur
        try:
            with self.span(name):
                yield
        finally:
            self._collect(cur)
            self.sc._jsc.clearJobGroup()
            self.ops.append(cur)
            self._cur = None

    # -- counters ------------------------------------------------------
    def _max_job_id(self) -> int:
        return max((j.jobId() for j in _seq(self.jsc.statusStore().jobsList(None))), default=-1)

    def _max_execution_id(self) -> int:
        return max((e.executionId() for e in _seq(self._sql_store().executionsList())), default=-1)

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def observe_df(self, df) -> None:
        """Record Catalyst phase times and plan size of a collected DataFrame."""
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        c = self._cur["counters"]
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            if summary is not None and not summary.isEmpty():
                c[f"catalyst.{phase}_ms"] = c.get(f"catalyst.{phase}_ms", 0.0) + float(summary.get().durationMs())
        c["catalyst.plan_kb"] = c.get("catalyst.plan_kb", 0.0) + len(qe.optimizedPlan().toString()) / 1024

    def before_release(self) -> None:
        self._cur["counters"]["caching.persisted_rdds"] = self._persistent_rdds()
        self._release_t0 = time.perf_counter()

    def after_release(self) -> None:
        t = time.perf_counter()
        c = self._cur["counters"]
        c["caching.release_s"] = t - self._release_t0
        c["caching.leaked_rdds"] = self._persistent_rdds()

    def _persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def _collect(self, cur: dict) -> None:
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        c = cur["counters"]
        job_ids, stage_ids = [], set()
        for j in _seq(store.jobsList(None)):
            if j.jobId() > cur["job_lo"]:
                job_ids.append(j.jobId())
                stage_ids.update(_seq(j.stageIds()))
        c["scheduler.jobs"] = len(job_ids)
        sums = dict.fromkeys(
            ("scheduler.stages", "scheduler.tasks", "executor.run_s", "executor.cpu_s", "executor.gc_s",
             "tables.input_mb", "tables.input_rows", "shuffle.write_mb", "shuffle.read_mb",
             "shuffle.spill_mb", "shuffle.fetch_wait_s"), 0.0)
        skew = 1.0
        quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a skipped stage (reused shuffle) never ran
                continue
            if st.status().toString() != "COMPLETE":
                continue
            sums["scheduler.stages"] += 1
            sums["scheduler.tasks"] += st.numCompleteTasks()
            sums["executor.run_s"] += st.executorRunTime() / 1e3
            sums["executor.cpu_s"] += st.executorCpuTime() / 1e9
            sums["executor.gc_s"] += st.jvmGcTime() / 1e3
            sums["tables.input_mb"] += st.inputBytes() / 2**20
            sums["tables.input_rows"] += st.inputRecords()
            sums["shuffle.write_mb"] += st.shuffleWriteBytes() / 2**20
            sums["shuffle.read_mb"] += st.shuffleReadBytes() / 2**20
            sums["shuffle.spill_mb"] += st.diskBytesSpilled() / 2**20
            sums["shuffle.fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
            if st.numCompleteTasks() >= 2:
                dist = store.taskSummary(sid, st.attemptId(), quantiles)
                if not dist.isEmpty():
                    run = dist.get().executorRunTime()
                    if run.apply(0) >= SKEW_MIN_MEDIAN_MS:
                        skew = max(skew, run.apply(1) / run.apply(0))
        c.update(sums)
        c["executor.task_skew"] = skew
        self._collect_python(cur)
        progress = self.listener.progress[cur["n_progress"]:]
        c["streaming.batches"] = len(progress)
        c["streaming.input_rows"] = sum(p[1] for p in progress)
        c["streaming.state_rows"] = sum(p[2] for p in progress)
        cur["batch_ms"] = [p[0] for p in progress]

    def mark_build_done(self) -> None:
        """Count the jobs the builder ran before its result was requested."""
        self.jsc.listenerBus().waitUntilEmpty()
        self._cur["counters"]["registry.build_jobs"] = self._max_job_id() - self._cur["job_lo"]

    def _collect_python(self, cur: dict) -> None:
        sql = self._sql_store()
        c = cur["counters"]
        for name in _PY_METRICS.values():
            c[name] = 0.0
        for ex in _seq(sql.executionsList()):
            if ex.executionId() <= cur["exec_lo"]:
                continue
            # one py4j call for the execution's metric list, not one per metric
            listed = ex.metrics().mkString("\n")
            wanted = {
                int(m.group(2)): _PY_METRICS[m.group(1)]
                for m in _PY_METRIC_RE.finditer(listed)
            }
            if not wanted:
                continue
            values = {}
            it = sql.executionMetrics(ex.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            for acc, name in wanted.items():
                if acc in values:
                    c[name] += parse_metric_total(values[acc])

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    # -- summary -------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus time covered by children."""
        out: dict[str, float] = {}
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
        return out

    def batch_p50_ms(self) -> float:
        batches = [b for op in self.ops for b in op["batch_ms"]]
        return statistics.median(batches) if batches else 0.0
