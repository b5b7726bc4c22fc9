"""Tracing for the benchmark's traced run: spans recorded around the calls the
benchmark makes into the package, plus the counts Spark's own status stores
hold for the jobs each span started.

Nothing here is active in an untraced run: ``Tracer(enabled=False)``
records nothing, so end-to-end metrics are measured with tracing off.
Spans stay in memory and are written out with the result file.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

_PY_METRICS = {
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
}
_UNIT = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "": 1,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of a SQL status-store metric string, in bytes or ms.

    The store renders a metric either as ``"1.5 s"`` or, when several tasks
    reported, as ``"total (min, med, max (stageId: taskId))\\n1.5 s (...)"``;
    the total is the first value on the last line."""
    m = _VALUE.match(text.strip().splitlines()[-1].strip())
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


class Tracer:
    """Span recorder plus per-phase Spark counters for one worker process."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._spark = None

    def bind(self, spark) -> None:
        """Attach the session once it exists; spans around its start are
        recorded before there is one."""
        self._spark = spark
        if self.enabled:
            sc = spark.sparkContext
            self._jsc = sc._jsc.sc()
            self._tracker = sc.statusTracker()
            self._sql_store = spark._jsparkSession.sharedState().statusStore()
            self._seen_jobs: set[int] = set()
            self._seen_stages: set[int] = set()
            self._seen_execs = self._sql_store.executionsCount()
            self._groups: set[str] = set()

    def end_setup(self) -> None:
        """Mark every job, stage and SQL execution so far as seen: set-up's
        work (the first footer scan among it) is ``setup_s``'s, not the
        first op's."""
        if not self.enabled:
            return
        for jid in self._job_ids(None) - self._seen_jobs:
            self._seen_jobs.add(jid)
            info = self._tracker.getJobInfo(jid)
            self._seen_stages.update(info.stageIds if info is not None else ())
        self._seen_execs = self._sql_store.executionsCount()

    def add_job_group(self, group: str) -> None:
        """Count the jobs of another job group in the current phase too: a
        streaming query runs its micro-batches in group ``runId``."""
        if self.enabled:
            self._groups.add(group)

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op if op is not None else self._current_op(),
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _current_op(self) -> str | None:
        return self.spans[self._stack[-1]]["op"] if self._stack else None

    # -- Spark counters ------------------------------------------------------
    @contextmanager
    def phase(self, op: str, phase: str, counters: dict):
        """Span one phase of one op; with tracing on, tag its jobs with
        ``setJobGroup(op, phase)`` and add the jobs' stage metrics and the
        Python-worker SQL metrics to ``counters``."""
        if not self.enabled:
            yield
            return
        sc = self._spark.sparkContext
        sc.setJobGroup(op, phase)
        t = time.perf_counter()
        try:
            with self.span(phase, op=op):
                yield
        finally:
            wall = time.perf_counter() - t
            sc.setJobGroup(op, "idle")
            self._collect(op, phase, wall, counters)

    def jobs_seen_now(self) -> set[int]:
        """Ids of every job of the current op so far."""
        return self._job_ids(self._current_op())

    def _job_ids(self, op: str | None) -> set[int]:
        # the status stores are fed by the listener bus; drain it first
        self._jsc.listenerBus().waitUntilEmpty()
        # jobs an operator submits from its own driver threads carry no job
        # group, so the ungrouped ones count too (ops run one at a time)
        ids = set(self._tracker.getJobIdsForGroup(None))
        for group in self._groups | ({op} if op is not None else set()):
            ids |= set(self._tracker.getJobIdsForGroup(group))
        return ids

    def _collect(self, op: str, phase: str, wall: float, counters: dict) -> None:
        jobs = self._job_ids(op) - self._seen_jobs
        self._seen_jobs |= jobs
        self._groups.clear()
        c = {
            "s": wall,
            "jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
            "executor_run_ms": 0, "executor_cpu_ms": 0.0, "scheduler_delay_ms": 0,
            "gc_ms": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "output_rows": 0, "output_bytes": 0,
        }
        store = self._jsc.statusStore()
        for jid in sorted(jobs):
            info = self._tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else ():
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.numCompleteTasks() + sd.numFailedTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["failed_tasks"] += sd.numFailedTasks()
                c["executor_run_ms"] += sd.executorRunTime()
                c["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                c["gc_ms"] += sd.jvmGcTime()
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                c["output_rows"] += sd.outputRecords()
                c["output_bytes"] += sd.outputBytes()
                sub, first = sd.submissionTime(), sd.firstTaskLaunchedTime()
                if sub.isDefined() and first.isDefined():
                    c["scheduler_delay_ms"] += first.get().getTime() - sub.get().getTime()
        c["python"] = self._python_metrics()
        counters[phase] = c

    def _python_metrics(self) -> dict:
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        n = self._sql_store.executionsCount()
        if n <= self._seen_execs:
            return out
        execs = self._sql_store.executionsList(self._seen_execs, n - self._seen_execs)
        self._seen_execs = n
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._sql_store.executionMetrics(eid)
            nodes = self._sql_store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if not any(t in node.name() for t in ("Python", "Pandas", "Arrow")):
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = _PY_METRICS.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_sql_metric(v.get())
        return out

    def catalyst_phases(self, df) -> dict:
        """Catalyst phase times (ms) from the DataFrame's QueryPlanningTracker;
        forces physical planning when it has not happened yet."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        jvm = self._spark.sparkContext._jvm
        phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
        return {
            f"{p}_ms": float(phases[p].durationMs()) if p in phases else 0.0
            for p in ("analysis", "optimization", "planning")
        }

    def jvm_gc_ms(self) -> float:
        jvm = self._spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    def jvm_peak_rss_mb(self) -> float:
        """VmHWM of the gateway JVM, from /proc."""
        pid = self._spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")
