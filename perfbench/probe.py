"""Measurement from outside the engine: spans around the benchmark's own
calls, and reads of Spark's accounting (query-execution phases, the
status store's job and stage data, physical-plan SQL metrics, streaming
progress). Nothing here changes what the engine runs.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

#: Fields of ``StageData`` summed per stage attempt, with their scale to
#: the per-layer unit (ms -> s, ns -> s, bytes -> MB).
STAGE_FIELDS = {
    "exec.task_run_s": ("executorRunTime", 1e-3),
    "exec.task_cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "sources.input_mb": ("inputBytes", 1e-6),
    "sources.input_rows": ("inputRecords", 1),
    "exec.shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "exec.shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "exec.failed_tasks": ("numFailedTasks", 1),
    "exec.tasks": ("numTasks", 1),
}


class Tracer:
    """In-memory spans (id, parent, name, start, end; epoch seconds).

    Disabled tracers record nothing, so the untraced run pays only a
    context-manager call per span.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = self.add(name, time.time(), None, **attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float | None, parent: int | None = None, **attrs) -> dict:
        """Record a span whose times were measured elsewhere (Spark's clocks)."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"id": len(self.spans) + 1, "parent": parent, "name": name, "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            ivs = sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])
            )
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out


class QueryListener:
    """py4j implementation of Spark's ``QueryExecutionListener``: keeps
    every successful or failed query execution for later inspection."""

    def __init__(self) -> None:
        self.executions: list[tuple[str, object]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self.executions.append((func_name, qe))

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        self.executions.append((func_name, qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkProbe:
    """Reads Spark's own accounting for the jobs and queries of a span."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        ensure_callback_server_started(gw)
        self.listener = QueryListener()
        self._manager = spark._jsparkSession.listenerManager()
        self._no_quantile = gw.new_array(gw.jvm.double, 0)
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._empty = gw.jvm.java.util.ArrayList()

    def attach(self) -> None:
        """Start receiving query executions (traced passes only)."""
        self._manager.register(self.listener)

    def detach(self) -> None:
        self.drain()
        self._manager.unregister(self.listener)

    def drain(self) -> list[tuple[str, object]]:
        """Wait for the listener bus, then hand over the queries seen so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out, self.listener.executions = self.listener.executions, []
        return out

    def group_jobs(self, group: str | None) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_metrics(self, job_ids: list[int]) -> dict[str, float]:
        """Sum stage data over the stage attempts the jobs ran.

        ``exec.stage_skew`` is the worst (max / median) task run time of
        any multi-task stage.
        """
        m = {k: 0.0 for k in STAGE_FIELDS}
        m.update({"exec.jobs": float(len(job_ids)), "exec.stages": 0.0, "exec.spill_mb": 0.0, "exec.stage_skew": 1.0})
        seen = set()
        for jid in job_ids:
            stage_ids = self.store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self.store.stageData(sid, False, self._empty, False, self._no_quantile)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if st.status().toString() == "SKIPPED":
                        continue
                    m["exec.stages"] += 1
                    for key, (field, scale) in STAGE_FIELDS.items():
                        m[key] += getattr(st, field)() * scale
                    m["exec.spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) * 1e-6
                    if st.numTasks() > 1:
                        summary = self.store.taskSummary(sid, st.attemptId(), self._quantiles)
                        if summary.isDefined():
                            run = summary.get().executorRunTime()
                            median, top = run.apply(0), run.apply(1)
                            if median > 0:
                                m["exec.stage_skew"] = max(m["exec.stage_skew"], top / median)
        return m

    def plan_metrics(self, qe) -> dict[str, float]:
        """Walk a finished query's final physical plan (through adaptive
        query stages and subqueries) and sum the operator metrics that
        mark hash-aggregate fallbacks and the Python-worker boundary."""
        out = {"exec.agg_fallbacks": 0.0, "exec.python_rows": 0.0, "exec.python_mb": 0.0}
        keys = {
            "numTasksFallBacked": ("exec.agg_fallbacks", 1),
            "pythonNumRowsReceived": ("exec.python_rows", 1),
            "pythonDataSent": ("exec.python_mb", 1e-6),
            "pythonDataReceived": ("exec.python_mb", 1e-6),
        }
        todo = [qe.executedPlan()]
        while todo:
            node = todo.pop()
            name = node.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
                continue
            if name.endswith("QueryStageExec"):
                todo.append(node.plan())
                continue
            if name in ("ReusedExchangeExec", "ReusedSubqueryExec"):
                continue
            metrics = node.metrics()
            for key, (dst, scale) in keys.items():
                hit = metrics.get(key)
                if hit.isDefined():
                    out[dst] += hit.get().value() * scale
            kids = node.children()
            for i in range(kids.size()):
                todo.append(kids.apply(i))
            subs = node.subqueries()
            for i in range(subs.size()):
                todo.append(subs.apply(i))
        return out

    def query_layers(self, executions, tracer=None, parent: int | None = None) -> dict[str, float]:
        """Catalyst phase seconds and plan metrics summed over query
        executions; with a parent span, each phase is also recorded as
        its child span."""
        m = {f"catalyst.{p}_s": 0.0 for p in ("analysis", "optimization", "planning")}
        m.update({"exec.agg_fallbacks": 0.0, "exec.python_rows": 0.0, "exec.python_mb": 0.0})
        for _, qe in executions:
            for phase, (start, end) in phases(qe).items():
                key = f"catalyst.{phase}_s"
                if key in m:
                    m[key] += end - start
                    if parent is not None:
                        tracer.add(f"catalyst.{phase}", start, end, parent=parent)
            for k, v in self.plan_metrics(qe).items():
                m[k] += v
        return m

    def cached(self) -> tuple[int, float]:
        """Persisted RDDs now held, and their size in memory and on disk (MB)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        mb = sum((i.memSize() + i.diskSize()) * 1e-6 for i in infos)
        return len(infos), mb


def p50_p90(samples: list[float]) -> tuple[float, float]:
    """Median and 90th percentile (inclusive interpolation)."""
    if len(samples) < 2:
        return samples[0], samples[0]
    return statistics.median(samples), statistics.quantiles(samples, n=10, method="inclusive")[-1]


def phases(qe) -> dict[str, tuple[float, float]]:
    """Catalyst phases of a query execution as (start, end) epoch seconds."""
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = (kv._2().startTimeMs() / 1e3, kv._2().endTimeMs() / 1e3)
    return out


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def cpu_s(jvm: int) -> float:
    """CPU seconds (user + system) used so far by this Python process, the
    driver JVM and every live descendant of the JVM (the Python workers),
    including the children each of them has reaped.

    The kernel charges time the hypervisor steals to no process, so on a
    VM with bursty CPU steal this moves far less than wall time does.
    """
    ppid, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # fields after the parenthesised command name: state, ppid,
                # ..., utime, stime, cutime, cstime (stat fields 3-17)
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed /proc
            continue
        ppid[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    children: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        children.setdefault(parent, []).append(pid)
    total, todo = 0, [jvm]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, []))
    own = os.times()
    return total / os.sysconf("SC_CLK_TCK") + own.user + own.system


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM."""
    pid = jvm_pid(spark)
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
