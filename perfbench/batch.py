"""Batch workloads: registry ops run builder -> noop-sink write, in a
fixed order, with the cache cleared between ops.

One invocation does a correctness pass first (each op collected and
compared with its DuckDB oracle), then ``WARMUP_PASSES`` untimed passes,
then timed passes until the run's seconds are spent. The correctness
pass is cold (about three warm passes long), and the pass after it is
still 25-40% slower than the ones that follow while the JIT compiles
(measured: 5.4, 3.9, 3.9 s and 5.6, 4.1, 4.1 s on the text ops), so it
is not timed either. With tracing on, timed passes alternate untraced
and traced, so the tracing overhead is measured in the same session.
"""

from __future__ import annotations

import statistics
import sys
import time

from check import Oracle
from probe import STAGE_FIELDS, SparkProbe, cpu_s, jvm_pid, p50_p90, phases

#: Per-op layer metrics summed over a pass (``exec.stage_skew`` takes the max).
OP_METRICS = (
    ["plans.build_s", "plans.eager_jobs", "catalyst.analysis_s", "catalyst.optimization_s",
     "catalyst.planning_s", "exec.s", "exec.jobs", "exec.stages", "exec.spill_mb",
     "exec.stage_skew", "exec.agg_fallbacks", "exec.python_rows", "exec.python_mb",
     "cachepin.pins", "cachepin.mb"]
    + list(STAGE_FIELDS)
)


WARMUP_PASSES = 1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class BatchRun:
    def __init__(self, spark, table_dir: str, tables, ops: list[str], tracer, tmp_dir: str) -> None:
        from news_categorization_big_data_spark.plans import REGISTRY

        self.spark = spark
        self.table_dir = table_dir
        self.tables = tables
        self.specs = [REGISTRY[name] for name in ops]
        self.tracer = tracer
        self.tmp_dir = tmp_dir
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.probe = SparkProbe(spark) if tracer.enabled else None
        self.jvm = jvm_pid(spark)
        self._group = 0

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {why}")
        print(f"[perfbench] FAIL {name}: {why}", file=sys.stderr, flush=True)

    def check(self) -> None:
        """Every op once against its oracle (untimed)."""
        from news_categorization_big_data_spark.functions.cachepin import release_pins

        oracle = Oracle(self.table_dir, self.tables, self.tmp_dir)
        try:
            with self.tracer.span("check"):
                for spec in self.specs:
                    self.attempted += 1
                    self.spark.catalog.clearCache()
                    with self.tracer.span("check_op", op=spec.name):
                        try:
                            why = oracle.mismatch(spec, spec.builder(self.spark, self.table_dir))
                        except Exception as exc:  # an op failure is a result, not a crash
                            why = f"{type(exc).__name__}: {exc}"[:500]
                    if why:
                        self._fail(spec.name, why)
        finally:
            oracle.close()
            release_pins()

    def _op_untraced(self, spec) -> float:
        t0 = time.perf_counter()
        _noop(spec.builder(self.spark, self.table_dir))
        return time.perf_counter() - t0

    def _op_traced(self, spec) -> tuple[float, dict]:
        sc, probe, tr = self.spark.sparkContext, self.probe, self.tracer
        self._group += 1
        build_group, exec_group = f"pb-build-{self._group}", f"pb-exec-{self._group}"
        m = {}
        t0 = time.perf_counter()
        with tr.span("op", op=spec.name) as op_span:
            sc.setJobGroup(build_group, spec.name)
            with tr.span("build") as b:
                df = spec.builder(self.spark, self.table_dir)
            probe.drain()  # queries run eagerly inside the builder belong to it
            sc.setJobGroup(exec_group, spec.name)
            with tr.span("execute") as ex:
                _noop(df)
            sc.setLocalProperty("spark.jobGroup.id", None)
        wall = time.perf_counter() - t0
        # The returned DataFrame was analyzed inside the builder; its
        # analysis phase is catalyst time, not builder time.
        a0, a1 = phases(df._jdf.queryExecution()).get("analysis", (b["start"], b["start"]))
        a0 = min(max(a0, b["start"]), b["end"])
        a1 = min(max(a1, a0), b["end"])
        tr.add("catalyst.analysis", a0, a1, parent=b["id"])
        m["plans.build_s"] = b["end"] - b["start"] - (a1 - a0)
        m["plans.eager_jobs"] = float(len(probe.group_jobs(build_group)))
        m.update(probe.query_layers(probe.drain(), tr, parent=ex["id"]))
        catalyst_s = m["catalyst.analysis_s"] + m["catalyst.optimization_s"] + m["catalyst.planning_s"]
        m["exec.s"] = (ex["end"] - ex["start"]) - catalyst_s
        m["catalyst.analysis_s"] += a1 - a0
        m.update(probe.job_metrics(probe.group_jobs(exec_group)))
        pins, pin_mb = probe.cached()
        m["cachepin.pins"], m["cachepin.mb"] = float(pins), pin_mb
        op_span["metrics"] = m
        return wall, m

    def timed_passes(self, seconds: float) -> dict:
        """Passes until ``seconds`` have elapsed (at least one; with
        tracing, at least one untraced and one traced)."""
        from news_categorization_big_data_spark.functions.cachepin import release_pins

        untraced: list[float] = []
        untraced_cpu: list[float] = []
        traced: list[float] = []
        op_s: dict[str, list[float]] = {spec.name: [] for spec in self.specs}
        layer_passes: list[dict] = []
        per_op: dict[str, list[dict]] = {}
        with self.tracer.span("warmup"):
            for _ in range(WARMUP_PASSES):
                for spec in self.specs:
                    self.spark.catalog.clearCache()
                    _noop(spec.builder(self.spark, self.table_dir))
                release_pins()
        deadline = time.perf_counter() + seconds
        i = 0
        while not untraced or time.perf_counter() < deadline or (self.tracer.enabled and not traced):
            trace_this = self.tracer.enabled and i % 2 == 1
            total = 0.0
            sums = {k: 0.0 for k in OP_METRICS}
            if trace_this:
                self.probe.attach()
            cpu0 = cpu_s(self.jvm)
            with self.tracer.span("pass", index=i, traced=trace_this):
                for spec in self.specs:
                    self.attempted += 1
                    self.spark.catalog.clearCache()
                    try:
                        if trace_this:
                            dt, m = self._op_traced(spec)
                            for k, v in m.items():
                                sums[k] = max(sums[k], v) if k == "exec.stage_skew" else sums[k] + v
                            per_op.setdefault(spec.name, []).append(m)
                        else:
                            dt = self._op_untraced(spec)
                            op_s[spec.name].append(dt)
                    except Exception as exc:
                        self._fail(spec.name, f"{type(exc).__name__}: {exc}"[:500])
                        continue
                    total += dt
                release_pins()
            if trace_this:
                self.probe.detach()
                traced.append(total)
                layer_passes.append(sums)
            else:
                untraced.append(total)
                untraced_cpu.append(cpu_s(self.jvm) - cpu0)
            i += 1
        out = {"pass_s": untraced, "pass_cpu_s": untraced_cpu, "op_s": op_s}
        if self.tracer.enabled:
            out["layers"] = {k: statistics.median(p[k] for p in layer_passes) for k in OP_METRICS}
            out["layers"]["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
            out["per_op"] = {
                name: {k: statistics.median(m[k] for m in ms) for k in ms[0]} for name, ms in per_op.items()
            }
        return out


def measure(spark, table_dir: str, tables, ops: list[str], tracer, tmp_dir: str, seconds: float) -> dict:
    """Correctness pass, then timed passes; the workload's numbers."""
    run = BatchRun(spark, table_dir, tables, ops, tracer, tmp_dir)
    run.check()
    timed = run.timed_passes(seconds)
    p50, p90 = p50_p90([t * 1e3 for times in timed["op_s"].values() for t in times])
    return {
        "end_to_end": {
            "pass_s": statistics.median(timed["pass_s"]),
            "pass_cpu_s": statistics.median(timed["pass_cpu_s"]),
            "latency_p50_ms": p50,
            "latency_p90_ms": p90,
        },
        "layers": timed.get("layers", {}),
        "detail": {
            "passes_s": timed["pass_s"],
            "passes_cpu_s": timed["pass_cpu_s"],
            "op_s": timed["op_s"],
            "per_op": timed.get("per_op", {}),
            "errors": run.errors,
        },
        "attempted": run.attempted,
        "failed": run.failed,
    }

