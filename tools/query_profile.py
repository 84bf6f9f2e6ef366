"""One query profiler: time registered queries the way bench.py does and
split each run's time by layer.

    python tools/query_profile.py [--reps N] [--plans DIR] [q_name ...]

The sf dir is $SPARK_GRAFT_SF_DIR (default the sf0.1 testdata); the names
default to the whole registry, and an unknown name exits non-zero before
Spark starts. N passes (default 2) run INTERLEAVED over the names:
clearCache before each run (a persisted intermediate must not be
memoized across runs), the builder plus a noop-sink write as the timed
region (the noop sink consumes every output column, so nothing prunes,
unlike count()), and a query's number is its min across passes, so a
noisy-neighbour burst has to span a whole pass to poison it. ``--reps 0``
only builds and plans each query: the timed region is the builder plus
physical planning. ``--plans DIR`` writes each query's formatted explain
to DIR/<q>.txt in ``stable_plan`` form, so two captures of one commit are
byte-equal and two commits compare with ``diff -r``.

Output: one JSON record per query and pass as it lands, so a crash loses
nothing, then one summary line ranking the queries by their min wall.
Record fields:

- wall_s: the timed region; build_s: the builder minus the analysis of
  the frame it returns; eager_jobs: Spark jobs the builder ran itself;
- analysis_s, optimization_s, planning_s: the Catalyst phases of
  ``QueryExecution.tracker``;
- exec_s (the write minus its Catalyst phases), and over the write's
  stages: tasks, shuffle_mb (written), spill_mb, stage_skew (the worst
  max/median task run time of a multi-task stage), agg_fallbacks
  (``numTasksFallBacked``) and python_rows — null under ``--reps 0``;
- pins: cache pins (functions/cachepin.py) the query holds after its run;
- scans, exchanges: ``uncached_file_scans`` and ``exchange_counts`` of
  the physical plan;
- error: the run's exception, else null; a query that errors is skipped
  in later passes.

bench.py times its headline set through ``run_passes``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from news_categorization_big_data_spark.functions import cachepin, plan_text  # noqa: E402
from news_categorization_big_data_spark.plans import REGISTRY  # noqa: E402

FIELDS = ("q", "pass", "wall_s", "build_s", "eager_jobs", "analysis_s", "optimization_s",
          "planning_s", "exec_s", "tasks", "shuffle_mb", "spill_mb", "stage_skew",
          "agg_fallbacks", "python_rows", "pins", "scans", "exchanges", "error")
PHASES = ("analysis", "optimization", "planning")
#: SQL metrics of the executed plan summed into a record: metric -> field
PLAN_METRICS = {"numTasksFallBacked": "agg_fallbacks", "pythonNumRowsReceived": "python_rows"}
#: Text of a formatted explain that changes from run to run -> its
#: stand-in in ``--plans`` captures: exchange plan ids (a session-global
#: counter), the app id in fixture paths and bucketed table names, the
#: checkout's warehouse path and random part-file names.
RUN_SPECIFIC = (
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"local-?_?\d{13}"), "local-APP"),
    (re.compile(r"file:\S*?/spark-warehouse"), "file:WH"),
    (re.compile(r"part-[0-9a-f]{32}"), "part-X"),
)
EXPR_ID = re.compile(r"#(\d+)")


class _Listener:
    """A py4j ``QueryExecutionListener``: keeps the last execution Spark finished."""

    last = None

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self.last = qe

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        self.last = qe

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _phases(qe) -> dict[str, float]:
    """Seconds per Catalyst phase of a query execution (0 for a phase it skipped)."""
    hits = {p: qe.tracker().phases().get(p) for p in PHASES}
    return {p: hit.get().durationMs() / 1e3 if hit.isDefined() else 0.0 for p, hit in hits.items()}


def _stage_metrics(sc, group: str) -> dict:
    """Status-store data summed over the stages a job group ran."""
    store, jvm = sc._jsc.sc().statusStore(), sc._gateway.jvm
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    stages = {ids.apply(i) for job in sc.statusTracker().getJobIdsForGroup(group)
              for ids in [store.job(job).stageIds()] for i in range(ids.size())}
    m = {"tasks": 0, "shuffle_mb": 0.0, "spill_mb": 0.0, "stage_skew": 1.0}
    for sid in stages:
        attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False,
                                   sc._gateway.new_array(jvm.double, 0))
        for st in (attempts.apply(a) for a in range(attempts.size())):
            if st.status().toString() == "SKIPPED":
                continue
            m["tasks"] += st.numTasks()
            m["shuffle_mb"] += st.shuffleWriteBytes() * 1e-6
            m["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) * 1e-6
            if st.numTasks() > 1 and (summary := store.taskSummary(sid, st.attemptId(),
                                                                   quantiles)).isDefined():
                run = summary.get().executorRunTime()
                if run.apply(0) > 0:
                    m["stage_skew"] = max(m["stage_skew"], run.apply(1) / run.apply(0))
    return m


def _plan_metrics(qe) -> dict:
    """PLAN_METRICS summed over a finished query's final physical plan,
    through adaptive query stages and subqueries."""
    out = dict.fromkeys(PLAN_METRICS.values(), 0)
    todo = [qe.executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif not kind.startswith("Reused"):
            for key, field in PLAN_METRICS.items():
                hit = node.metrics().get(key)
                out[field] += hit.get().value() if hit.isDefined() else 0
            for seq in (node.children(), node.subqueries()):
                todo.extend(seq.apply(i) for i in range(seq.size()))
    return out


def stable_plan(text: str) -> str:
    """``text`` with its ``RUN_SPECIFIC`` parts replaced and its
    expression ids (``name#N``, from a JVM-global counter, so a rebuilt
    query gets new ones) renumbered in order of first appearance."""
    for pattern, stand_in in RUN_SPECIFIC:
        text = pattern.sub(stand_in, text)
    ids: dict[str, int] = {}
    return EXPR_ID.sub(lambda m: f"#{ids.setdefault(m.group(1), len(ids))}", text)


def _run(spark, listener: _Listener, name: str, sf_dir: str, execute: bool,
         plans_dir: str | None, first: bool) -> dict:
    """One run of ``name`` and its record. A first run also plans the
    returned frame before any write and records its scans and exchanges
    (and writes its formatted explain to ``plans_dir``): a plan rendered
    after the write would print each materialized cache's final adaptive
    plan and count its exchanges twice. When the run executes, that
    inspection is left out of the timed region."""
    sc = spark.sparkContext
    rec = dict.fromkeys(FIELDS) | {"q": name}
    group = f"query_profile-{time.perf_counter_ns()}"
    spark.catalog.clearCache()
    try:
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = REGISTRY[name].builder(spark, sf_dir)
        t1 = time.perf_counter()
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString() if first else None
        t2 = time.perf_counter()
        if first and plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                f.write(stable_plan(qe.explainString(mode)))
        t3 = time.perf_counter()
        if execute:
            listener.last = None
            sc.setJobGroup(group + "-exec", name)
            df.write.format("noop").mode("overwrite").save()
        t4 = time.perf_counter()
    except Exception as ex:  # noqa: BLE001 - a failed query is a record, not a crash
        rec["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
        return rec
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    # the returned frame was analyzed inside the builder: Catalyst time
    phases = _phases(qe)
    analysis = phases["analysis"]
    if execute:
        phases = _phases(listener.last)
        rec["exec_s"] = t4 - t3 - sum(phases.values())
        phases["analysis"] += analysis
        rec.update(_stage_metrics(sc, group + "-exec"), **_plan_metrics(listener.last))
    rec["wall_s"] = t1 - t0 + (t4 - t3 if execute else t2 - t1)
    rec["build_s"] = max(t1 - t0 - analysis, 0.0)
    rec["eager_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
    rec.update({f"{p}_s": v for p, v in phases.items()}, pins=len(cachepin._PINNED))
    if plan is not None:
        rec["scans"] = plan_text.uncached_file_scans(plan)
        rec["exchanges"] = dict(plan_text.exchange_counts(plan))
    return {k: round(v, 3) if isinstance(v, float) else v for k, v in rec.items()}


def run_passes(spark, sf_dir: str, names: list[str], reps: int, plans_dir: str | None = None,
               emit=None) -> dict[str, list[dict]]:
    """``reps`` interleaved passes over ``names`` (one planning-only pass
    when ``reps`` is 0): each query's records in pass order, each record
    handed to ``emit`` as it lands. Releases the last query's pins."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener, manager = _Listener(), spark._jsparkSession.listenerManager()
    manager.register(listener)
    records: dict[str, list[dict]] = {n: [] for n in names}
    try:
        for p in range(max(reps, 1)):
            for name in names:
                done = records[name]
                if done and done[-1]["error"]:
                    continue
                rec = _run(spark, listener, name, sf_dir, reps > 0, plans_dir, first=not done)
                rec["pass"] = p
                if done and not rec["error"]:
                    rec["scans"], rec["exchanges"] = done[0]["scans"], done[0]["exchanges"]
                done.append(rec)
                if emit:
                    emit(rec)
    finally:
        manager.unregister(listener)
        cachepin.release_pins()
    return records


def summary(records: dict[str, list[dict]], sf_dir: str, reps: int) -> dict:
    """Each query's fastest run, slowest first, with the layer that took
    most of it (build, catalyst or exec), and every query's error."""
    errors = {n: recs[-1]["error"] for n, recs in records.items() if recs[-1]["error"]}
    best = sorted((min(recs, key=lambda r: r["wall_s"]) for n, recs in records.items()
                   if n not in errors), key=lambda r: -r["wall_s"])
    layers = [{"build": r["build_s"], "catalyst": sum(r[f"{p}_s"] for p in PHASES),
               "exec": r["exec_s"] or 0.0} for r in best]
    return {
        "summary": "query_profile", "sf_dir": sf_dir, "reps": reps, "n": len(best),
        "total_s": round(sum(r["wall_s"] for r in best), 3),
        "ranked": [[r["q"], r["wall_s"], max(lay, key=lay.get)] for r, lay in zip(best, layers)],
        "errors": errors,
    }


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description="Profile registered queries layer by layer.")
    ap.add_argument("--reps", type=int, default=2, help="interleaved passes; 0 only plans")
    ap.add_argument("--plans", metavar="DIR", help="write each formatted explain to DIR/<q>.txt")
    ap.add_argument("names", nargs="*", metavar="q_name")
    args = ap.parse_args(argv)
    unknown = [n for n in args.names if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    from news_categorization_big_data_spark.session import get_spark
    from tools.fixtures import SF01

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF01)
    spark = get_spark("query-profile")
    spark.range(1).count()  # session warm-up, outside every record
    records = run_passes(spark, sf_dir, args.names or list(REGISTRY), args.reps, args.plans,
                         emit=lambda rec: print(json.dumps(rec), flush=True))
    print(json.dumps(summary(records, sf_dir, args.reps)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
