"""The repository's benchmark: one command, three seeded workloads.

Run from the repository root::

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones, with ``--trace 1`` the per-layer ones; a traced
run also writes its spans and per-op numbers to
``perfbench/.work/trace-<workload>-seed<seed>.json``. Everything the run
writes (generated inputs, Spark scratch, stream checkpoints) stays under
``perfbench/.work``. See perfbench/README.md for what each workload and
metric means.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE = "news_categorization_big_data_spark"

#: Spark runs local[CPUS] with this driver heap on every workload.
CPUS = "4"
DRIVER_MEM = "2g"
#: Set-ups per run; ``setup_s`` is their median.
SETUPS = 7

WORKLOADS = {
    "relational": {
        "kind": "batch",
        "sf": 0.1,
        "ops": ["q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_join_broadcast", "q_topk_per_group", "q_bloom_join"],
        "tables": ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"],
    },
    "text": {
        "kind": "batch",
        "sf": 0.01,
        "ops": ["q_dedup_ngram_jaccard", "q_multimodal_decode"],
        "tables": ["documents"],
    },
    "stream_classify": {"kind": "stream", "sf": 0.1},
}

#: Gated metrics. Wall times on a VM with bursty CPU steal spread more
#: between runs than any gate can allow (see README.md), so both gated
#: figures are CPU seconds; the wall set-up and pass times and the
#: latencies are reported with the per-layer metrics.
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}
WALL = {
    "setup_wall_s": "s",
    "pass_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}

PER_LAYER = {
    **WALL,
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "plans.build_s": "s",
    "plans.eager_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.agg_fallbacks": "count",
    "exec.stage_skew": "ratio",
    "exec.python_rows": "count",
    "exec.python_mb": "MB",
    "exec.failed_tasks": "count",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "cachepin.pins": "count",
    "cachepin.mb": "MB",
    "stream.latest_offset_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.trigger_p50_ms": "ms",
    "stream.trigger_p90_ms": "ms",
    "sink.write_ms": "ms",
    "stream.generator_lag_ms": "ms",
    "trace.overhead_s": "s",
}


def _environment() -> None:
    """Keep Spark's scratch space, temp files and Python workers inside
    the checkout, and fix the session's size."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": CPUS,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        }
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)


class SetUp:
    """Session start plus the input check, repeated ``SETUPS`` times, in
    wall seconds and in CPU seconds (``probe.cpu_s``).

    The first set-up runs from process start (interpreter, imports, JVM
    launch), minus the one-time input generation; later ones stop the
    session and build it again in the same JVM.
    """

    def __init__(self, check) -> None:
        self.check = check
        self.total_s: list[float] = []
        self.cpu_s: list[float] = []
        self.session_s: list[float] = []
        self.spark = None
        self.jvm = None

    def once(self, excluded_s: float = 0.0, excluded_cpu_s: float = 0.0) -> None:
        from news_categorization_big_data_spark.session import get_spark
        from probe import cpu_s, jvm_pid

        first = self.spark is None
        if not first:
            self.spark.stop()
        cpu0 = excluded_cpu_s if first else cpu_s(self.jvm)
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        self.check(spark)
        t2 = time.perf_counter()
        self.spark = spark
        self.jvm = jvm_pid(spark)
        start = T_PROCESS if first else t0
        self.total_s.append(t2 - start - excluded_s)
        self.cpu_s.append(cpu_s(self.jvm) - cpu0)
        self.session_s.append(t1 - t0)


def _table_check(table_dir: str, tables: list[str]):
    """Load the workload's tables through the engine's loader (file
    listing and parquet schema) and check their columns against the
    manifest."""
    from gen import manifest

    want = manifest(table_dir)["columns"]

    def check(spark):
        from news_categorization_big_data_spark.sources.tables import load_table

        for name in tables:
            cols = want[name]
            got = load_table(spark, table_dir, name).columns
            if got != cols:
                raise RuntimeError(f"fixture {name}: columns {got}, manifest says {cols}")

    return check


def _message_check(path: str):
    """List the message source the way the stream will read it."""

    def check(spark):
        if spark.read.schema("value string").json(path).inputFiles() == []:
            raise RuntimeError(f"message check: no files under {path}")

    return check


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="input scale (default: the workload's)")
    args = ap.parse_args(argv)
    cfg = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else cfg["sf"]

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    _environment()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    from probe import Tracer, jvm_peak_rss_mb, shutdown

    tracer = Tracer(bool(args.trace))
    t_gen, cpu_gen = time.perf_counter(), sum(os.times()[:2])
    if cfg["kind"] == "batch":
        table_dir = gen.build_fixture(os.path.join(WORK, "data"), args.seed, sf)
        check = _table_check(table_dir, cfg["tables"])
    else:
        run_dir = os.path.join(WORK, f"stream-{os.getpid()}")
        probe_dir = os.path.join(run_dir, "setup-check")
        os.makedirs(probe_dir, exist_ok=True)
        feed = gen.MessageFeed(args.seed + 1)
        gen.write_message_file(run_dir, probe_dir, "part-0.json", feed.lines(20, ["2024-01-01 00:00:00"] * 20))
        check = _message_check(probe_dir)
    gen_s, gen_cpu_s = time.perf_counter() - t_gen, sum(os.times()[:2]) - cpu_gen

    setup = SetUp(check)
    try:
        with tracer.span("run", workload=args.workload, seed=args.seed):
            for i in range(SETUPS):
                with tracer.span("setup", index=i):
                    setup.once(gen_s, gen_cpu_s) if i == 0 else setup.once()
            spark = setup.spark
            t_measure = time.perf_counter()
            if cfg["kind"] == "batch":
                import batch

                res = batch.measure(spark, table_dir, cfg["tables"], cfg["ops"], tracer,
                                    os.path.join(WORK, "tmp"), args.seconds)
            else:
                import stream

                res = stream.measure(spark, run_dir, args.seed, sf, tracer, args.seconds)
            measure_s = time.perf_counter() - t_measure
            peak = jvm_peak_rss_mb(spark)
    finally:
        if setup.spark is not None:
            shutdown(setup.spark)
        if cfg["kind"] == "stream":
            shutil.rmtree(run_dir, ignore_errors=True)

    e2e = {
        "setup_s": statistics.median(setup.cpu_s),
        "setup_wall_s": statistics.median(setup.total_s),
        **res["end_to_end"],
    }
    if args.trace:
        layers = {k: 0.0 for k in PER_LAYER}
        layers.update(res["layers"])
        layers.update({k: e2e[k] for k in WALL})
        layers["session.start_s"] = statistics.median(setup.session_s)
        layers["session.peak_rss_mb"] = peak
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        self_s = tracer.self_times()
        ledger = {
            "workload": args.workload,
            "seed": args.seed,
            "sf": sf,
            "seconds": args.seconds,
            "ops": cfg.get("ops", []),
            "end_to_end": e2e,
            "per_layer": {k: layers[k] for k in PER_LAYER},
            "setups_s": setup.total_s,
            "setups_cpu_s": setup.cpu_s,
            "detail": res["detail"],
            "spans": [{**s, "self_s": self_s[s["id"]]} for s in tracer.spans],
        }
        path = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(ledger, f, indent=1, default=float)
        print(f"[perfbench] trace written to {path}", file=sys.stderr)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    wall_s = {"inputs": gen_s, "measure": measure_s, "total": time.perf_counter() - T_PROCESS}
    detail = {
        **res["detail"],
        "setups_s": setup.total_s,
        "setups_cpu_s": setup.cpu_s,
        "peak_rss_mb": peak,
        "wall_s": wall_s,
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "sf": sf, "detail": detail}, default=float))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
