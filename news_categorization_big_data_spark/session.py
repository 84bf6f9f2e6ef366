"""SparkSession factory and session tuning.

Mirrors the reference's explicit configuration surface
(news_summarization_batch.py:37-47: Arrow exchange on, explicit shuffle
partitioning; news_categorization_streaming.py:35-39) but with
scale-correct defaults: AQE on (runtime partition coalescing, skew-join
splitting, dynamic broadcast), UTC session time zone (determinism — the
reference's wall-clock dependence is quirk SURVEY.md §2.11.5), and
nanosecond-parquet tolerance for the events table.

At 100 TB the same code runs unchanged: AQE sizes the shuffle, the
``shuffle_partitions`` default here is only the pre-AQE upper bound, and
``maxPartitionBytes`` keeps scan tasks memory-bounded.

Sessions built here also start their Python workers through
``pyspark_graft_worker`` (the top-level module beside this package).
PySpark re-reads ``pyspark.zip``'s whole central directory about 16 times
at the start of every Python task; that module re-reads a zip only when
it changed, which takes most of the worker CPU out of every
``mapInPandas`` / ``pandas_udf`` node. Spark only accepts a worker module
whose name starts with ``pyspark`` (``pyspark/daemon.py`` ignores any
other), hence the name. Both confs that select it are static, so they sit
in ``get_spark``'s builder and not in ``_RUNTIME_CONFS``: a session that
an external driver supplies through ``tune_session`` keeps stock PySpark
worker start-up. Query output is the same either way.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: The checkout root, where ``pyspark_graft_worker.py`` lives.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime-settable confs applied to ANY session that runs engine plans
# (including a session handed to us by an external driver).
_RUNTIME_CONFS: dict[str, str] = {
    # Determinism: all timestamp rendering/arithmetic in UTC.
    "spark.sql.session.timeZone": "UTC",
    # Arrow-vectorized Python exchange (reference keeps this on:
    # news_summarization_batch.py:43) — 10-100x for pandas UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime re-planning — coalesce small shuffle partitions,
    # split skewed joins, demote/promote broadcast at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE runtime SMJ -> shuffled-hash rewrite (guide §3.1): when every
    # post-shuffle partition of a sort-merge join is measured (not
    # estimated) below this bound, build a per-partition hash table
    # instead of sorting both sides. Size-gated at RUNTIME, so it is
    # scale-safe by construction: partitions above the bound keep the
    # spill-safe SMJ, and the bound itself is a per-partition memory
    # budget (~128m build table), not a cluster-size constant. Measured
    # r15: the pair-table verify joins (3.3M-candidate sort eliminated)
    # q_dedup_ngram_jaccard 10.1->6.9 s, q_dedup_containment 2.2x at
    # sf1; no query slower (OPTIMIZATION_r15.md). Default 0 (off) only
    # because Spark upstream has not flipped it; the static
    # preferSortMergeJoin stays TRUE deliberately — the static SHJ
    # chooser trusts size ESTIMATES, which this engine's widened frames
    # make garbage (SCALE.md round 14).
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "128m",
    # The driver testdata writes events.ts as INT64 TIMESTAMP(NANOS);
    # Spark 4 refuses it unless read as long (we convert to µs in the
    # catalog loader, matching DuckDB's ns→µs truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Python Data Source API: allow pushFilters (sources/docgen.py) —
    # off by default in Spark 4.1; a reader implementing pushFilters
    # FAILS analysis when this is unset, so the engine turns it on.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def default_parallelism() -> int:
    """Pre-AQE shuffle-partition upper bound for local runs."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine confs to an existing session (idempotent, best-effort).

    Used on driver-provided sessions where we don't control the builder.
    """
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf may be static in some builds
            pass
    return spark


def get_spark(
    app_name: str = "news-categorization-big-data-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    Local default is ``local[$SPARK_GRAFT_CPUS]``; on a real cluster pass
    ``master=None`` with an external cluster manager and these confs still
    apply (they are all cluster-size-agnostic: AQE does the sizing).
    There the executors must see this checkout at the same path, because
    their Python workers import ``pyspark_graft_worker`` from it.
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Scan tasks stay memory-bounded regardless of total input size.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Python workers start through pyspark_graft_worker (module doc).
        # The worker finds it through PYTHONPATH, not through the
        # driver's cwd: without the pin, a driver started outside the
        # checkout fails every Python task with ModuleNotFoundError.
        .config("spark.python.worker.module", "pyspark_graft_worker")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(p for p in (_REPO_ROOT, os.environ.get("PYTHONPATH")) if p),
        )
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return tune_session(spark)
