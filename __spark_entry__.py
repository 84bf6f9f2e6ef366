"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference's category-digest
pipeline re-hosted on testdata — SURVEY.md §7 Phase 0), ``queries()``
exposes every implemented operator from SURVEY.md §2 via the engine's
plan registry, and ``oracle_sql()`` gives the DuckDB-equivalent SQL the
driver hash-compares against at sf0.01.
"""

from __future__ import annotations

import json
import os
import subprocess
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from news_categorization_big_data_spark.plans import REGISTRY

SMOKE_SF_DIR = "/root/testdata/sf0.001"

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
_GIT_STAMP_PATH = os.path.join(_REPO_DIR, "CORRECTNESS_GIT.json")


def _stamp_git_head() -> None:
    """Record which commit the driver's correctness run actually
    exercised. BENCH_rN.json carries a "git" field (bench.py); the
    driver-owned CORRECTNESS_rN.json cannot, so this sidecar pairs it:
    refreshed every time the driver pulls the contract functions, so
    the stamp on disk when CORRECTNESS_rN.json lands names the HEAD
    (and dirty state) of the code that produced those hashes.
    Best-effort — a failed git probe must never break the driver."""
    try:
        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=_REPO_DIR, capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        # Exclude this stamp file itself and the driver's own outputs
        # (CORRECTNESS_rN/BENCH_rN land untracked mid-run) from the
        # dirty probe — otherwise every run after the first records
        # dirty=true even at a clean HEAD (r13 ADVICE).
        dirty = bool(
            subprocess.run(
                [
                    "git", "status", "--porcelain", "--",
                    ".",
                    ":!CORRECTNESS_GIT.json",
                    ":!CORRECTNESS_r*.json",
                    ":!BENCH_r*.json",
                    ":!VERDICT.md",
                    ":!ADVICE.md",
                    ":!PROGRESS.jsonl",
                ],
                cwd=_REPO_DIR, capture_output=True, text=True, timeout=10,
            ).stdout.strip()
        )
        if not head:
            return
        with open(_GIT_STAMP_PATH, "w") as f:
            json.dump(
                {"git": head, "dirty": dirty, "stamped_unix": int(time.time())},
                f,
            )
            f.write("\n")
    except Exception:
        pass


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference's batch digest dataflow
    (news_summarization_batch.py:100-112) — filter non-empty text,
    bulletize, per-category sorted digest — on the sf0.001 documents
    table. Exercises scan → filter → project → shuffle agg → string ops.
    """
    from pyspark.sql import functions as F

    from news_categorization_big_data_spark.sources.tables import load_table

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    bulleted = docs.where(F.col("text") != "").select(
        "lang", F.concat(F.lit("- "), F.substring("text", 1, 40)).alias("bullet")
    )
    return bulleted.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.array_join(F.array_sort(F.collect_list("bullet")), "\n").alias("digest"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    _stamp_git_head()
    return {name: spec.builder for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every query in ``queries()``."""
    return {name: spec.oracle for name, spec in REGISTRY.items()}
