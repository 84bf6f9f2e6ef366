"""Registry pairing Spark DataFrame builders with DuckDB oracle SQL.

Determinism contract (SURVEY.md §7 "hard parts"):

- every computed column is aliased identically in the Spark plan and the
  oracle SQL (the driver sorts columns by name before value-hashing);
- list aggregates sort before joining (``array_sort`` / ``ORDER BY`` in
  ``string_agg``) — ``collect_list`` order is shuffle-dependent;
- double *sums* go through a per-row decimal quantization so the
  reduction is exact and reduction order (which differs between engines
  and between runs) cannot perturb the result — see ``dsum`` in
  plans/relational.py;
- timestamps are parameters/literals, never wall clock.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str  # DuckDB SQL the benchmark runner hash-compares the query against
    tier: str  # "A" reference-literal, "B" relational-core, "C" llm-pipeline
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str, tier: str, doc: str = "") -> Callable[[Builder], Builder]:
    """Decorator: register a (spark, sf_dir) -> DataFrame builder."""

    def wrap(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        # Query-scoped cache lifetime (ADVICE round 8): release the
        # PREVIOUS query's pins when the next builder starts, so the
        # driver's single long-lived session holds at most one query's
        # persisted intermediates at a time. ASSUMES the sequential
        # build -> collect -> build driver loop; concurrent builders
        # sharing a session would at worst downgrade a peer's cache to
        # a lineage recompute, never corrupt a result (contract +
        # worst case pinned in functions/cachepin.py and
        # tests/test_cachepin.py). See functions/cachepin.py.
        @functools.wraps(fn)
        def runner(spark: SparkSession, sf_dir: str) -> DataFrame:
            from news_categorization_big_data_spark.functions.cachepin import release_pins

            release_pins()
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(
            name=name, builder=runner, oracle=oracle, tier=tier, doc=doc or (fn.__doc__ or "")
        )
        return fn

    return wrap
