"""fan_out contract: widen narrow scans to full parallelism, never
shrink, decide conf-first (no plan→RDD round-trip on the default
file-scan path)."""

from __future__ import annotations

import pytest

from news_categorization_big_data_spark.functions import partitioning
from news_categorization_big_data_spark.functions.partitioning import (
    _byte_string,
    _packed_partitions,
    _scan_width_estimate,
    fan_out,
)
from news_categorization_big_data_spark.sources.tables import load_table
from tests.conftest import exchange_counts, physical_plan


def test_byte_string_formats():
    assert _byte_string("134217728") == 128 * 1024 * 1024
    assert _byte_string("128m") == 128 * 1024 * 1024
    assert _byte_string("128MB") == 128 * 1024 * 1024
    assert _byte_string("4194304b") == 4 * 1024 * 1024
    assert _byte_string("1g") == 1 << 30


def test_narrow_scan_widened_to_default_parallelism(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    widened = fan_out(docs)
    assert (
        widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )


def test_default_path_never_touches_df_rdd(spark, sf_dir, monkeypatch):
    """The default decision for a file scan must come from the
    conf/file-size estimate — the plan→RDD probe is last-resort only."""

    def _boom(df):
        raise AssertionError("fan_out default path fell back to the RDD probe")

    monkeypatch.setattr(partitioning, "_rdd_width", _boom)
    docs = load_table(spark, sf_dir, "documents")
    widened = fan_out(docs)  # must not raise
    assert widened is not docs  # narrow scan → widened


def test_estimate_matches_actual_scan_width(spark, sf_dir):
    """The FilePartition-formula packing count must agree with the width
    Spark actually produces for a plain parquet scan (same formula, so
    exact agreement — not a tolerance check)."""
    for table in ("documents", "lineitem", "events"):
        df = load_table(spark, sf_dir, table)
        est = _packed_partitions(df)
        assert est == df.rdd.getNumPartitions(), table


def test_never_shrinks_wide_input(spark, sf_dir):
    wide = load_table(spark, sf_dir, "documents").repartition(64)
    assert fan_out(wide) is wide  # 64 > defaultParallelism=32 → no-op
    assert fan_out(wide, partitions=8) is wide  # explicit below current → no-op


def test_explicit_partitions_widen(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    assert fan_out(docs, partitions=48).rdd.getNumPartitions() == 48


def test_keyed_fan_out_hash_partitions_and_guards(spark, sf_dir):
    """``by=`` (r15): hash-repartition on the named columns instead of
    round-robin — the plan must carry hashpartitioning (no
    sortBeforeRepartition input sort, and a downstream window/groupBy on
    the same key reuses the exchange), and every existing guard (never
    shrink, conf gate) must behave identically."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = fan_out(docs, by=("doc_id",))
    # planned before .rdd runs it: a final AQE plan prints each
    # exchange twice (final and initial plan)
    plan = physical_plan(keyed)
    # RoundRobin would show up instead if `by` were dropped
    assert exchange_counts(plan) == {
        "hashpartitioning(doc_id)/REPARTITION_BY_NUM": 1
    }, plan
    assert keyed.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # never-shrink guard unchanged under `by`
    wide = docs.repartition(64)
    assert fan_out(wide, by=("doc_id",)) is wide
    # conf gate unchanged under `by`
    spark.conf.set("spark.graft.fanout.enabled", "false")
    try:
        assert fan_out(docs, by=("doc_id",)) is docs
    finally:
        spark.conf.set("spark.graft.fanout.enabled", "true")
    # explicit width composes with `by`
    assert fan_out(docs, partitions=8, by=("doc_id",)).rdd.getNumPartitions() == 8


def test_conf_gate_disables(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    spark.conf.set("spark.graft.fanout.enabled", "false")
    try:
        assert fan_out(docs) is docs
    finally:
        spark.conf.set("spark.graft.fanout.enabled", "true")


def test_post_shuffle_lineage_uses_probe(spark, sf_dir):
    """A repartitioned (post-shuffle) plan still lists leaf files, so
    the file estimate would mis-describe it — the lineage check must
    reject it and route to the RDD probe, which then widens 4 → 32."""
    shuffled = load_table(spark, sf_dir, "documents").repartition(4)
    assert _scan_width_estimate(shuffled) is None
    out = fan_out(shuffled)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_uncached_file_scans_counts_only_storage_hits():
    """The plan-text scan counter must ignore FileScans nested inside an
    InMemoryRelation render (printed once per cache reader) and count
    top-level ones — the contract tools/query_profile.py's ``scans`` and
    the plan-shape tests rely on."""
    from news_categorization_big_data_spark.functions.plan_text import (
        uncached_file_scans,
    )

    plain = """AdaptiveSparkPlan
+- HashAggregate
   +- FileScan parquet [a] Batched: true
"""
    assert uncached_file_scans(plain) == 1

    cached = """AdaptiveSparkPlan
+- BroadcastNestedLoopJoin
   :- HashAggregate
   :  +- InMemoryTableScan [a]
   :        +- InMemoryRelation [a, b]
   :              +- HashAggregate
   :                 +- FileScan parquet [a,b] Batched: true
   +- HashAggregate
      +- InMemoryTableScan [b]
            +- InMemoryRelation [a, b]
                  +- FileScan parquet [a,b] Batched: true
"""
    assert uncached_file_scans(cached) == 0

    mixed = cached + """+- Project
   +- FileScan parquet [c] Batched: true
"""
    assert uncached_file_scans(mixed) == 1
