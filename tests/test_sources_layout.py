"""Storage-layout contracts: partitioned-write pruning and the ORC
round-trip — the at-rest I/O-elimination guarantees for the 100-TB
store. Value parity is covered by tests/test_oracle_parity.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from news_categorization_big_data_spark.plans import REGISTRY


def test_partitioned_scan_prunes_directories(registry_plans):
    """The lang predicate must become a PartitionFilter (directory
    pruning, zero data-file I/O for other langs), not a post-scan
    filter."""
    plan = registry_plans["q_scan_partitioned"].plan
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters", 1)[1][:120], plan
    # and the pruned scan reads only the referenced columns
    assert "ReadSchema: struct<source:string>" in plan, plan


def test_orc_scan_pushes_column_pruning(registry_plans):
    plan = registry_plans["q_scan_orc"].plan
    assert "Format: ORC" in plan or "orc" in plan.lower(), plan
    # only lang + n_chars are read back for the aggregate
    assert "ReadSchema: struct<lang:string,n_chars:bigint>" in plan, plan


def test_orc_roundtrip_preserves_rows(spark, sf_dir):
    from pyspark.sql import functions as F

    from news_categorization_big_data_spark.sources.tables import load_table

    expected = (
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 400).count()
    )
    got = REGISTRY["q_scan_orc"].builder(spark, sf_dir).agg(F.sum("n_docs")).head()[0]
    assert got == expected


def test_pyds_shard_pushdown_prunes_partitions():
    """pushFilters on shard-equality must prune partition planning to
    the matching shard (driver-side unit check, no Spark session)."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In

    from news_categorization_big_data_spark.sources.docgen import DocGenReader

    r = DocGenReader({"rows": "100", "shards": "8"})
    rest = list(r.pushFilters([EqualTo(("shard",), 3), GreaterThan(("id",), 10)]))
    # the id predicate is NOT consumed — Spark must re-evaluate it
    assert len(rest) == 1 and isinstance(rest[0], GreaterThan)
    parts = r.partitions()
    assert [p.shard for p in parts] == [3]

    r2 = DocGenReader({"rows": "100", "shards": "8"})
    assert list(r2.pushFilters([In(("shard",), (1, 5))])) == []
    assert sorted(p.shard for p in r2.partitions()) == [1, 5]


def test_pyds_filtered_scan_matches_generator(spark):
    """End-to-end through Spark: a shard-filtered read returns exactly
    that shard's slice of the generator function."""
    from pyspark.sql import functions as F

    from news_categorization_big_data_spark.sources.docgen import (
        LCG_A,
        LCG_C,
        LCG_M,
        DocGenDataSource,
    )

    spark.dataSource.register(DocGenDataSource)
    df = (
        spark.read.format("docgen")
        .option("rows", 1000)
        .option("shards", 8)
        .load()
        .where(F.col("shard") == 2)
    )
    rows = {r.id: (r.payload, r.h) for r in df.collect()}
    assert set(rows) == set(range(2, 1000, 8))
    for i in (2, 10, 994):
        assert rows[i] == (f"doc_{i}", (i * LCG_A + LCG_C) % LCG_M)


def test_scan_evolved_v1_rows_surface_null_added_column(spark, sf_dir):
    """mergeSchema must align generations by NAME: every generation-1
    row reads NULL for the added column, every generation-2 row keeps
    its real value, and no row is lost across the merge."""
    from news_categorization_big_data_spark.sources.tables import load_table

    rows = REGISTRY["q_scan_evolved"].builder(spark, sf_dir).collect()
    src = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    n_total = src.count()
    n_v1 = src.where(F.col("doc_id") < 250).count()
    assert sum(r.n_docs for r in rows) == n_total
    assert sum(r.n_v1 for r in rows) == n_v1
    true_chars = (
        src.where(F.col("doc_id") >= 250).agg(F.sum("n_chars")).collect()[0][0]
    )
    assert sum(r.sum_chars_v2 for r in rows) == true_chars


def test_load_table_frame_cache_semantics(spark, tmp_path):
    """Round-11 frame cache: same (session, dir, table) returns the SAME
    DataFrame object (schema inference paid once); different dirs never
    collide (per-tmp_path test fixtures stay isolated)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from news_categorization_big_data_spark.sources.tables import load_table

    d1 = tmp_path / "a"
    d2 = tmp_path / "b"
    for d, vals in ((d1, [1, 2]), (d2, [10, 20, 30])):
        d.mkdir()
        pq.write_table(pa.table({"r_regionkey": pa.array(vals, pa.int64())}),
                       str(d / "region.parquet"))
    a1 = load_table(spark, str(d1), "region")
    a2 = load_table(spark, str(d1), "region")
    b = load_table(spark, str(d2), "region")
    assert a1 is a2, "same dir+table must hit the cache"
    assert a1 is not b
    assert a1.count() == 2 and b.count() == 3
