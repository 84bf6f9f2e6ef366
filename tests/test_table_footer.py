"""Driver-side parquet footers (sources/footer.py): the loader opens a
table without a Spark job, with exactly the schema inference would give,
falls back to Spark's own read wherever the footer reader can't stand in,
and ``fan_out``'s scan-width estimate caps byte splits at row groups."""

from __future__ import annotations

import contextlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException

from news_categorization_big_data_spark.functions.partitioning import (
    _packed_partitions,
    _scan_width_estimate,
    fan_out,
)
from news_categorization_big_data_spark.sources import footer
from news_categorization_big_data_spark.sources.footer import footer_schema
from news_categorization_big_data_spark.sources.tables import (
    TABLES,
    load_table,
    register_views,
)


def _assert_inferred(spark, path):
    assert footer_schema(spark, path) == spark.read.parquet(path).schema, path


@contextlib.contextmanager
def _jobs(spark):
    """Collects the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    group = f"test_table_footer-{os.urandom(4).hex()}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _table_copy(sf_dir, dst) -> str:
    """A fresh path for the tables, so the loader's frame cache misses."""
    shutil.copytree(sf_dir, dst)
    return str(dst)


def test_schema_equals_inference_sf_dir(spark, sf_dir):
    for name in TABLES:
        _assert_inferred(spark, os.path.join(sf_dir, f"{name}.parquet"))


@pytest.mark.parametrize("axis", ["skew5", "skew6", "skew7", "skew8", "skew9", "skew10"])
def test_schema_equals_inference_edge_axes(spark, edge_axis, axis):
    axis_dir, _ = edge_axis(axis)
    for name in TABLES:
        _assert_inferred(spark, os.path.join(axis_dir, f"{name}.parquet"))


@pytest.mark.parametrize(
    "ts_type",
    [
        pa.timestamp("ns"),  # INT64 TIMESTAMP(NANOS): read under nanosAsLong
        pa.timestamp("us"),  # µs with isAdjustedToUTC=false: TIMESTAMP_NTZ
        pa.timestamp("us", tz="UTC"),  # µs, UTC-adjusted: TIMESTAMP
    ],
    ids=["ns", "us_ntz", "us_utc"],
)
def test_schema_equals_inference_timestamp_flavors(spark, tmp_path, ts_type):
    path = str(tmp_path / "t.parquet")
    ts = pa.array([0, 1_700_000_000_000_000, None], pa.int64()).cast(ts_type)
    pq.write_table(pa.table({"id": [1, 2, 3], "ts": ts}), path, version="2.6")
    _assert_inferred(spark, path)


def test_schema_equals_inference_part_dir_with_empty_part(spark, tmp_path):
    """Spark writes partition 0 even when it holds no rows (the sf1
    fixture's layout): the footer read is the empty part's, as
    inference's is."""
    path = str(tmp_path / "parts.parquet")
    df = spark.range(0, 100, numPartitions=2).where("id >= 50")
    df.selectExpr("id", "CAST(id AS STRING) AS s", "timestamp_micros(id) AS ts").write.parquet(path)
    parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    assert len(parts) == 2 and pq.read_metadata(os.path.join(path, parts[0])).num_rows == 0
    _assert_inferred(spark, path)


def test_first_load_runs_no_spark_job(spark, sf_dir, tmp_path):
    """A fresh path misses the frame cache, so each load reads its footer;
    none of them may run a job (a silent fallback to inference would)."""
    copy = _table_copy(sf_dir, tmp_path / "sf")
    for name in TABLES:
        with _jobs(spark) as jobs:
            df = load_table(spark, copy, name)
        assert jobs == [], name
        assert df.schema == load_table(spark, sf_dir, name).schema, name
    views = _table_copy(sf_dir, tmp_path / "views")
    try:
        with _jobs(spark) as jobs:
            register_views(spark, views)
        assert jobs == []
    finally:
        register_views(spark, sf_dir)


def test_missing_path_raises_spark_error(spark, tmp_path):
    assert footer_schema(spark, str(tmp_path / "nope.parquet")) is None
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "nope")


def test_partitioned_dir_falls_back_to_inference(spark, tmp_path):
    path = str(tmp_path / "parted.parquet")
    spark.range(4).selectExpr("id", "id % 2 + 1 AS g").write.partitionBy("g").parquet(path)
    assert footer_schema(spark, path) is None
    df = load_table(spark, str(tmp_path), "parted")
    assert df.schema == spark.read.parquet(path).schema
    assert "g" in df.columns


def test_failing_reader_falls_back_to_inference(spark, sf_dir, tmp_path, monkeypatch):
    def _boom(*args, **kwargs):
        raise Py4JError("footer read failed")

    monkeypatch.setattr(footer, "_read_footer", _boom)
    copy = _table_copy(sf_dir, tmp_path / "sf")
    for name in ("lineitem", "events"):
        with _jobs(spark) as jobs:
            df = load_table(spark, copy, name)
        assert df.schema == load_table(spark, sf_dir, name).schema, name
        assert jobs, name  # inference's job: the job count sees a fallback


def _one_column_file(path, rows: int, row_group_size: int) -> str:
    values = np.random.default_rng(7).integers(0, 1 << 62, rows)
    pq.write_table(pa.table({"v": values}), path, row_group_size=row_group_size)
    return str(path)


@pytest.fixture
def small_splits(spark):
    """Splits of 16 KB, so a 200 KB file packs into many partitions."""
    confs = {"spark.sql.files.maxPartitionBytes": "16384", "spark.sql.files.openCostInBytes": "1024"}
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_single_row_group_scan_estimates_one(spark, tmp_path, small_splits):
    target = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(_one_column_file(tmp_path / "one.parquet", 25_000, 25_000))
    packed = _packed_partitions(df)
    assert packed == df.rdd.getNumPartitions() and packed >= target
    assert _scan_width_estimate(df) == 1
    widened = fan_out(df)
    assert widened is not df
    assert widened.rdd.getNumPartitions() == target


def test_many_row_group_scan_keeps_estimate(spark, tmp_path, small_splits):
    target = spark.sparkContext.defaultParallelism
    path = _one_column_file(tmp_path / "many.parquet", 25_000, 250)
    df = spark.read.parquet(path)
    packed = _packed_partitions(df)
    assert pq.read_metadata(path).num_row_groups >= packed
    assert packed >= target
    assert _scan_width_estimate(df) == packed
    assert fan_out(df) is df
