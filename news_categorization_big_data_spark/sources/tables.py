"""Parquet table catalog for the engine's canonical store.

The engine's canonical storage format is Parquet (columnar, splittable,
predicate-pushdown- and column-pruning-friendly) — the Spark-native
replacement for the reference's MongoDB document store
(database_storage.py:16-32): full scans become parquet scans, Mongo
``find({"created_at": {"$gt": ts}})`` range scans become pushed-down
predicates, and at scale tables would be partitioned/z-ordered by the
range-scan key so partition pruning kicks in before row-group pruning.

Timestamp normalization: the testdata's timestamp columns arrive in
whichever parquet flavor the generator used that round — rounds 1-3
wrote ``events.ts`` as INT64 TIMESTAMP(NANOS) (readable in Spark 4 only
as a raw nanosecond long under ``spark.sql.legacy.parquet.nanosAsLong``),
round 4 regenerated everything as µs with ``isAdjustedToUTC=false``,
which Spark 4 infers as TIMESTAMP_NTZ while functions like
``unix_micros``/``window`` demand TIMESTAMP. The loader normalizes both
flavors to session-UTC TIMESTAMP: ns-longs via integer floor-division
(bit-for-bit DuckDB's ns→µs truncation), NTZ via a cast that under the
engine's UTC session timezone reinterprets the wall-clock value as the
same instant — value- and rendering-identical to DuckDB's naive read of
the same file.

Opening a table runs no Spark job: ``spark.read.parquet(path)`` alone
would infer the schema with one (``mergeSchemasInParallel`` collects a
one-footer RDD), so the loader reads that footer on the driver
(sources/footer.py) and passes the schema it yields — exactly the
inferred one — to ``spark.read.schema(...)``. Where the footer reader
can't stand in for inference (Spark Connect, summary files, partition
subdirectories, a missing path) it returns None and the loader takes
plain ``spark.read.parquet``, which raises Spark's own errors.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from news_categorization_big_data_spark.session import tune_session
from news_categorization_big_data_spark.sources.footer import footer_schema

#: Per-session cache of loaded (sf_dir, table) frames. A DataFrame is an
#: immutable logical plan, so reusing one across queries is semantically
#: identical to rebuilding it — but rebuilding pays a footer read, the
#: file listing and analysis on EVERY load_table call (the round-11
#: planning-time audit measured table loads, each with a schema-inference
#: job then, as the dominant driver-side cost of the pure-plan queries:
#: q_tpch_q8 loading 8 tables ≈ 0.7 s of its 1.3 s build). Keyed
#: weakly by session so a stopped session's plans are never resurrected;
#: keyed by (sf_dir, name) so tests' per-tmp_path fixtures never
#: collide, with the path's mtime_ns stored IN the value as a freshness
#: token (round-11 advice): a regenerated fixture dir (tools/fixtures.py
#: rewriting its output while a session holds cached frames) REPLACES
#: the stale entry instead of silently reading dropped files — and
#: replacement (not mtime-in-the-key) means superseded entries are
#: evicted rather than accumulating per regeneration. One os.stat per
#: load_table call, noise next to the parquet-footer read it saves.
#: The driver testdata dirs remain immutable by contract (TESTDATA.md);
#: anything that WRITES then re-reads a path goes through its own
#: spark.read, not load_table.
_FRAME_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], tuple[int, DataFrame]]]" = (
    weakref.WeakKeyDictionary()
)

#: Tables in the driver-generated testdata (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing ns-precision timestamps to µs."""
    tune_session(spark)
    cache = _FRAME_CACHE.setdefault(spark, {})
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        mtime = -1  # let spark.read raise its own (clearer) error
    key = (sf_dir, name)
    hit = cache.get(key)
    if hit is not None and hit[0] == mtime:
        return hit[1]
    schema = footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    for field in df.schema.fields:
        if isinstance(field.dataType, T.LongType) and field.name == "ts":
            # ns → µs truncation (matches DuckDB's read of the same file).
            df = df.withColumn(field.name, F.timestamp_micros(F.expr(f"{field.name} div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            # µs NTZ → session-UTC instant (same wall-clock, same render).
            df = df.withColumn(field.name, F.col(field.name).cast(T.TimestampType()))
    cache[key] = (mtime, df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table as a dict of DataFrames (all lazy)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view for ``spark.sql`` entry points."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
