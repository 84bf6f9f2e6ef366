"""Shared fixtures: one SparkSession per test run + a DuckDB oracle
comparator mirroring the driver's check (row count + schema-width +
order-insensitive value comparison)."""

from __future__ import annotations

import math
import os
import re
from collections import Counter

import duckdb
import pytest

from news_categorization_big_data_spark.session import get_spark
from news_categorization_big_data_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    session = get_spark("ncbds-tests", shuffle_partitions=8)
    yield session


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def _canon(value):
    """Canonicalize a cell for order-insensitive multiset comparison."""
    if value is None:
        return None
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return float(value)
    if isinstance(value, (list, tuple)):
        return tuple(_canon(v) for v in value)
    return value


def rows_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = {}
    for row in rows:
        key = tuple(_canon(row[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def assert_oracle_match(spark_df, duck_con, sql, name=""):
    """Driver-style comparison: column names, row count, exact multiset."""
    spark_rows = spark_df.collect()
    spark_cols = spark_df.columns
    res = duck_con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_ms = rows_multiset([tuple(r) for r in spark_rows], spark_cols)
    d_ms = rows_multiset(duck_rows, duck_cols)
    if s_ms != d_ms:
        only_s = {k: v for k, v in s_ms.items() if d_ms.get(k) != v}
        only_d = {k: v for k, v in d_ms.items() if s_ms.get(k) != v}
        sample_s = list(only_s.items())[:3]
        sample_d = list(only_d.items())[:3]
        raise AssertionError(
            f"{name}: value mismatch; spark-only sample={sample_s} duck-only sample={sample_d}"
        )


_EXCHANGE_RE = re.compile(r"\bExchange (\w+)(?:\((.*?)\))?, ([A-Z_]+)")


def exchange_counts(plan: str) -> Counter:
    """Exchanges of a physical plan string, counted by kind:
    ``broadcast``, ``reused``, ``REPARTITION_BY_NUM(<keys>)`` for a keyed
    ``hashpartitioning`` repartition (the shape of
    functions/partitioning.py fan_out(by=...)), else
    ``<partitioning>/<shuffle origin>`` (e.g.
    ``hashpartitioning/ENSURE_REQUIREMENTS``, a shuffle the plan needs)."""
    kinds: Counter = Counter()
    for line in plan.splitlines():
        if "BroadcastExchange" in line:
            kinds["broadcast"] += 1
        elif "ReusedExchange" in line:
            kinds["reused"] += 1
        elif m := _EXCHANGE_RE.search(line):
            part, args, origin = m.groups()
            if part == "hashpartitioning" and origin == "REPARTITION_BY_NUM":
                keys = re.sub(r"#\d+L?", "", args.rsplit(", ", 1)[0])
                kinds[f"REPARTITION_BY_NUM({keys})"] += 1
            else:
                kinds[f"{part}/{origin}"] += 1
    return kinds


def exchanges_keyed_on(plan: str, col: str) -> list[str]:
    """The Exchange lines of a physical plan string whose partitioning
    keys reference column ``col`` (hash or range partitioning)."""
    key = re.compile(rf"\b{re.escape(col)}#\d+")
    return [
        line.strip()
        for line in plan.splitlines()
        if (m := _EXCHANGE_RE.search(line)) and m.group(2) and key.search(m.group(2))
    ]


def assert_map_only(spark, build, fan_out_key: str | None = None) -> str:
    """The map-only plan contract: ``build()``'s physical plan carries no
    Exchange except, where the caller declares ``fan_out_key``, at most
    one fan_out keyed repartition on it — and with
    ``spark.graft.fanout.enabled=false`` (the 100 TB deployment, where
    scan width is file-driven) no Exchange at all. Returns the default
    plan for further shape checks."""

    def physical_plan() -> str:
        return build()._jdf.queryExecution().executedPlan().toString()

    plan = physical_plan()
    allowed = Counter(
        {f"REPARTITION_BY_NUM({fan_out_key})": 1} if fan_out_key else {}
    )
    extra = exchange_counts(plan) - allowed
    assert not extra, f"not map-only: {dict(extra)}\n{plan}"
    spark.conf.set("spark.graft.fanout.enabled", "false")
    try:
        plan_off = physical_plan()
    finally:
        spark.conf.unset("spark.graft.fanout.enabled")
    off = exchange_counts(plan_off)
    assert not off, f"Exchange with fan_out disabled: {dict(off)}\n{plan_off}"
    return plan
