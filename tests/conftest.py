"""Shared fixtures: one SparkSession per test run, DuckDB views over the
test sf dir, and ``assert_oracle_match``, which runs the result check
from tools/oracle.py (row count, sorted column names, order-insensitive
value hash over DuckDB's ``fetchnumpy`` rendering)."""

from __future__ import annotations

import os
from collections import Counter
from collections.abc import Iterator, Mapping
from typing import NamedTuple

import pytest
from pyspark.sql.types import StructType

from news_categorization_big_data_spark.functions.plan_text import exchange_counts
from news_categorization_big_data_spark.plans import REGISTRY
from news_categorization_big_data_spark.session import get_spark
from tools import fixtures
from tools.oracle import mismatch

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    session = get_spark("ncbds-tests", shuffle_partitions=8)
    yield session


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session", autouse=True)
def _git_stamp_off_tree(tmp_path_factory):
    """``__spark_entry__.queries()`` refreshes the tracked
    CORRECTNESS_GIT.json for the external driver; a test run must leave
    the checkout clean, so the stamp goes to a temp file instead."""
    import __spark_entry__

    stamp = tmp_path_factory.mktemp("git_stamp") / "CORRECTNESS_GIT.json"
    with pytest.MonkeyPatch.context() as patch:
        patch.setattr(__spark_entry__, "_GIT_STAMP_PATH", str(stamp))
        yield


def physical_plan(df) -> str:
    """The executed physical plan of ``df`` as text (planning only —
    nothing runs)."""
    return df._jdf.queryExecution().executedPlan().toString()


class RegisteredPlan(NamedTuple):
    schema: StructType
    plan: str


class _PlanMemo(Mapping):
    """Query name → :class:`RegisteredPlan`, each built at most once per
    session, on first access, at ``sf_dir`` under the default confs.
    Plan construction runs real jobs for some builders (the CC size
    probe, localCheckpoints), so the registry-wide sweeps and the
    per-query shape pins all read this one memo instead of rebuilding."""

    def __init__(self, spark, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._built: dict[str, RegisteredPlan] = {}

    def build(self, name: str):
        """A fresh DataFrame for ``name`` under the session's current
        confs — for the few pins that plan under a non-default conf."""
        return REGISTRY[name].builder(self.spark, self.sf_dir)

    def __getitem__(self, name: str) -> RegisteredPlan:
        if name not in self._built:
            df = self.build(name)
            self._built[name] = RegisteredPlan(df.schema, physical_plan(df))
        return self._built[name]

    def __iter__(self) -> Iterator[str]:
        return iter(REGISTRY)

    def __len__(self) -> int:
        return len(REGISTRY)


@pytest.fixture(scope="session")
def registry_plans(spark, sf_dir) -> _PlanMemo:
    return _PlanMemo(spark, sf_dir)


@pytest.fixture(scope="session")
def duck():
    con = fixtures.duck_views(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def edge_axis(tmp_path_factory):
    """``edge_axis(axis)`` → (sf dir, DuckDB views over it) of one edge-data
    axis of tools/fixtures.py, built into a tmp dir on first use and
    shared by every test of the session that asks for it."""
    built: dict[str, tuple] = {}

    def get(axis: str):
        if axis not in built:
            dst = str(tmp_path_factory.mktemp(axis))
            fixtures.build(axis, dst)
            built[axis] = dst, fixtures.duck_views(dst)
        return built[axis]

    yield get
    for _, con in built.values():
        con.close()


def assert_oracle_match(spark_df, duck_con, sql, name=""):
    """The benchmark runner's result check, ``tools/oracle.py:mismatch``: row count,
    sorted column names and the value hash over DuckDB's ``fetchnumpy``
    rendering, after a pandas sort of both sides (whose
    TypeError on a list cell propagates)."""
    reason = mismatch(spark_df, duck_con, sql)
    assert reason is None, f"{name}: {reason}"


def assert_map_only(
    registry_plans: _PlanMemo, name: str, fan_out_key: str | None = None
) -> str:
    """The map-only plan contract: query ``name``'s physical plan carries
    no Exchange except, where the caller declares ``fan_out_key``, at
    most one fan_out keyed repartition on it — and with
    ``spark.graft.fanout.enabled=false`` (the 100 TB deployment, where
    scan width is file-driven) no Exchange at all. Returns the default
    plan for further shape checks."""
    plan = registry_plans[name].plan
    allowed = Counter(
        {f"hashpartitioning({fan_out_key})/REPARTITION_BY_NUM": 1}
        if fan_out_key
        else {}
    )
    extra = exchange_counts(plan) - allowed
    assert not extra, f"not map-only: {dict(extra)}\n{plan}"
    spark = registry_plans.spark
    spark.conf.set("spark.graft.fanout.enabled", "false")
    try:
        plan_off = physical_plan(registry_plans.build(name))
    finally:
        spark.conf.unset("spark.graft.fanout.enabled")
    off = exchange_counts(plan_off)
    assert not off, f"Exchange with fan_out disabled: {dict(off)}\n{plan_off}"
    return plan
