"""The primary correctness gate: every registered query is compared with
its DuckDB oracle at the smoke scale factor through
``tools/oracle.py:mismatch`` — the result check (SURVEY.md §5.2.1):
row count, sorted column names, pandas sort probe, and the value hash
over DuckDB's ``fetchnumpy`` rendering."""

from __future__ import annotations

import pytest

from news_categorization_big_data_spark.plans import REGISTRY
from tests.conftest import assert_oracle_match


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_oracle_parity(name, spark, sf_dir, duck):
    spec = REGISTRY[name]
    df = spec.builder(spark, sf_dir)
    assert_oracle_match(df, duck, spec.oracle, name=name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"lang", "n_docs", "digest"}


def test_contract_shape():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 40
