"""Guard the guards: each pyarrow-built edge-data axis of tools/fixtures.py
still has the property its pins and sweeps rely on. Without it, every
oracle pin run on the axis (test_null_tpch on skew5, test_empty_inputs
on skew6, test_nonfinite on skew7) would pass vacuously. Each axis is
checked on the data as written, through the same DuckDB views the
oracles read."""

from __future__ import annotations

import pytest

from news_categorization_big_data_spark.sources.tables import TABLES
from tools import fixtures


def _counts(duck, sql: str) -> tuple:
    return duck.execute(sql).fetchone()


def _null_keys(duck):
    """skew5: NULL join keys on the FK side of every TPC-H join."""
    assert all(_counts(duck, """
        SELECT count(*) - count(l_orderkey), count(*) - count(l_partkey),
               count(*) - count(l_suppkey) FROM lineitem"""))
    assert _counts(duck, "SELECT count(*) - count(o_custkey) FROM orders")[0]
    assert _counts(duck, "SELECT count(*) - count(c_nationkey) FROM customer")[0]
    assert _counts(duck, "SELECT count(*) - count(s_nationkey) FROM supplier")[0]


def _empty(duck):
    """skew6: every table has zero rows and keeps its source schema."""
    src = fixtures.AXES["skew6"].src
    for t in TABLES:
        assert _counts(duck, f"SELECT count(*) FROM {t}") == (0,), t
        schema = duck.execute(f"DESCRIBE {t}").fetchall()
        assert schema and schema == duck.execute(
            f"DESCRIBE SELECT * FROM '{src}/{t}.parquet'"
        ).fetchall(), t


def _nonfinite(duck):
    """skew7: NaN, +Inf and -Inf in events.value; NaN-poisoned vectors."""
    assert all(_counts(duck, """
        SELECT count(*) FILTER (isnan(value)),
               count(*) FILTER (value = 'inf'::DOUBLE),
               count(*) FILTER (value = '-inf'::DOUBLE) FROM events"""))
    assert _counts(duck, """
        SELECT count(*) FROM embeddings
        WHERE len(list_filter(embedding, x -> isnan(x))) > 0""")[0]


def _unique_values(duck):
    """skew8: every events.value is a distinct non-NULL double."""
    n, distinct = _counts(duck, "SELECT count(*), count(DISTINCT value) FROM events")
    assert n > 0 and distinct == n


def _unicode(duck):
    """skew9: non-ASCII texts, and each source token renders to exactly
    one written token that no other source token shares."""
    src = fixtures.AXES["skew9"].src
    rows = duck.execute(f"""
        SELECT s.text, d.text FROM '{src}/documents.parquet' s
        JOIN documents d USING (doc_id)
        WHERE s.text IS NOT NULL AND doc_id % 8 <> 0""").fetchall()
    assert any(not new.isascii() for _, new in rows)
    pairs = set()
    for old, new in rows:
        old_toks, new_toks = [t for t in old.split(" ") if t], new.split(" ")
        assert len(old_toks) == len(new_toks), new
        pairs.update(zip(old_toks, new_toks))
    assert len({old for old, _ in pairs}) == len(pairs), "a token renders two ways"
    assert len({new for _, new in pairs}) == len(pairs), "two tokens collide"


def _ts_edges(duck):
    """skew10: NULL, pre-1970 and far-future event times."""
    assert all(_counts(duck, """
        SELECT count(*) FILTER (ts IS NULL),
               count(*) FILTER (ts < TIMESTAMP '1970-01-01'),
               count(*) FILTER (ts > TIMESTAMP '2200-01-01') FROM events"""))


AXIS_PROPERTY = {
    "skew5": _null_keys,
    "skew6": _empty,
    "skew7": _nonfinite,
    "skew8": _unique_values,
    "skew9": _unicode,
    "skew10": _ts_edges,
}


@pytest.mark.parametrize("axis", AXIS_PROPERTY)
def test_axis_property(edge_axis, axis):
    _, duck = edge_axis(axis)
    AXIS_PROPERTY[axis](duck)
