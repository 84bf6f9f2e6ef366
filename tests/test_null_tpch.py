"""Null-key TPC-H regression pins — the six round-13 /tmp/skew5 fixes.

The skew5 axis of tools/fixtures.py injects deterministic NULLs into
every join key, date, measure, and group-key column of the seven TPC-H
tables; the round-13 full-registry sweep found exactly six cross-engine
null-semantics divergences (SCALE.md "Round 13: the NULL-KEY axis
reaches the TPC-H tier"). conftest's ``edge_axis`` rebuilds the fixture
into a tmp dir (seconds — the generator is seeded per (table, column),
so the data is bit-identical to /tmp/skew5), and this file pins each
fixed query oracle-green ON NULLED DATA, so a refactor that reintroduces
an unpinned sort, a NOT IN, or an unguarded element_at fails here
instead of at the next fixture sweep. test_edge_axes.py guards that the
fixture really holds null keys."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tests.conftest import assert_oracle_match
from news_categorization_big_data_spark.plans import REGISTRY

#: The six queries the /tmp/skew5 sweep caught, each a distinct
#: null-semantics class (see SCALE.md for the fix table).
FIXED = [
    "q_percent_change",
    "q_tpch_q12",
    "q_offset_skip",
    "q_join_anti",
    "q_benford_digits",
    "q_alloc_budget",
    # r13 ADVICE: q16's oracle kept a NOT IN — the same three-valued
    # divergence as q_join_anti, latent because skew5's one NULL-key
    # supplier happens to have non-negative acctbal. Oracle rewritten
    # as NOT EXISTS; pinned here on nulled data.
    "q_tpch_q16",
]


@pytest.mark.parametrize("name", FIXED)
def test_null_key_fix_holds(spark, edge_axis, name):
    sf_dir, duck = edge_axis("skew5")
    spec = REGISTRY[name]
    assert spec.oracle is not None, name
    df = spec.builder(spark, sf_dir)
    assert_oracle_match(df, duck, spec.oracle, name=f"{name}@skew5")
