"""Empty-input regression pins — the 15 round-13 /tmp/skew6 fixes.

The skew6 axis of tools/fixtures.py writes every table as a ZERO-ROW
parquet with the production schema; the round-13 sweep found 15 defects
in four classes (SCALE.md "Round 13: the EMPTY-INPUT axis"). conftest's
``edge_axis`` rebuilds the fixture into a tmp dir (instant — it is just
empty parquet), and this file pins every fixed query oracle-green ON
EMPTY INPUT, so a refactor that reintroduces an inference-dependent
read-back, an unguarded division, or a bare MLlib fit fails here
instead of at the next fixture sweep. test_edge_axes.py guards that the
fixture really is empty."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tests.conftest import assert_oracle_match
from news_categorization_big_data_spark.plans import REGISTRY

#: The 15 queries the /tmp/skew6 sweep caught (four classes — see
#: SCALE.md for the class table).
FIXED = [
    # inference-dependent round-trips
    "q_scan_json",
    "q_scan_partitioned",
    "q_scan_zorder",
    "q_sink_partitioned_roundtrip",
    "q_sink_pyds_roundtrip",
    # ANSI divide-by-zero
    "q_dq_checks",
    "q_ab_srm",
    "q_curation_funnel",
    # grouping-sets grand-total contract
    "q_rollup",
    "q_cube",
    "q_grouping_sets",
    # estimator guards + count_if parity
    "q_ml_classify",
    "q_ml_kmeans",
    "q_sim_ann_lsh",
    "q_table_profile",
]


@pytest.mark.parametrize("name", FIXED)
def test_empty_input_fix_holds(spark, edge_axis, name):
    sf_dir, duck = edge_axis("skew6")
    spec = REGISTRY[name]
    assert spec.oracle is not None, name
    df = spec.builder(spark, sf_dir)
    assert_oracle_match(df, duck, spec.oracle, name=f"{name}@skew6")
