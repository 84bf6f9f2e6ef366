"""Non-finite regression pins — the six round-13 /tmp/skew7 fixes.

The skew7 axis of tools/fixtures.py injects deterministic NaN/±Inf into
events.value and poisons 2% of embedding vectors with one NaN component
(SCALE.md "Round 13: the NON-FINITE axis"). conftest's ``edge_axis``
rebuilds the fixture into a tmp dir, and this file pins the six fixed
queries oracle-green ON POISONED DATA — the four silent hash divergences
(finite-subset order statistics, NULL banding, IEEE NaN comparisons),
the two Spark-side crashes (z-order coordinate guard, the
drop-poisoned-vectors KMeans filter), and the full POISON → NULL
exact-cast program (dsum_fin/o_dsum_fin and friends in
plans/relational.py) applied to every exact-decimal/int-cast metric
consumer. The closing full-registry sweep on the fixture was 284/284;
this file pins the 39 queries the first sweep caught.
test_edge_axes.py guards that the fixture really is poisoned."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tests.conftest import assert_oracle_match
from news_categorization_big_data_spark.plans import REGISTRY

FIXED = [
    # wave 1: silent divergences + Spark-side crashes
    "q_group_quantiles",
    "q_udf_scalar",
    "q_udaf_grouped",
    "q_udtf_table_arg",
    "q_scan_zorder",
    "q_ml_kmeans",
    # wave 2: the poison -> NULL exact-cast program
    "q_agg_filtered",
    "q_project_cast",
    "q_decay_agg",
    "q_value_histogram",
    "q_zscore_outliers",
    "q_grouped_moments",
    "q_winsorize",
    "q_ab_ttest",
    "q_anova_f",
    "q_ewma_smooth",
    "q_bootstrap_ci",
    "q_did_effect",
    "q_cuped",
    "q_experiment_readout",
    "q_null_semantics",
    "q_cusum_changepoint",
    "q_semi_additive",
    "q_attrib_channel",
    "q_rolling_corr",
    "q_incremental_agg",
    "q_resample_ohlc",
    "q_merge_upsert",
    "q_gap_fill",
    "q_window_time_range",
    "q_twap",
    "q_salted_agg",
    "q_embedding_norms",
    "q_embedding_quantize",
    "q_embedding_dim_stats",
    "q_label_centroids",
    "q_calibration_ece",
    "q_pq_assign",
    "q_sink_partitioned_roundtrip",
]


@pytest.mark.parametrize("name", FIXED)
def test_nonfinite_fix_holds(spark, edge_axis, name):
    sf_dir, duck = edge_axis("skew7")
    spec = REGISTRY[name]
    assert spec.oracle is not None, name
    df = spec.builder(spark, sf_dir)
    assert_oracle_match(df, duck, spec.oracle, name=f"{name}@skew7")
