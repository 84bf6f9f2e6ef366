"""Verify the verifier: seed a defect into a query and assert the
DuckDB-oracle comparison CATCHES it. A green parity suite only means
'Spark and the oracle agree' — this module proves the agreement is
sensitive, i.e. a plausible off-by-one / wrong-constant / wrong-seed
bug cannot slip through as a coincidental match. Each mutation is the
kind a refactor actually introduces."""

from __future__ import annotations

from datetime import date

import duckdb
import pytest

from news_categorization_big_data_spark.plans import REGISTRY
from tests.conftest import assert_oracle_match


def test_df_cap_mutation_is_caught(spark, sf_dir, duck):
    # max_df 1000 -> 1: every shared prefix bucket is dropped, so the
    # planted near-dup pairs vanish -> row-count mismatch. (A first
    # attempt mutated the threshold 0.8 -> 0.78 and was NOT caught:
    # the testdata has no pair with jaccard in [0.78, 0.8), so that
    # mutation is output-invariant here — a reminder that sensitivity
    # checks must seed defects that provably change THIS data.)
    from pyspark.sql import functions as F

    from news_categorization_big_data_spark.operators.dedup import jaccard_pairs
    from news_categorization_big_data_spark.sources.tables import load_table

    spec = REGISTRY["q_dedup_ngram_jaccard"]
    assert spec.builder(spark, sf_dir).count() > 0  # there IS signal
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    mutated = jaccard_pairs(docs, threshold=0.8, max_df=1)
    with pytest.raises(AssertionError):
        assert_oracle_match(mutated, duck, spec.oracle, name="mut")


def test_constant_mutation_is_caught(spark, sf_dir, duck, monkeypatch):
    # smoothing weight 10 -> 9: every encoded value shifts by one
    # identical-looking IEEE chain — values change, schema doesn't
    from news_categorization_big_data_spark.plans import features

    monkeypatch.setattr(features, "TE_ALPHA", 9.0)
    mutated = REGISTRY["q_target_encode"].builder(spark, sf_dir)
    with pytest.raises(AssertionError):
        assert_oracle_match(
            mutated, duck, REGISTRY["q_target_encode"].oracle, name="mut"
        )


def test_poisson_grid_mutation_is_caught(spark, sf_dir, duck, monkeypatch):
    from news_categorization_big_data_spark.plans import quality

    # shift the whole inverse-CDF grid: every resample weight biases
    # up, every cell mean moves. (A single-threshold +1 nudge was NOT
    # caught at this sf — only ~1-in-65536 lane values sit exactly on
    # a threshold, and the rank-1/rank-39 order stats survived.)
    monkeypatch.setattr(
        quality, "BOOT_T", tuple(t - 1000 for t in quality.BOOT_T)
    )
    mutated = REGISTRY["q_bootstrap_ci"].builder(spark, sf_dir)
    with pytest.raises(AssertionError):
        assert_oracle_match(
            mutated, duck, REGISTRY["q_bootstrap_ci"].oracle, name="mut"
        )


def test_unmutated_still_green(spark, sf_dir, duck):
    # the control: the same comparisons pass without the mutations
    for name in ("q_target_encode", "q_bootstrap_ci", "q_dedup_ngram_jaccard"):
        spec = REGISTRY[name]
        assert_oracle_match(
            spec.builder(spark, sf_dir), duck, spec.oracle, name=name
        )


def test_broken_ann_index_is_caught(spark, sf_dir, duck, monkeypatch):
    # a "broken" index that surfaces too few neighbors (ANN_K below the
    # returned-count floor): returned_ok flips False and the SELECT
    # TRUE, TRUE semi-oracle mismatches — the bounded boolean is a real
    # gate, not decoration (round-8 replacement for the brittle
    # n_returned=10 exact pin).
    from news_categorization_big_data_spark.plans import similarity

    monkeypatch.setattr(similarity, "ANN_K", 3)
    mutated = REGISTRY["q_sim_ann_lsh"].builder(spark, sf_dir)
    with pytest.raises(AssertionError):
        assert_oracle_match(
            mutated, duck, REGISTRY["q_sim_ann_lsh"].oracle, name="mut"
        )


@pytest.fixture
def mem_duck():
    con = duckdb.connect()
    yield con
    con.close()


@pytest.mark.parametrize(
    "rows, schema, sql, error",
    [
        # fetchnumpy renders HUGEINT as float64: "150.0" against "150"
        pytest.param([(150,)], "x long", "SELECT 150::HUGEINT AS x", AssertionError, id="hugeint"),
        pytest.param(
            [(150,)],
            "x long",
            "SELECT SUM(v) AS x FROM (VALUES (100::BIGINT), (50::BIGINT)) t(v)",
            AssertionError,
            id="uncast_sum_bigint",
        ),
        # DATE arrives as a midnight datetime: "2020-01-02 00:00:00"
        pytest.param(
            [(date(2020, 1, 2),)], "x date", "SELECT DATE '2020-01-02' AS x", AssertionError, id="date"
        ),
        # the runner's pandas sort cannot hash a list cell
        pytest.param(
            [(1, [1.0, 2.0])],
            "id int, x array<double>",
            "SELECT 1 AS id, [1.0::DOUBLE, 2.0] AS x",
            TypeError,
            id="array_cell",
        ),
    ],
)
def test_driver_red_class_is_caught(spark, mem_duck, rows, schema, sql, error):
    """Renderings the runner's hash fails must fail here too, even where
    the values are equal in Python."""
    df = spark.createDataFrame(rows, schema)
    with pytest.raises(error):
        assert_oracle_match(df, mem_duck, sql, name="red")


def test_driver_green_class_passes(spark, mem_duck):
    # the control: the same values in the renderings the runner accepts
    df = spark.createDataFrame([(150, "2020-01-02")], "x long, d string")
    assert_oracle_match(
        df,
        mem_duck,
        "SELECT SUM(v)::BIGINT AS x, strftime(DATE '2020-01-02', '%Y-%m-%d') AS d "
        "FROM (VALUES (100::BIGINT), (50::BIGINT)) t(v)",
        name="green",
    )
