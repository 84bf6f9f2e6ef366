"""Exact order statistics per group without per-group arrays.

``value_counts`` is the one fact-table pass: a map-side-combinable
aggregate onto the distinct-value domain. ``order_stats_from_counts``
then selects the k-th smallest value per group with one windowed pass
over that value-domain table, and ``grouped_order_stats`` composes the
two. Total-order windows without a partition key (running sums, lags,
full-frame aggregates) are plain Spark windows at their call sites,
most of them over a pre-aggregated, value-domain table so that their
one-task sort sees distinct values rather than fact rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def value_counts(
    df: DataFrame,
    keys: list[str],
    value: Column,
) -> DataFrame:
    """The per-group distinct-value counts table ``(keys…, _v, _vc)``,
    INCLUDING one row per group for NULL values (``_v`` NULL, ``_vc`` =
    the group's NULL count) — so downstream order statistics can
    recover the group's TOTAL row count without a second scan of the
    fact table, and an all-NULL group still has a carrier row.

    This is the one fact-table pass of the order-statistic family: a
    map-side-combinable aggregate that collapses facts onto the value
    domain. Everything after it (medians, per-mille bounds, clipped
    sums, deviation re-counts) is value-domain-sized work.
    """
    return df.groupBy(*keys, value.alias("_v")).agg(F.count("*").alias("_vc"))


def order_stats_from_counts(
    counts: DataFrame,
    keys: list[str],
    ranks: dict[str, Column],
) -> DataFrame:
    """Exact k-th-smallest NON-NULL ``_v`` per group from a
    ``value_counts`` table — one column per ``ranks`` entry — without
    per-group arrays and without re-touching the fact table.

    ``ranks`` maps output names to 1-BASED rank expressions, written in
    terms of ``F.col("_n_tot")`` (the group's TOTAL row count, NULLs
    included — matching the element_at(array_sort(collect_list(v)), k)
    idiom these plans previously used, where k was computed from
    count(*) but indexed the null-free array).

    Plan: ONE per-key window pass computes both the total (full-frame
    sum of ``_vc`` — NULL carrier rows included) and the null-free
    cumulative count (ordered nulls-first, NULL rows contribute 0), so
    the old second scan + groupBy + left join for the total is gone.
    min(value WHERE cum ≥ k) per rank; per-task state is the window's
    spillable sort, bounded by the distinct-value domain. A group whose
    values are ALL NULL keeps its carrier row and emits NULL stats (the
    collect_list idiom's behavior, pinned in tests).
    """
    w_all = Window.partitionBy(*keys)
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_v").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = counts.withColumn("_n_tot", F.sum("_vc").over(w_all)).withColumn(
        "_cum",
        F.sum(F.when(F.col("_v").isNotNull(), F.col("_vc"))).over(w_cum),
    )
    return d.groupBy(*keys).agg(
        *[
            F.min(
                F.when(
                    F.col("_v").isNotNull() & (F.col("_cum") >= k), F.col("_v")
                )
            ).alias(name)
            for name, k in ranks.items()
        ]
    )


def grouped_order_stats(
    df: DataFrame,
    keys: list[str],
    value: Column,
    ranks: dict[str, Column],
) -> DataFrame:
    """Exact k-th-smallest NON-NULL ``value`` per group — one column per
    ``ranks`` entry — without per-group arrays: ``value_counts`` (the
    single fact-table pass) composed with ``order_stats_from_counts``
    (value-domain window work). See those two for the contract; the
    collect_list form this family replaces buffered an entire group's
    values in ONE aggregation cell — the q_mad_outliers / q_winsorize
    100-TB OOM.
    """
    return order_stats_from_counts(value_counts(df, keys, value), keys, ranks)
