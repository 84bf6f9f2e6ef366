"""Shared distinct-value group collapse for the dedup/similarity family.

q_dedup_fuzzy (normalized texts), q_semantic_dedup and
operators/similarity.py:embedding_near_dup_pairs (embedding vectors, behind
q_dedup_embedding) run their pairwise candidate machinery over DISTINCT
values and carry each value's member-id list on the group row — collapsing
the quadratic cost of exact-duplicate clusters (guide §8: decide on a
lightweight proxy, multiply heavy rows out once). Downstream pair machinery
treats group rows as values and relies on (a) member-id sets being disjoint
across rows and (b) every filter/verify expression being a function of the
VALUE columns. Equivalence with the naive per-row reference, including
exact-dup clusters far larger than the shipped fixtures', is pinned by
tests/test_group_collapse_equivalence.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grouped_ids(
    df: DataFrame, key_cols: tuple[str, ...], id_col: str
) -> DataFrame:
    """One row per distinct ``key_cols`` value with ``_ids`` = sorted
    member ids. Output columns: ``*key_cols, _ids``."""
    return df.groupBy(*key_cols).agg(
        F.array_sort(F.collect_list(id_col)).alias("_ids")
    )
