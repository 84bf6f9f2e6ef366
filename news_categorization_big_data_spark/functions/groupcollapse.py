"""Shared distinct-value group collapse for the dedup/similarity family.

q_dedup_fuzzy (normalized texts), q_semantic_dedup,
operators/similarity.py:embedding_near_dup_pairs (embedding vectors, behind
q_dedup_embedding) and operators/dedup.py:simhash_hamming_pairs (SimHash
sketches, behind q_simhash_hamming) run their pairwise candidate machinery
over DISTINCT values and carry each value's member-id list on the group row
— collapsing the quadratic cost of exact-duplicate clusters (guide §8:
decide on a lightweight proxy, multiply heavy rows out once). Downstream
pair machinery treats group rows as values and relies on (a) member-id sets
being disjoint across rows and (b) every filter/verify expression being a
function of the VALUE columns. Equivalence with the naive per-row
reference, including exact-dup clusters far larger than the shipped
fixtures', is pinned by tests/test_group_collapse_equivalence.py.

The collapse's final step multiplies the rows back out. Qualifying group
pairs expand to every cross pair of their members (expand_group_pairs —
q_dedup_fuzzy, simhash_hamming_pairs, embedding_near_dup_pairs), and each
group pairs its own identical members (member_pairs over ``_ids`` —
q_dedup_fuzzy, simhash_hamming_pairs; embedding_near_dup_pairs verifies
each group's self-similarity before that explode, so it keeps its own
form). member_pairs is also the in-bucket pair emitter of every bucketed
candidate generator in operators/dedup.py and operators/similarity.py.
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


def member_pairs(
    rows: DataFrame,
    members: str,
    out_a: str = "_a",
    out_b: str = "_b",
    field: str | None = None,
) -> DataFrame:
    """(out_a, out_b): every ordered pair of elements of one row's
    ``members`` array — two generates per row, ordered (on ``field``
    when the members are structs) to halve the pair space. Rows with
    fewer than two members emit nothing, and no pair ever spans two
    rows. Not deduplicated: a pair sharing several rows repeats."""
    a, b = (out_a, out_b) if field is None else (f"{out_a}.{field}", f"{out_b}.{field}")
    return (
        rows.where(F.size(members) > 1)
        .select(F.explode(members).alias(out_a), F.col(members))
        .select(out_a, F.explode(members).alias(out_b))
        .where(F.col(a) < F.col(b))
    )


def expand_group_pairs(pairs: DataFrame, out_a: str, out_b: str, value: str) -> DataFrame:
    """(out_a, out_b, value) document pairs from qualifying group pairs
    (``_idsa``, ``_idsb``, ``value``): every member of one group with
    every member of the other, ordered least/greatest. Disjoint groups
    make each unordered document pair appear once."""
    return (
        pairs.select(F.explode("_idsa").alias("_a"), "_idsb", value)
        .select("_a", F.explode("_idsb").alias("_b"), value)
        .select(
            F.least("_a", "_b").alias(out_a),
            F.greatest("_a", "_b").alias(out_b),
            value,
        )
    )

