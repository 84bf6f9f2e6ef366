"""Duplicate-sensitive per-row oracle pins (r15 ADVICE low #4 + VERDICT item 6).

The distinct-value collapses (q_dedup_fuzzy, q_semantic_dedup,
embedding_near_dup_pairs, the simhash distinct-sketch path) were proven
equal to their per-row plans by ad-hoc exceptAll runs that were never
turned into regression tests, so a future edit could silently break the
duplicate-expansion invariants (disjoint groups, least/greatest ordering,
self-pair gating). The per-document PPJoin operators (jaccard_pairs,
containment_pairs — behind q_dedup_ngram_jaccard, q_dedup_containment,
q_lsh_recall's truth side and q_dedup_mllib_lsh's truth side) must emit
every pair inside an exact-dup cluster exactly once and never a doc's
pair with itself; the 14-member exact-dup text cluster is what guards
that. This file pins all of them on a purpose-built fixture whose
duplicate clusters dwarf the shipped sf* fixtures: a 14-member exact-dup
text cluster, a 12-member exact-dup embedding cluster, zero-norm and
NaN-poisoned DUPLICATE embeddings (the q_semantic_dedup NaN-partner
class the r15 ADVICE flagged), empty/null/short texts. Each plan must
oracle-MATCH on the fixture (the oracles ARE per-row implementations).
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


from news_categorization_big_data_spark.functions.groupcollapse import grouped_ids
from news_categorization_big_data_spark.plans import REGISTRY
from tests.conftest import assert_oracle_match

#: Queries whose output depends on exact-duplicate handling: the plans
#: routed through grouped_ids (directly or via operators), the
#: distinct-sketch simhash path (its own collapse), and the per-doc
#: PPJoin queries (jaccard_pairs / containment_pairs).
DUP_SENSITIVE = [
    "q_dedup_ngram_jaccard",
    "q_dedup_containment",
    "q_lsh_recall",
    "q_dedup_fuzzy",
    "q_semantic_dedup",
    "q_dedup_embedding",
    "q_dedup_mllib_lsh",
    "q_simhash_hamming",
]


def _texts() -> list[tuple[int, str]]:
    rows: list[tuple[int, str]] = []
    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "editors review syndicated market copy for regional outlets"
    )
    # 14-member exact-dup cluster.
    rows += [(100 + i, base) for i in range(14)]
    # 5-member exact-dup cluster of a near-dup variant (jaccard vs base
    # high but < 1): swap two words.
    variant = base.replace("quick brown", "swift brown")
    rows += [(200 + i, variant) for i in range(5)]
    # Singletons: clearly-different docs.
    for i in range(20):
        rows.append(
            (
                300 + i,
                f"unique document number {i} discusses topic {i * 7} with "
                f"entirely separate vocabulary item{i} token{i * 3} "
                f"filler{i} margin{i} ledger{i} quarry{i} basalt{i}",
            )
        )
    # Edge rows: empty, null, too short for 3-shingles / 24-char norm.
    rows += [(400, ""), (401, None), (402, "two words"), (403, "tiny")]
    # A second exact-dup pair.
    rows += [(500, variant + " extra trailing clause appended here"),
             (501, variant + " extra trailing clause appended here")]
    return rows


def _vectors() -> list[tuple[int, list[float] | None]]:
    def unit(seed: int) -> list[float]:
        vals = [math.sin(0.7 * seed + 0.13 * j) for j in range(64)]
        n = math.sqrt(sum(v * v for v in vals))
        return [v / n for v in vals]

    rows: list[tuple[int, list[float] | None]] = []
    # 12-member exact-dup vector cluster.
    dup = unit(1)
    rows += [(100 + i, dup) for i in range(12)]
    # near-dup of the cluster (high cosine): tiny perturbation.
    near = [v + (0.001 if j == 0 else 0.0) for j, v in enumerate(dup)]
    rows += [(200, near), (201, near)]
    # zero vectors (NaN cosine) — DUPLICATED so the NaN partner paths
    # and the NaN self-cos path both fire.
    rows += [(300, [0.0] * 64), (301, [0.0] * 64)]
    # NaN-poisoned duplicates.
    pois = dup[:]
    pois[5] = float("nan")
    rows += [(310, pois), (311, pois)]
    # distinct normal vectors.
    rows += [(400 + i, unit(10 + i)) for i in range(15)]
    return rows


@pytest.fixture(scope="module")
def collapse_sf_dir(tmp_path_factory, spark):
    dst = tmp_path_factory.mktemp("collapse_fx")
    docs = spark.createDataFrame(
        [(i, t, "en", "fx", len(t or "")) for i, t in _texts()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(str(dst / "documents.parquet"))
    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in _vectors()],
        "vec_id long, embedding array<float>, label int",
    )
    emb.coalesce(1).write.mode("overwrite").parquet(str(dst / "embeddings.parquet"))
    return str(dst)


@pytest.fixture(scope="module")
def collapse_duck(collapse_sf_dir):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{collapse_sf_dir}/{t}.parquet/*.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", DUP_SENSITIVE)
def test_grouped_plan_matches_per_row_oracle(
    spark, collapse_sf_dir, collapse_duck, name
):
    spec = REGISTRY[name]
    assert spec.oracle is not None, name
    df = spec.builder(spark, collapse_sf_dir)
    assert_oracle_match(df, collapse_duck, spec.oracle, name=f"{name}@collapse_fx")


def test_grouped_ids_sorts_and_preserves_members(spark):
    rows = [("a", i) for i in reversed(range(10))] + [
        ("b", 100), ("c", 201), ("c", 200)
    ]
    df = spark.createDataFrame(rows, "k string, i long")
    got = {r["k"]: r["_ids"] for r in grouped_ids(df, ("k",), "i").collect()}
    assert got == {"a": list(range(10)), "b": [100], "c": [200, 201]}
