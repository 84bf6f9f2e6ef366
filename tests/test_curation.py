"""Unit tests for the corpus-hygiene operators: eval-set
decontamination, repetition stats, and near-dup cluster canonicalization
(connected components)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from news_categorization_big_data_spark.operators.curation import (
    ngram_contamination,
    repetition_stats,
)
from news_categorization_big_data_spark.operators.graph import connected_components


def test_contamination_flags_overlapping_train_doc(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words about gardening tips here"),
        ],
        ["doc_id", "text"],
    )
    holdout = spark.createDataFrame(
        [(9, "we observed the quick brown fox in the wild")],
        ["doc_id", "text"],
    )
    hits = {r["doc_id"]: r["n_overlap"] for r in ngram_contamination(train, holdout).collect()}
    # doc 1 shares exactly one 3-gram with the holdout: "the quick brown"
    # and "quick brown fox" -> two overlapping shingles; doc 2 shares none.
    assert hits == {1: 2}


def test_contamination_uses_broadcast_join(registry_plans):
    plan = registry_plans["q_decontaminate"].plan
    assert "BroadcastHashJoin" in plan, plan


def test_repetition_ratio_separates_prose_from_boilerplate(spark):
    docs = spark.createDataFrame(
        [
            (1, "click here click here click here click here"),
            (2, "each word appears exactly once in this sentence"),
            (3, "x"),  # single word: no bigrams -> excluded
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert set(rows) == {1, 2}
    # 7 bigrams, only 2 distinct ("click here", "here click").
    assert rows[1]["n_grams"] == 7 and rows[1]["n_distinct"] == 2
    assert rows[1]["dup_ratio"] == pytest.approx(round(5 / 7, 4))
    assert rows[2]["dup_ratio"] == 0.0


def test_pii_scrub_planted_rows_match_duckdb(spark, duck):
    """Cross-engine regex parity on text the corpus doesn't contain:
    both engines scrub the same planted rows to identical outputs."""
    import duckdb

    from news_categorization_big_data_spark.operators.curation import pii_scrub
    from news_categorization_big_data_spark.plans import REGISTRY

    rows = [
        (1, "contact bob.smith+spam@example.co.uk or call +1 (555) 123-4567 now"),
        (2, "server at 10.0.255.3 logged 192.168.1.1 twice"),
        (3, "no sensitive content in this row at all"),
        (4, "mixed: a@b.io then 8.8.8.8 then 555-123-4567 done"),
    ]
    got = {
        r["doc_id"]: tuple(r)
        for r in pii_scrub(spark.createDataFrame(rows, ["doc_id", "text"])).collect()
    }
    values = ", ".join(f"({i}, '{t}')" for i, t in rows)
    oracle = REGISTRY["q_pii_scrub"].oracle.replace(
        "FROM documents", f"FROM (VALUES {values}) AS documents(doc_id, text)"
    )
    con = duckdb.connect()
    want = {r[0]: tuple(r) for r in con.execute(oracle).fetchall()}
    con.close()
    assert got == want
    assert got[1][1] == "contact <EMAIL> or call <PHONE> now"
    assert got[2][1] == "server at <IP> logged <IP> twice"
    # counts: (text_clean, n_email, n_ip, n_phone) after doc_id
    assert got[1][2:] == (1, 0, 1)
    assert got[2][2:] == (0, 2, 0)
    assert got[3][2:] == (0, 0, 0)
    assert got[4][2:] == (1, 1, 1)


def test_pack_sequences_invariants(spark, sf_dir):
    """Offsets are consistent: within (shard, hash-order), each doc's
    start offset equals the previous doc's start + tok_count, and
    seq_idx/seq_offset decompose that offset by seq_len."""
    from collections import defaultdict

    from news_categorization_big_data_spark.operators.batching import pack_sequences
    from news_categorization_big_data_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = pack_sequences(docs, seq_len=128, n_shards=8).collect()
    assert len(out) == docs.count()
    by_shard = defaultdict(list)
    for r in out:
        start = r["seq_idx"] * 128 + r["seq_offset"]
        by_shard[r["shard"]].append((start, r["tok_count"]))
    for shard, entries in by_shard.items():
        entries.sort()
        pos = 0
        for start, tok in entries:
            assert start == pos, f"shard {shard}: gap at {start} != {pos}"
            pos += tok


def test_connected_components_chain_and_islands(spark):
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (9, 8)], ["doc_a", "doc_b"]
    )
    comp = {
        r["doc_id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 8: 8, 9: 8}


def test_connected_components_matches_union_find(spark):
    """Property check against a driver-side union-find on a pseudo-random
    pair set (deterministic: edges derived from arithmetic, no RNG)."""
    edges = [((i * 7) % 23, (i * 11) % 23 + 30) for i in range(18)]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v: find(v) for v in parent}

    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == expected


def _kmeans_assignments(spark, sf_dir):
    """The per-vector assignment surface the registered q_ml_kmeans
    semi-oracle summarizes (same estimator, params, and seed)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from news_categorization_big_data_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    model = KMeans(
        k=8, seed=42, featuresCol="features", predictionCol="cluster"
    ).fit(emb)
    return model.transform(emb).select("vec_id", "cluster").collect()


def test_kmeans_structural_properties(spark, sf_dir):
    """Labels in the synthetic embeddings are not separable, so the
    check is structural: every vector assigned, k clusters used, each
    point's cluster is its nearest fitted centroid, and the fit is
    seed-deterministic. The registered query now emits the semi-oracle
    summary (exact count + pinned booleans); the per-vector surface is
    checked through the same estimator."""
    import numpy as np

    from news_categorization_big_data_spark.plans import REGISTRY
    from news_categorization_big_data_spark.sources.tables import load_table

    summary = REGISTRY["q_ml_kmeans"].builder(spark, sf_dir).collect()
    assert len(summary) == 1
    s = summary[0]
    assert s.k_ok is True and s.fitted_beats_fixed_init is True, s

    out = _kmeans_assignments(spark, sf_dir)
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype="float64")
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    assert len(out) == len(emb)
    clusters = {r["cluster"] for r in out}
    assert len(clusters) == 8

    # Recompute centroids from the assignment; every point must then be
    # nearest its own centroid (Lloyd fixed-point property).
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(emb[r["vec_id"]])
    cents = {c: np.mean(vs, axis=0) for c, vs in by_cluster.items()}
    cl_ids = sorted(cents)
    cmat = np.stack([cents[c] for c in cl_ids])
    mismatched = 0
    for r in out:
        d = np.linalg.norm(cmat - emb[r["vec_id"]], axis=1)
        if cl_ids[int(np.argmin(d))] != r["cluster"]:
            mismatched += 1
    # tolerate a convergence-tolerance sliver, not systematic error
    assert mismatched <= max(2, len(out) // 100), mismatched

    again = _kmeans_assignments(spark, sf_dir)
    assert {(r["vec_id"], r["cluster"]) for r in again} == {
        (r["vec_id"], r["cluster"]) for r in out
    }


def test_connected_components_raises_when_budget_too_small(spark):
    # A 5-vertex path needs more than one propagation round. Force the
    # distributed loop (localThreshold=0) — the driver-side union-find
    # would otherwise solve any small graph without iterating.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["doc_a", "doc_b"]
    )
    spark.conf.set("spark.graft.cc.localThreshold", "0")
    try:
        with pytest.raises(RuntimeError, match="converge"):
            connected_components(pairs, max_iter=1)
    finally:
        spark.conf.unset("spark.graft.cc.localThreshold")


def test_connected_components_local_matches_distributed(spark):
    """The size-adaptive local union-find must return exactly the
    distributed star solver's table: same vertices, same min-id
    component labels, singletons equally absent."""
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20), (30, 31)]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    local = {
        (r["doc_id"], r["component"])
        for r in connected_components(pairs).collect()
    }
    spark.conf.set("spark.graft.cc.localThreshold", "0")
    try:
        dist = {
            (r["doc_id"], r["component"])
            for r in connected_components(pairs).collect()
        }
    finally:
        spark.conf.unset("spark.graft.cc.localThreshold")
    assert local == dist
    assert local == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
        (30, 30), (31, 30),
    }


def test_vocab_coverage_broadcasts_vocab_not_tokens(registry_plans):
    """The top-500 vocab joins back as a broadcast; the token stream is
    shuffled only for the per-doc aggregate, never for the join."""
    plan = registry_plans["q_vocab_coverage"].plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_dedup_fuzzy_blocks_before_levenshtein(registry_plans, spark, sf_dir):
    """Candidates come from an equi-join on the block key (linear
    shuffle) — levenshtein never runs across the full cross product."""
    from news_categorization_big_data_spark.plans import REGISTRY

    plan = registry_plans["q_dedup_fuzzy"].plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    rows = REGISTRY["q_dedup_fuzzy"].builder(spark, sf_dir).collect()
    assert len(rows) > 0  # the planted near-dups are found
    assert all(r["edit_dist"] <= 20 for r in rows)


def test_connected_components_string_ids_same_schema_both_paths(spark):
    """Vertex-id dtype is PRESERVED by both solve paths: the local
    union-find derives its output schema from the input (it used to
    hardcode long, so string ids crashed only on the small-graph path
    while the distributed loop preserved them — schema then changed
    with graph SIZE)."""
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    local = connected_components(pairs)
    assert [f.dataType.simpleString() for f in local.schema.fields] == [
        "string",
        "string",
    ]
    got_local = {(r["doc_id"], r["component"]) for r in local.collect()}
    spark.conf.set("spark.graft.cc.localThreshold", "0")
    try:
        dist = connected_components(pairs)
        assert [f.dataType.simpleString() for f in dist.schema.fields] == [
            "string",
            "string",
        ]
        got_dist = {(r["doc_id"], r["component"]) for r in dist.collect()}
    finally:
        spark.conf.unset("spark.graft.cc.localThreshold")
    assert got_local == got_dist
    assert got_local == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
    }
