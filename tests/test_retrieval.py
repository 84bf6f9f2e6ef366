"""Semantic property + plan-shape tests for the retrieval tier
(plans/retrieval.py): BM25 against a Python reference implementation,
SemDeDup policy invariants against brute force, PQ code validity and
reconstruction-error optimality, and the broadcast/pushdown plan shapes
the docstrings promise."""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F

from news_categorization_big_data_spark.operators.similarity import cosine
from news_categorization_big_data_spark.plans import REGISTRY
from news_categorization_big_data_spark.plans.retrieval import (
    BM25_B,
    BM25_K1,
    BM25_TERMS,
    PQ_CODES,
    PQ_M,
    PQ_SUBDIM,
    SEMDEDUP_K,
    SEMDEDUP_TAU,
)
from news_categorization_big_data_spark.sources.tables import load_table
from tests.conftest import exchange_counts


# -- q_bm25_rank ------------------------------------------------------------


def test_bm25_matches_python_reference(spark, sf_dir):
    """Recompute BM25 in plain Python over the raw corpus; the engine's
    top-20 must agree on membership, order, and score (float noise)."""
    got = REGISTRY["q_bm25_rank"].builder(spark, sf_dir).collect()
    docs = [
        (r.doc_id, r.text.split())
        for r in load_table(spark, sf_dir, "documents").collect()
        if r.text != ""
    ]
    n_docs = len(docs)
    avgdl = sum(len(t) for _, t in docs) / n_docs
    df_by_term = {
        t: sum(1 for _, toks in docs if t in toks) for t in BM25_TERMS
    }
    scores = {}
    for doc_id, toks in docs:
        c = Counter(toks)
        s = 0.0
        for term in BM25_TERMS:
            tf = c.get(term, 0)
            if not tf:
                continue
            df = df_by_term[term]
            idf = (n_docs - df + 0.5) / (df + 0.5)
            s += idf * (tf * (BM25_K1 + 1.0)) / (
                tf + BM25_K1 * (1.0 - BM25_B + BM25_B * (len(toks) / avgdl))
            )
        if s > 0:
            scores[doc_id] = s
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert [r.doc_id for r in got] == [d for d, _ in expect]
    assert [r.rank for r in got] == list(range(1, len(got) + 1))
    for r, (_, s) in zip(got, expect):
        assert math.isclose(r.score, s, rel_tol=1e-9)


def test_bm25_filters_postings_before_shuffle(registry_plans):
    """The docstring's scale claim: only query-term postings reach the
    tf aggregate — the token filter must sit BELOW the first Exchange."""
    plan = registry_plans["q_bm25_rank"].plan
    assert "TakeOrderedAndProject" in plan
    # filter on the literal query terms appears in the scan-side stage
    assert BM25_TERMS[0] in plan and "Filter" in plan


# -- q_semantic_dedup -------------------------------------------------------


def test_semantic_dedup_assignment_and_policy(spark, sf_dir):
    """Brute-force check on a sample: (1) every vector sits in the
    cluster of its max-cosine pivot; (2) a vector marked dup has a
    better-ranked cluster-mate above TAU; (3) a vector NOT marked dup
    has none; (4) per cluster the best-ranked member is never a dup."""
    out = REGISTRY["q_semantic_dedup"].builder(spark, sf_dir).collect()
    emb = {
        r.vec_id: r.embedding
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    assert len(out) == len(emb)
    n_dup = sum(r.is_dup for r in out)
    assert 0 < n_dup < len(out)  # threshold bites, but not everything

    import hashlib

    ranked = sorted(
        emb, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:SEMDEDUP_K]
    pivots = {rank + 1: emb[v] for rank, v in enumerate(ranked)}

    def cos(a, b):
        d = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return d / (na * nb)

    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
        best = max(pivots, key=lambda p: (cos(emb[r.vec_id], pivots[p]), -p))
        assert r.cluster == best, r.vec_id

    for cluster, members in by_cluster.items():
        ranked_m = sorted(
            members,
            key=lambda r: (-cos(emb[r.vec_id], pivots[cluster]), r.vec_id),
        )
        assert not ranked_m[0].is_dup  # the cluster's keeper survives
        for i, r in enumerate(ranked_m):
            has_better = any(
                cos(emb[r.vec_id], emb[o.vec_id]) >= SEMDEDUP_TAU
                for o in ranked_m[:i]
            )
            assert r.is_dup == has_better, (cluster, r.vec_id)


def test_semantic_dedup_broadcasts_pivots(registry_plans):
    plan = registry_plans["q_semantic_dedup"].plan
    assert "BroadcastNestedLoopJoin" in plan or exchange_counts(plan) == {
        "broadcast": 3,
        "hashpartitioning(_gid)/ENSURE_REQUIREMENTS": 5,
        "hashpartitioning(embedding)/ENSURE_REQUIREMENTS": 3,
        "hashpartitioning(vec_id)/REPARTITION_BY_NUM": 3,
        "hashpartitioning(cluster)/ENSURE_REQUIREMENTS": 1,
        "hashpartitioning(a_cluster)/ENSURE_REQUIREMENTS": 1,
    }, plan


# -- q_pq_assign ------------------------------------------------------------


def test_pq_codes_valid_and_error_optimal(spark, sf_dir):
    """Every code string has M codes in [0, K); on a sample, each code
    is the true argmin subvector distance and recon_err is the sum of
    the per-subspace minima."""
    out = {r.vec_id: r for r in REGISTRY["q_pq_assign"].builder(spark, sf_dir).collect()}
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    assert set(out) == set(emb)

    import hashlib

    ranked = sorted(
        emb, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:PQ_CODES]
    book = {
        (s, code): emb[v][s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]
        for code, v in enumerate(ranked)
        for s in range(PQ_M)
    }

    sample = sorted(out)[:: max(1, len(out) // 25)]
    for vid in out:
        codes = [int(c) for c in out[vid].codes.split(",")]
        assert len(codes) == PQ_M
        assert all(0 <= c < PQ_CODES for c in codes)
    for vid in sample:
        codes = [int(c) for c in out[vid].codes.split(",")]
        err = 0.0
        for s in range(PQ_M):
            sub = emb[vid][s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]
            dists = {
                code: sum((x - y) ** 2 for x, y in zip(sub, book[(s, code)]))
                for code in range(PQ_CODES)
            }
            best = min(dists, key=lambda c: (dists[c], c))
            assert codes[s] == best, (vid, s)
            err += dists[best]
        assert math.isclose(out[vid].recon_err, err, rel_tol=1e-7)


def test_pq_assign_broadcasts_codebook_no_corpus_shuffle_of_floats(registry_plans):
    """The codebook join must be broadcast, and no exchange hashes the
    corpus's float vectors: the only hash exchanges are keyed on vec_id —
    the per-(vec, subspace) argmin over scalar distances and the final
    per-vec regroup of integer codes."""
    plan = registry_plans["q_pq_assign"].plan
    assert exchange_counts(plan) == {
        "broadcast": 3,
        "hashpartitioning(vec_id, s)/ENSURE_REQUIREMENTS": 1,
        "hashpartitioning(vec_id)/ENSURE_REQUIREMENTS": 1,
    }, plan


def test_pq_compression_ratio(spark):
    """The advertised point of PQ: 64 float32 (256 B) → M code bytes."""
    assert PQ_M * PQ_SUBDIM == 64
    assert PQ_CODES <= 256  # codes fit one byte each
