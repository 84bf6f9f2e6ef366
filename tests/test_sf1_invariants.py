"""Engine-side sf1 invariants for the three oracle-infeasible queries
(r14 VERDICT item 3).

The round-14 sf1 oracle sweep proved 281/284 at the decade point but
had to exclude q_graph_pagerank / q_graph_bfs (DuckDB recursive-CTE
oracles spill >80 GB at sf1) and q_simhash_hamming (its brute-force
oracle is quadratic by design). Those exclusions were prose notes;
these tests replace them with structural invariants that hold at sf1
WITHOUT a cross-engine oracle:

- pagerank: exact rank-mass conservation (total rank stays 1 with no
  dangling vertices) and the damping recurrence itself — the K-th
  registered output must equal one hand-applied iteration over the
  (K-1)-iteration output on the same edge table;
- BFS: seed correctness, the unit-edge triangle inequality over EVERY
  edge of the distance table, and predecessor existence (every hop-k
  vertex has a hop-(k-1) neighbor) — together these pin the distance
  table exactly given the seed set;
- simhash: pigeonhole banding losslessness proven against an in-Python
  exact popcount on a deterministic sample of REAL sf1 sketches (the
  full corpus is what makes the DuckDB oracle quadratic; losslessness
  is a per-pair property, so a sampled sketch table exercises it on
  genuine sf1 sketch geometry at test cost).

The /tmp/sf1 fixture is built on demand from the read-only sf0.1
testdata (tools/fixtures.py ensure_sf1 — the same build-if-absent
bench.py uses); tests skip only if the build itself fails.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from news_categorization_big_data_spark.plans import REGISTRY
from news_categorization_big_data_spark.sources.tables import load_table
from tools.fixtures import ensure_sf1


@pytest.fixture(scope="module")
def sf1_dir() -> str:
    d = ensure_sf1(os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1"))
    if d is None:
        pytest.skip("sf1 fixture unavailable and could not be built")
    return d


# ---- pagerank ------------------------------------------------------------


def _sf1_edges(spark, sf1_dir):
    from news_categorization_big_data_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = load_table(spark, sf1_dir, "documents").where(F.col("text") != "")
    pairs = lsh_candidate_pairs(minhash_signatures(docs)).select("doc_a", "doc_b")
    return pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )


def test_pagerank_sf1_mass_conservation_and_floor(spark, sf1_dir):
    """With every vertex of the undirected pair graph at degree >= 1
    there are no dangling vertices, so each iteration preserves total
    rank: sum_k = 0.15 + 0.85 * sum_{k-1} with sum_0 = 1 -> total rank
    is EXACTLY 1 up to float accumulation, and every vertex keeps at
    least its damping floor 0.15/n."""
    r = REGISTRY["q_graph_pagerank"].builder(spark, sf1_dir)
    agg = r.agg(
        F.sum("rank").alias("total"),
        F.min("rank").alias("mn"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert agg.n > 0
    assert abs(agg.total - 1.0) < 1e-9 * agg.n
    assert agg.mn >= 0.15 / agg.n - 1e-12


def test_pagerank_sf1_damping_recurrence(spark, sf1_dir, monkeypatch):
    """The registered K-iteration output must equal ONE hand-applied
    damping iteration over the registered (K-1)-iteration output on the
    same edge/degree tables — the recurrence the DuckDB oracle proves
    at sf0.01, re-proven at sf1 by the engine against itself. Exact
    equality: the per-edge contribution is the identical IEEE division,
    the per-vertex sum is decimal(38,12) (order-free), and the damping
    arithmetic is the same double expression."""
    from news_categorization_big_data_spark.plans import corpus as corpus_mod

    k = corpus_mod.PR_ITERS
    assert k >= 1
    monkeypatch.setattr(corpus_mod, "PR_ITERS", k - 1)
    r_prev = REGISTRY["q_graph_pagerank"].builder(spark, sf1_dir)
    monkeypatch.setattr(corpus_mod, "PR_ITERS", k)
    r_full = REGISTRY["q_graph_pagerank"].builder(spark, sf1_dir)

    ed = _sf1_edges(spark, sf1_dir)
    dg = ed.groupBy("src").agg(F.count("*").alias("deg"))
    n_v = r_prev.count()
    stepped = (
        ed.join(
            r_prev.hint("shuffle_hash"), ed["src"] == r_prev["doc_id"]
        )
        .join(dg.hint("shuffle_hash"), "src")
        .select(
            F.col("dst").alias("doc_id"),
            (F.col("rank") / F.col("deg")).cast("decimal(38,12)").alias("c"),
        )
        .groupBy("doc_id")
        .agg(F.sum("c").cast("double").alias("s"))
        .select(
            "doc_id",
            (F.lit(0.15) / F.lit(float(n_v)) + F.lit(0.85) * F.col("s")).alias(
                "rank"
            ),
        )
    )
    diff = (
        r_full.select("doc_id", F.col("rank").alias("r_a"))
        .join(stepped.select("doc_id", F.col("rank").alias("r_b")), "doc_id",
              "full_outer")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                (F.col("r_a").isNull() | F.col("r_b").isNull()).cast("int")
            ).alias("missing"),
            F.max(F.abs(F.col("r_a") - F.col("r_b"))).alias("mx"),
        )
        .collect()[0]
    )
    assert diff.missing == 0, f"{diff.missing}/{diff.n} vertices unmatched"
    assert diff.mx == 0.0


# ---- BFS -----------------------------------------------------------------


def test_bfs_sf1_distance_table_exact(spark, sf1_dir):
    """Three structural facts pin the BFS output exactly given the
    seeds: (a) the hop-0 set IS the md5-smallest seed set; (b) unit-
    edge triangle inequality |d(u)-d(v)| <= 1 for every edge with both
    endpoints reached, and no reached->unreached edge where the
    reached endpoint has hop < BFS_HOPS (frontier exhaustion); (c)
    every hop-k>0 vertex has a hop-(k-1) in-neighbor (reachability —
    no invented distances)."""
    from news_categorization_big_data_spark.plans.features import (
        BFS_HOPS,
        BFS_SEEDS,
    )

    dist = REGISTRY["q_graph_bfs"].builder(spark, sf1_dir)
    dist = dist.localCheckpoint(eager=False)
    ed = _sf1_edges(spark, sf1_dir).localCheckpoint(eager=False)

    # (a) seeds: md5-smallest BFS_SEEDS vertices sit at hop 0
    verts = ed.select(F.col("src").alias("doc_id")).distinct()
    seeds = {
        r.doc_id
        for r in verts.select(
            "doc_id", F.md5(F.col("doc_id").cast("string")).alias("_h")
        )
        .orderBy("_h", "doc_id")
        .limit(BFS_SEEDS)
        .collect()
    }
    hop0 = {r.doc_id for r in dist.where(F.col("hops") == 0).collect()}
    assert hop0 == seeds

    rng = dist.agg(F.min("hops"), F.max("hops")).collect()[0]
    assert rng[0] == 0 and rng[1] <= BFS_HOPS

    # (b) every edge: reached endpoints differ by <= 1 hop, and an edge
    # from a vertex at hop < BFS_HOPS cannot point at an unreached one.
    da = dist.select(F.col("doc_id").alias("src"), F.col("hops").alias("h_src"))
    db = dist.select(F.col("doc_id").alias("dst"), F.col("hops").alias("h_dst"))
    annotated = ed.join(da, "src", "left").join(db.hint("shuffle_hash"), "dst", "left")
    bad = annotated.where(
        (
            F.col("h_src").isNotNull()
            & F.col("h_dst").isNotNull()
            & (F.abs(F.col("h_src") - F.col("h_dst")) > 1)
        )
        | (
            F.col("h_src").isNotNull()
            & (F.col("h_src") < BFS_HOPS)
            & F.col("h_dst").isNull()
        )
    ).count()
    assert bad == 0

    # (c) predecessor existence for every hop-k>0 vertex
    succ = annotated.where(
        F.col("h_src").isNotNull() & F.col("h_dst").isNotNull()
        & (F.col("h_dst") == F.col("h_src") + 1)
    ).select(F.col("dst").alias("doc_id")).distinct()
    orphans = (
        dist.where(F.col("hops") > 0)
        .join(succ, "doc_id", "left_anti")
        .count()
    )
    assert orphans == 0


# ---- simhash -------------------------------------------------------------


def test_simhash_sf1_banding_lossless_vs_python_popcount(spark, sf1_dir):
    """Pigeonhole banding losslessness on REAL sf1 sketches: on a
    deterministic ~2k-doc sample of the full sf1 sketch table, the
    banded+verified operator output must equal the exact all-pairs
    popcount computed in Python. Losslessness is per-pair (bands >
    max_distance guarantees a clean block for ANY qualifying pair), so
    the sampled table exercises the property on genuine sf1 sketch
    geometry while keeping the brute-force side ~2M popcounts."""
    from news_categorization_big_data_spark.operators.dedup import (
        simhash,
        simhash_hamming_pairs,
    )
    from news_categorization_big_data_spark.plans.dedup import (
        SIMHASH_HAMMING_BITS,
        SIMHASH_HAMMING_D,
    )

    docs = load_table(spark, sf1_dir, "documents").where(F.col("text") != "")
    sk = simhash(docs, bits=SIMHASH_HAMMING_BITS)
    # deterministic ~1/25 sample by md5 of the doc id
    sample = sk.where(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 25 == 0
    ).localCheckpoint(eager=False)

    rows = sample.collect()
    assert 500 <= len(rows) <= 10_000, len(rows)
    exact = set()
    sketches = [(r.doc_id, r.simhash) for r in rows]
    for i in range(len(sketches)):
        ida, sa = sketches[i]
        for j in range(i + 1, len(sketches)):
            idb, sb = sketches[j]
            if bin(sa ^ sb).count("1") <= SIMHASH_HAMMING_D:
                a, b = (ida, idb) if ida < idb else (idb, ida)
                exact.add((a, b, bin(sa ^ sb).count("1")))

    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_hamming_pairs(
            sample,
            max_distance=SIMHASH_HAMMING_D,
            bits=SIMHASH_HAMMING_BITS,
        ).collect()
    }
    assert got == exact
