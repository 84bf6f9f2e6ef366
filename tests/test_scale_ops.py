"""Scale-operator quality tests: LSH candidate recall vs exact Jaccard,
IVF/LSH ANN recall vs brute force, HLL error bound, MLlib-vs-handrolled
dedup agreement (SURVEY.md §5.2.2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from news_categorization_big_data_spark.operators.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
)
from news_categorization_big_data_spark.plans import REGISTRY
from news_categorization_big_data_spark.sources.tables import load_table


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").where(F.col("text") != "")


def test_lsh_candidates_cover_true_near_dups(spark, sf_dir):
    """Recall at the demo setting (k=8, b=2, r=4), asserted at the
    strength the banding curve actually guarantees: a j≈0.98 planted
    dup collides per band with p≈0.92 (miss ≈ 0.6%), so HIGH-j pairs
    must all be recalled — but a borderline j=0.9 pair misses with
    p=(1−0.9⁴)² ≈ 12%, so near-threshold pairs get a recall floor, not
    certainty (sf0.01 contains exactly such a pair). The production
    setting's near-certain full recall is asserted separately in
    test_lsh_production_parameterization."""
    docs = _docs(spark, sf_dir)
    truth = {
        (r.doc_a, r.doc_b): r.jaccard for r in jaccard_pairs(docs, 0.8).collect()
    }
    cands = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(minhash_signatures(docs)).collect()}
    assert truth, "testdata should contain planted near-duplicates"
    high = {p for p, j in truth.items() if j >= 0.95}
    assert high <= cands, f"LSH missed high-similarity pairs: {high - cands}"
    recall = len(set(truth) & cands) / len(truth)
    assert recall >= 0.8, f"overall recall {recall:.0%} below the banding curve"
    # and LSH should not degenerate to all-pairs
    n = docs.count()
    assert len(cands) < n * (n - 1) / 4


def test_lsh_second_parameterization(spark, sf_dir):
    """The (k, bands) knobs must hold at a second, sharper setting
    (k=16, b=4 → r=4, same ≈0.84-ish threshold curve but 4 chances to
    collide): planted j≈0.98 dups still fully recalled, and the
    candidate set stays sub-quadratic. Guards the parameterization path
    the 100-TB configs (k=128, b=16/32) rely on."""
    docs = _docs(spark, sf_dir)
    truth = {
        (r.doc_a, r.doc_b): r.jaccard for r in jaccard_pairs(docs, 0.8).collect()
    }
    sigs = minhash_signatures(docs, k=16)
    cands = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(sigs, k=16, bands=4).collect()
    }
    # full recall asserted where the curve makes a miss negligible
    # (j ≥ 0.95 → per-band p ≥ 0.81, miss ≤ 0.19⁴ ≈ 0.1%); borderline
    # pairs get the same recall floor as the demo setting.
    high = {p for p, j in truth.items() if j >= 0.95}
    assert high <= cands, f"(16,4) LSH missed high-similarity pairs: {high - cands}"
    recall = len(set(truth) & cands) / len(truth)
    assert recall >= 0.8, f"(16,4) recall {recall:.0%}"
    n = docs.count()
    assert len(cands) < n * (n - 1) / 4


def test_lsh_production_parameterization(spark, sf_dir):
    """The documented 100-TB setting (k=128, b=32 → r=4): the banding
    curve gives a planted j≈0.98 pair per-band collision probability
    0.98^4 ≈ 0.92, so P(missed by all 32 bands) ≈ 0.08^32 ≈ 1e-35 —
    full recall is a near-certainty, not a tolerance. This proves the
    Kirsch-Mitzenberger hash family stays non-degenerate at production
    k (the round-2 bug class: a degenerate family collapses all lanes
    to one permutation), and that candidates stay sub-quadratic."""
    docs = _docs(spark, sf_dir)
    truth = {(r.doc_a, r.doc_b) for r in jaccard_pairs(docs, 0.8).collect()}
    sigs = minhash_signatures(docs, k=128)
    cands = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(sigs, k=128, bands=32).collect()
    }
    assert truth, "testdata should contain planted near-duplicates"
    assert truth <= cands, f"(128,32) LSH missed true pairs: {truth - cands}"
    n = docs.count()
    assert len(cands) < n * (n - 1) / 4
    # the family really has 128 distinct lanes (mh0..mh127): a
    # degenerate family (the round-2 bug class) collapses lanes to one
    # permutation, so per-doc distinct minhash values would crater
    for row in sigs.limit(5).collect():
        lanes = [row[f"mh{j}"] for j in range(128)]
        assert len(set(lanes)) > 64, "hash family degenerate at k=128"


def test_mllib_lsh_agrees_on_planted_dups(spark, sf_dir):
    """The registered semi-oracle output: one row per EXACT jaccard≥0.8
    pair, every one flagged as recalled by the MLlib similarity join."""
    truth = {(r.doc_a, r.doc_b) for r in jaccard_pairs(_docs(spark, sf_dir), 0.8).collect()}
    rows = REGISTRY["q_dedup_mllib_lsh"].builder(spark, sf_dir).collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == truth
    assert all(r.mllib_recalled for r in rows), rows


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    brute = [r.vec_id for r in REGISTRY["q_sim_search"].builder(spark, sf_dir).collect()]
    ivf = [r.vec_id for r in REGISTRY["q_sim_ann_ivf"].builder(spark, sf_dir).collect()]
    # the IVF cell holds a fraction of the corpus; require ≥2/5 of its
    # answers to be true top-10 neighbors (recall at reduced scan cost)
    overlap = len(set(ivf) & set(brute))
    assert overlap >= 2, f"IVF recall collapsed: {overlap}/5 in true top-10"


def test_srp_near_dup_subset_of_brute_force(spark, sf_dir):
    """The SRP-LSH near-dup answer must be exactly (brute-force pairs ∩
    SRP candidates): every reported pair is a true ≥-threshold pair (no
    false positives — cosine is verified exactly on candidates), and
    recall follows the banding curve. Brute force is the TEST oracle;
    the registered plan never does all-pairs work."""
    from news_categorization_big_data_spark.operators.similarity import (
        cosine,
        embedding_near_dup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    sim = cosine("emb_a", "emb_b")
    brute = {
        (r.vec_a, r.vec_b)
        for r in a.join(b, F.col("vec_a") < F.col("vec_b")).where(sim >= 0.35)
        .select("vec_a", "vec_b").collect()
    }
    srp = {(r.vec_a, r.vec_b) for r in embedding_near_dup_pairs(emb, 0.35).collect()}
    assert srp <= brute, f"SRP produced false positives: {srp - brute}"
    assert brute, "corpus should contain ≥-threshold pairs"
    # 0.35 is a stress threshold (θ ≈ 70°): expected recall ≈ 0.45 with
    # 16 bits / 4 bands. Require the observed recall in a loose band
    # around the theory — a collapse to ~0 or an explosion to all-pairs
    # would both indicate broken banding.
    recall = len(srp) / len(brute)
    assert 0.2 <= recall <= 0.9, f"SRP recall {recall:.2f} off the banding curve"


def test_hll_error_bound(spark, sf_dir):
    """The raw HLL++ estimate stays within 5% of exact (the bound the
    q_group_approx semi-oracle pins as a driver-hashed boolean), and
    the registered query's verdict/exact columns agree with a direct
    computation."""
    ev = load_table(spark, sf_dir, "events")
    approx = {
        r.event_type: r.approx
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("approx"))
        .collect()
    }
    exact = {
        r.event_type: r.exact
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact")).collect()
    }
    for key, exact_n in exact.items():
        rel_err = abs(approx[key] - exact_n) / max(exact_n, 1)
        assert rel_err < 0.05, f"{key}: HLL rel err {rel_err:.3f}"
    rows = REGISTRY["q_group_approx"].builder(spark, sf_dir).collect()
    assert {r.event_type for r in rows} == set(exact)
    for r in rows:
        assert r.exact_users == exact[r.event_type]
        assert r.within_rsd_bound is True, r


def test_jaccard_persist_sets_path_output_identical(spark, sf_dir):
    """The documented 100-TB parameterization ``persist_sets=True``
    (materialize the (id, sz, sorted-hash-set) table once instead of
    recomputing it for the prefix-explode and both verify sides) must be
    a pure physical choice: byte-identical pairs to the default path."""
    docs = _docs(spark, sf_dir)
    default = {tuple(r) for r in jaccard_pairs(docs, 0.8).collect()}
    persisted = {
        tuple(r) for r in jaccard_pairs(docs, 0.8, persist_sets=True).collect()
    }
    assert default == persisted
    assert default, "testdata should contain planted near-duplicates"


def test_registered_cc_distributed_path_output_identical(spark, sf_dir):
    """Force the REGISTERED near-dup cluster query through the
    distributed star solver (spark.graft.cc.localThreshold=0) and
    assert the exact same clusters as the default driver union-find
    path — the scale path must be a physical choice, not a semantic
    one, on the real LSH pair lineage (not just synthetic edges)."""
    build = REGISTRY["q_dedup_near"].builder
    default = {tuple(r) for r in build(spark, sf_dir).collect()}
    spark.conf.set("spark.graft.cc.localThreshold", "0")
    try:
        distributed = {tuple(r) for r in build(spark, sf_dir).collect()}
    finally:
        spark.conf.unset("spark.graft.cc.localThreshold")
    assert default == distributed
    assert default


def test_sliding_distinct_hll_tracks_exact(spark, sf_dir):
    """The documented extreme-scale swap for q_sliding_distinct: per-day
    HLL sketches merged across windows must track the exact operator
    within standard HLL error on every window."""
    from news_categorization_big_data_spark.operators.olap import (
        sliding_distinct_hll,
    )
    from news_categorization_big_data_spark.plans import REGISTRY
    from news_categorization_big_data_spark.sources.tables import load_table

    exact = {
        r["win_start"]: r["n_users"]
        for r in REGISTRY["q_sliding_distinct"].builder(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    approx = {
        r["win_start"]: r["n_users_approx"]
        for r in sliding_distinct_hll(ev).collect()
    }
    assert set(approx) == set(exact)
    for w, n in exact.items():
        # lg_k=14 → ~0.8% standard error; allow 5 sigma plus small-count slack
        assert abs(approx[w] - n) <= max(4.0, 0.05 * n), (w, approx[w], n)


def test_banded_pairs_skew_cap(spark):
    """Planted hot bucket: a template-sludge cluster of m identical
    signatures lands in one band bucket and must NOT emit O(m^2) pairs
    when the cap is below m, while an organic near-dup pair in a small
    bucket survives untouched. This is the round-6 VERDICT scale
    finding: without the cap one reducer task goes quadratic on a
    boilerplate cluster."""
    from news_categorization_big_data_spark.operators.dedup import banded_pairs

    sludge = [(f"s{i:03d}", 7, 7) for i in range(6)]  # one bucket, m=6
    organic = [("a001", 1, 2), ("a002", 1, 3)]  # share band 0 only
    loner = [("z001", 5, 6)]
    df = spark.createDataFrame(
        sludge + organic + loner, "doc_id string, k0 int, k1 int"
    )
    keys = [F.col("k0").cast("string"), F.col("k1").cast("string")]

    uncapped = {
        (r.doc_a, r.doc_b)
        for r in banded_pairs(df, keys, "doc_id", "doc_a", "doc_b").collect()
    }
    assert ("a001", "a002") in uncapped
    assert sum(1 for a, b in uncapped if a.startswith("s")) == 6 * 5 // 2

    capped = {
        (r.doc_a, r.doc_b)
        for r in banded_pairs(
            df, keys, "doc_id", "doc_a", "doc_b", max_df=5
        ).collect()
    }
    # the hot bucket (6 > 5) is dropped whole; the organic pair survives
    assert capped == {("a001", "a002")}

    # cap exactly at the bucket size: nothing is dropped
    at_size = {
        (r.doc_a, r.doc_b)
        for r in banded_pairs(
            df, keys, "doc_id", "doc_a", "doc_b", max_df=6
        ).collect()
    }
    assert at_size == uncapped


def test_containment_pairs_skew_cap(spark):
    """Planted boilerplate cluster for containment_pairs (round-9
    VERDICT decade follow-up): m identical template docs make EVERY one
    of their shingle hashes reach df = m on the index side; with
    max_df < m those hashes are dropped whole (the HAVING df <= cap
    filter removes the hash, capping BOTH join sides, since probe
    postings are a subset of index postings per hash) and the cluster
    emits ZERO pairs instead of m*(m-1). An organic contained pair in a
    small bucket survives untouched, and cap == m restores everything —
    the same three-point contract as test_banded_pairs_skew_cap."""
    from news_categorization_big_data_spark.operators.dedup import containment_pairs

    sludge_text = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    organic_a = "alpha beta gamma delta epsilon"
    organic_b = organic_a + " zeta eta theta iota kappa lambda mu nu xi omicron"
    rows = [(f"s{i:03d}", sludge_text) for i in range(6)]
    rows += [("a001", organic_a), ("b001", organic_b)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    def pairs(max_df):
        return {
            (r.doc_a, r.doc_b)
            for r in containment_pairs(docs, 90, max_df=max_df).collect()
        }

    uncapped = pairs(None)
    assert ("a001", "b001") in uncapped  # A's shingles all inside B
    assert ("b001", "a001") not in uncapped  # containment is asymmetric
    assert sum(1 for a, _ in uncapped if a.startswith("s")) == 6 * 5

    # cap below the cluster: the hot hashes drop whole, organic survives
    assert pairs(5) == {("a001", "b001")}
    # cap exactly at the cluster df: nothing is dropped
    assert pairs(6) == uncapped


def test_jaccard_pairs_skew_cap(spark):
    """Planted boilerplate cluster for jaccard_pairs: m identical
    template docs share every prefix hash, so each of their prefix
    buckets holds m docs; with max_df < m those buckets drop whole and
    the cluster emits ZERO pairs instead of m*(m-1)/2. An organic
    near-duplicate pair (J >= 0.8) in small buckets survives untouched,
    and cap == m restores everything — the same three-point contract as
    test_banded_pairs_skew_cap."""
    sludge_text = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    organic = " ".join(f"w{i}" for i in range(20))
    rows = [(f"s{i:03d}", sludge_text) for i in range(6)]
    rows += [("a001", organic), ("a002", organic + " tail")]  # J = 18/19
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    def pairs(max_df):
        return {
            (r.doc_a, r.doc_b)
            for r in jaccard_pairs(docs, 0.8, max_df=max_df).collect()
        }

    uncapped = pairs(None)
    assert ("a001", "a002") in uncapped
    assert sum(1 for a, _ in uncapped if a.startswith("s")) == 6 * 5 // 2

    # cap below the cluster: its prefix buckets drop whole, organic survives
    assert pairs(5) == {("a001", "a002")}
    # cap exactly at the cluster size: nothing is dropped
    assert pairs(6) == uncapped


def test_lsh_candidate_pairs_none_means_uncapped(spark):
    """lsh_candidate_pairs' max_df semantics, shared by the LSH family
    (ADVICE round 7): the SIGNATURE default is LSH_MAX_DF, and an
    explicit None means UNCAPPED — not silently re-resolved to the
    default, which made the cap impossible to disable."""
    import inspect

    from news_categorization_big_data_spark.operators.dedup import LSH_MAX_DF

    assert (
        inspect.signature(lsh_candidate_pairs).parameters["max_df"].default
        is LSH_MAX_DF
    )
    # five identical docs -> one 5-member bucket in every band
    docs = spark.createDataFrame(
        [(i, "the same five words here") for i in range(5)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs)
    n_all = 5 * 4 // 2
    assert lsh_candidate_pairs(sigs, max_df=None).count() == n_all
    assert lsh_candidate_pairs(sigs).count() == n_all  # 10k cap: no bind
    assert lsh_candidate_pairs(sigs, max_df=4).count() == 0  # cap binds


def test_lsh_probe_pairs_skew_cap_consistency(spark, sf_dir):
    """lsh_probe_pairs' contract is output-equivalence with filtering
    lsh_candidate_pairs to probe-touching rows — that must keep holding
    with the shared skew cap active on both paths, including a cap
    small enough to actually bind on this corpus."""
    from news_categorization_big_data_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_probe_pairs,
        minhash_signatures,
    )

    docs = _docs(spark, sf_dir)
    sigs = minhash_signatures(docs)
    probes = sigs.withColumn("is_probe", F.col("doc_id") % 3 == 0)
    for cap in (2, 10_000):
        full = {
            (r.doc_a, r.doc_b)
            for r in lsh_candidate_pairs(sigs, max_df=cap).collect()
        }
        probe_ids = {
            r.doc_id for r in probes.where("is_probe").select("doc_id").collect()
        }
        want = {
            (a, b) for a, b in full if a in probe_ids or b in probe_ids
        }
        got = {
            (r.doc_a, r.doc_b)
            for r in lsh_probe_pairs(probes, max_df=cap).collect()
        }
        assert got == want, f"cap={cap}: probe path diverged from filtered full path"
