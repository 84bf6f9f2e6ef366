"""Property + plan-shape tests for the round-6 registration batch
(the round-7 ROTATION_PENDING set): deterministic reservoir sample,
token rarity, schema-evolution union, neighbor Jaccard, compaction
bin-packing, 2-D histogram. Same pattern as tests/test_round4_plans.py:
each query's docstring promises a plan shape; these pin it."""

from __future__ import annotations

from collections import defaultdict

from news_categorization_big_data_spark.plans import REGISTRY
from news_categorization_big_data_spark.plans.sampling import RESERVOIR_K
from news_categorization_big_data_spark.plans.text import RARITY_CAP_MILLI
from news_categorization_big_data_spark.sources.tables import load_table
from tests.conftest import assert_map_only, exchange_counts


# ---- q_sample_reservoir --------------------------------------------------


def test_reservoir_exact_k_and_stable(spark, sf_dir):
    df = REGISTRY["q_sample_reservoir"].builder(spark, sf_dir)
    a = sorted(r["doc_id"] for r in df.collect())
    b = sorted(r["doc_id"] for r in df.collect())
    assert len(a) == RESERVOIR_K
    assert a == b  # same salt -> same sample, run to run


def test_reservoir_is_top_k_not_global_sort(registry_plans):
    plan = registry_plans["q_sample_reservoir"].plan
    # per-partition heap + driver merge; a global Sort+Exchange would be
    # the scale-killer the docstring rules out
    assert "TakeOrderedAndProject" in plan, plan
    assert exchange_counts(plan) == {}, plan


# ---- q_token_rarity ------------------------------------------------------


def test_token_rarity_bounds(spark, sf_dir):
    rows = REGISTRY["q_token_rarity"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_tokens"] >= 1
        # every token appears >= once, so rarity in [1000, cap] milli
        assert 1000 <= r["mean_rarity_milli"] <= RARITY_CAP_MILLI, r


def test_token_rarity_covers_every_tokenizable_doc(spark, sf_dir):
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    n_tokenizable = (
        docs.where(F.lower("text").rlike("[a-z]")).count()
    )
    n_scored = REGISTRY["q_token_rarity"].builder(spark, sf_dir).count()
    assert n_scored == n_tokenizable


# ---- q_union_by_name -----------------------------------------------------


def test_union_by_name_fills_missing_with_null(spark, sf_dir):
    rows = REGISTRY["q_union_by_name"].builder(spark, sf_dir).collect()
    by_era = defaultdict(list)
    for r in rows:
        by_era[r["era"]].append(r)
    assert by_era["v1"] and by_era["v2"]
    assert all(r["priority"] is None for r in by_era["v1"])
    assert all(r["priority"] is not None for r in by_era["v2"])
    # by-name matching: prices stayed prices (a positional union would
    # have written v2 priorities into the price column)
    assert all(isinstance(r["price"], float) for r in rows)


def test_union_by_name_no_shuffle(registry_plans):
    plan = registry_plans["q_union_by_name"].plan
    assert exchange_counts(plan) == {}, plan


# ---- q_graph_jaccard_neighbors -------------------------------------------


def test_jaccard_neighbors_bounds_and_ordering(spark, sf_dir):
    rows = REGISTRY["q_graph_jaccard_neighbors"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["type_a"] < r["type_b"]
        assert 1 <= r["n_common"]
        assert 0 < r["jaccard_ppm"] <= 1_000_000
    # each unordered pair appears at most once
    pairs = [(r["type_a"], r["type_b"]) for r in rows]
    assert len(pairs) == len(set(pairs))


def test_jaccard_neighbors_broadcasts_degrees(registry_plans):
    plan = registry_plans["q_graph_jaccard_neighbors"].plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


# ---- q_compaction_bins ---------------------------------------------------


def test_compaction_bins_conserve_rows_and_are_contiguous(spark, sf_dir):
    import pyspark.sql.functions as F

    rows = REGISTRY["q_compaction_bins"].builder(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    total = orders.count()
    assert sum(r["bin_rows"] for r in rows) == total
    by_part = defaultdict(list)
    for r in rows:
        by_part[r["part_month"]].append(r)
    for part, bins in by_part.items():
        ids = sorted(b["bin"] for b in bins)
        assert ids == list(range(len(ids))), (part, ids)
        # sorted-fill: every bin a later bin follows was filled past the
        # point where the NEXT file would start a new bin, so all bins
        # except the partition's last hold >= target rows unless a
        # single file overflowed the boundary (file > target allowed)
        for b in sorted(bins, key=lambda x: x["bin"])[:-1]:
            assert b["bin_rows"] >= 1


# ---- q_histogram2d -------------------------------------------------------


def test_histogram2d_conserves_counts_and_shares(spark, sf_dir):
    rows = REGISTRY["q_histogram2d"].builder(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    assert sum(r["n"] for r in rows) == orders.count()
    share = sum(r["share_ppm"] for r in rows)
    # floor division loses < 1 ppm per cell
    assert 1_000_000 - len(rows) <= share <= 1_000_000
    for r in rows:
        assert 1 <= r["month_bin"] <= 12


def test_histogram2d_total_is_broadcast(registry_plans):
    plan = registry_plans["q_histogram2d"].plan
    assert "Broadcast" in plan, plan


# ---- q_dedup_prefix ------------------------------------------------------


def test_dedup_prefix_groups_are_real_dups(spark, sf_dir):
    import pyspark.sql.functions as F

    rows = REGISTRY["q_dedup_prefix"].builder(spark, sf_dir).collect()
    by_canon = defaultdict(list)
    for r in rows:
        assert r["group_size"] >= 2
        assert r["canonical_id"] <= r["doc_id"]
        by_canon[r["canonical_id"]].append(r)
    for canon, members in by_canon.items():
        # canonical is a member of its own group
        assert any(r["doc_id"] == canon for r in members)
        assert all(r["group_size"] == len(members) for r in members)
    # all grouped docs share the normalized prefix with their canonical
    if rows:
        docs = {
            r["doc_id"]: r["p"]
            for r in load_table(spark, sf_dir, "documents")
            .select(
                "doc_id",
                F.substring(
                    F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), 1, 64
                ).alias("p"),
            )
            .collect()
        }
        for r in rows:
            assert docs[r["doc_id"]] == docs[r["canonical_id"]]


# ---- q_label_centroids ---------------------------------------------------


def test_label_centroids_full_grid_and_counts(spark, sf_dir):
    rows = REGISTRY["q_label_centroids"].builder(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    n_labels = emb.select("label").distinct().count()
    dims = {r["dim"] for r in rows}
    assert dims == set(range(64))
    assert len(rows) == n_labels * 64
    # per-label vector counts are constant across dims and sum to the table
    by_label = defaultdict(set)
    for r in rows:
        by_label[r["label"]].add(r["n_vecs"])
    assert all(len(v) == 1 for v in by_label.values())
    assert sum(next(iter(v)) for v in by_label.values()) == emb.count()


def test_token_rarity_never_broadcasts_the_token_stream(registry_plans):
    """Catalyst's default estimate broadcasts the EXPLODED token stream
    into the vocab join (the rar side's cross-join lineage defeats its
    stats) — corpus-sized broadcast, the classic scale inversion. The
    shuffle_hash hint pins the ShuffledHashJoin shape."""
    plan = registry_plans["q_token_rarity"].plan
    assert "ShuffledHashJoin" in plan, plan
    # the only broadcast left is the one-row total joined into vocab
    assert "BroadcastNestedLoopJoin" in plan, plan


# ---- q_stream_trending ---------------------------------------------------


def test_stream_trending_topk_per_window(spark, sf_dir):
    rows = REGISTRY["q_stream_trending"].builder(spark, sf_dir).collect()
    assert rows
    by_w = defaultdict(list)
    for r in rows:
        by_w[r["window_start"]].append(r)
    for w, items in by_w.items():
        rnks = sorted(r["rnk"] for r in items)
        assert rnks == list(range(1, len(rnks) + 1)) and len(rnks) <= 3
        ordered = sorted(items, key=lambda r: r["rnk"])
        for a, b in zip(ordered, ordered[1:]):
            assert (a["cnt"], b["event_type"]) >= (b["cnt"], a["event_type"])


# ---- q_rank_normalize ----------------------------------------------------


def test_rank_normalize_cdf_properties(spark, sf_dir):
    rows = REGISTRY["q_rank_normalize"].builder(spark, sf_dir).collect()
    by_t = defaultdict(list)
    for r in rows:
        by_t[r["event_type"]].append(r)
    assert set(by_t) == {"click", "purchase"}
    for t, vals in by_t.items():
        vals.sort(key=lambda r: r["value"])
        n = sum(r["cnt"] for r in vals)
        assert vals[0]["norm_ppm"] == 0
        assert vals[-1]["norm_ppm"] == ((n - vals[-1]["cnt"]) * 1_000_000) // (n - 1)
        run = 0
        for r in vals:
            assert r["n_below"] == run
            run += r["cnt"]
        ppms = [r["norm_ppm"] for r in vals]
        assert ppms == sorted(ppms)  # monotone in value


def test_rank_normalize_window_rides_distinct_values(registry_plans):
    plan = registry_plans["q_rank_normalize"].plan
    # the aggregate runs BELOW the window: sort cost is bounded by
    # distinct-value cardinality, not raw event count
    agg_pos = plan.rfind("HashAggregate")
    win_pos = plan.find("Window")
    assert win_pos != -1 and agg_pos > win_pos, plan


# ---- q_char_classes ------------------------------------------------------


def test_char_classes_partition_and_simpson_bounds(spark, sf_dir):
    rows = REGISTRY["q_char_classes"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert (
            r["n_alpha"] + r["n_digit"] + r["n_space"] + r["n_other"]
            == r["n_chars"]
        )
        assert all(
            r[c] >= 0 for c in ("n_alpha", "n_digit", "n_space", "n_other")
        )
        # Simpson over 4 classes: uniform -> 250000 ppm, pure -> 1e6
        assert 250_000 <= r["simpson_ppm"] <= 1_000_000


def test_char_classes_is_map_only(registry_plans):
    plan = assert_map_only(registry_plans, "q_char_classes")
    assert "Generate" not in plan, plan


# ---- q_sink_pyds_roundtrip -----------------------------------------------


def test_sink_pyds_roundtrip_rerun_deterministic(spark, sf_dir):
    """Second run re-stages but the manifest guard publishes nothing —
    the aggregate must be identical (no doubled rows)."""
    build = REGISTRY["q_sink_pyds_roundtrip"].builder
    a = sorted(map(str, build(spark, sf_dir).collect()))
    b = sorted(map(str, build(spark, sf_dir).collect()))
    assert a and a == b


# ---- q_pq_search -----------------------------------------------------------


def test_pq_search_topk_shape_and_monotone(spark, sf_dir):
    from news_categorization_big_data_spark.plans.retrieval import PQ_TOPK

    rows = REGISTRY["q_pq_search"].builder(spark, sf_dir).collect()
    assert len(rows) == PQ_TOPK
    dists = [(r["adc_dist"], r["vec_id"]) for r in rows]
    assert dists == sorted(dists)
    assert all(d >= 0.0 for d, _ in dists)


def test_pq_search_lut_and_codebook_broadcast(registry_plans):
    plan = registry_plans["q_pq_search"].plan
    # corpus vectors never join anything non-broadcast at query time
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


# ---- q_grouped_auc ---------------------------------------------------------


def test_grouped_auc_bounds_and_segments(spark, sf_dir):
    from news_categorization_big_data_spark.plans.ml import AUC_SEGMENTS

    rows = REGISTRY["q_grouped_auc"].builder(spark, sf_dir).collect()
    assert {r["segment"] for r in rows} == set(range(AUC_SEGMENTS))
    for r in rows:
        if r["n_pos"] and r["n_neg"]:
            assert 0.0 <= r["auc"] <= 1.0, r
        else:
            assert r["auc"] is None


# ---- q_skew_profile --------------------------------------------------------


def test_skew_profile_invariants(spark, sf_dir):
    import pyspark.sql.functions as F

    [r] = REGISTRY["q_skew_profile"].builder(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    assert r["n_rows"] == ev.count()
    assert r["n_keys"] == ev.select("user_id").distinct().count()
    assert r["max_cnt"] == (
        ev.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
    )
    assert 1 <= r["p50_cnt"] <= r["p90_cnt"] <= r["p99_cnt"] <= r["max_cnt"]
    assert r["max_share_ppm"] == r["max_cnt"] * 1_000_000 // r["n_rows"]


# ---- q_lsh_recall ----------------------------------------------------------


def test_lsh_recall_counts_consistent(spark, sf_dir):
    [r] = REGISTRY["q_lsh_recall"].builder(spark, sf_dir).collect()
    assert r["n_truth"] > 0  # the testdata plants near-dups
    assert 0 <= r["n_hit"] <= min(r["n_truth"], r["n_cand"])
    assert r["recall_ppm"] == r["n_hit"] * 1_000_000 // r["n_truth"]
    assert r["precision_ppm"] == r["n_hit"] * 1_000_000 // r["n_cand"]
    # at the test (k, bands) setting the planted ~0.98-jaccard dups
    # should be found essentially always
    assert r["recall_ppm"] >= 900_000, r


# ---- q_split_leakproof -----------------------------------------------------


def test_split_leakproof_clusters_never_straddle(spark, sf_dir):
    rows = REGISTRY["q_split_leakproof"].builder(spark, sf_dir).collect()
    by_key = defaultdict(set)
    for r in rows:
        by_key[r["split_key"]].add(r["split"])
    # every cluster (shared split_key) lives in exactly one split
    assert all(len(s) == 1 for s in by_key.values())
    # near-dups exist in the testdata: at least one multi-doc cluster
    multi = [k for k, _ in by_key.items()
             if sum(1 for r in rows if r["split_key"] == k) > 1]
    assert multi
    splits = {r["split"] for r in rows}
    assert splits == {"train", "val", "test"}


# ---- q_bigram_lm -----------------------------------------------------------


def test_bigram_lm_conditional_table(spark, sf_dir):
    from news_categorization_big_data_spark.plans.text import (
        BIGRAM_MIN_HEAD,
        BIGRAM_TOPK,
    )

    rows = REGISTRY["q_bigram_lm"].builder(spark, sf_dir).collect()
    assert rows
    by_head = defaultdict(list)
    for r in rows:
        assert r["head_total"] >= BIGRAM_MIN_HEAD
        assert 1 <= r["cnt"] <= r["head_total"]
        assert r["cond_ppm"] == r["cnt"] * 1_000_000 // r["head_total"]
        by_head[r["head"]].append(r)
    for head, nxts in by_head.items():
        assert len(nxts) <= BIGRAM_TOPK
        cnts = sorted((r["cnt"] for r in nxts), reverse=True)
        assert cnts == [r["cnt"] for r in sorted(
            nxts, key=lambda r: (-r["cnt"], r["nxt"])
        )]


# ---- q_sample_per_group / q_dedup_incremental -------------------------------


def test_sample_per_group_balanced_and_stable(spark, sf_dir):
    from news_categorization_big_data_spark.plans.sampling import GROUP_RESERVOIR_K

    import pyspark.sql.functions as F

    build = REGISTRY["q_sample_per_group"].builder
    rows = build(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    sizes = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    by_lang = defaultdict(set)
    for r in rows:
        by_lang[r["lang"]].add(r["doc_id"])
    for lang, ids in by_lang.items():
        assert len(ids) == min(GROUP_RESERVOIR_K, sizes[lang])
    again = {(r["lang"], r["doc_id"]) for r in build(spark, sf_dir).collect()}
    assert again == {(r["lang"], r["doc_id"]) for r in rows}


def test_incremental_probe_equals_filtered_full_pairs(spark, sf_dir):
    """The probe join must find EXACTLY the probe-touching subset of the
    full candidate pairs — engine-side check of what the oracle proves."""
    import pyspark.sql.functions as F

    from news_categorization_big_data_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from news_categorization_big_data_spark.plans.dedup import INCR_PROBE_MOD

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    full = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(minhash_signatures(docs)).collect()
        if r["doc_a"] % INCR_PROBE_MOD == 0 or r["doc_b"] % INCR_PROBE_MOD == 0
    }
    probe = {
        (r["doc_a"], r["doc_b"])
        for r in REGISTRY["q_dedup_incremental"].builder(spark, sf_dir).collect()
    }
    assert probe == full


# ---- q_top_paths -----------------------------------------------------------


def test_top_paths_caps_and_counts(spark, sf_dir):
    from news_categorization_big_data_spark.plans.warehouse import (
        PATH_MAX_EVENTS,
        PATH_TOPK,
    )

    rows = REGISTRY["q_top_paths"].builder(spark, sf_dir).collect()
    assert 1 <= len(rows) <= PATH_TOPK
    counts = [r["n_users"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert 1 <= len(r["path"].split(">")) <= PATH_MAX_EVENTS
