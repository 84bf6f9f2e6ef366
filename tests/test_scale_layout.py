"""Physical-layout scale techniques: bucketed joins must produce
exchange-free plans; salted joins/aggregations must equal their unsalted
counterparts exactly (SURVEY.md §4.2 / the 100-TB design rules)."""

from __future__ import annotations

from pyspark.sql import functions as F

from news_categorization_big_data_spark.functions.scale import (
    read_bucketed,
    salted_join,
    salted_sum,
    write_bucketed,
    write_partitioned,
)
from news_categorization_big_data_spark.sources.tables import load_table
from tests.conftest import assert_map_only, exchange_counts, physical_plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Pre-bucketing both sides on the join key makes the recurring join
    shuffle-free: the write pays the shuffle once, every later join runs
    on co-located buckets. (Managed tables land in the session's default
    warehouse — dropped, and gitignored, below.)"""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(orders, "b_orders", ["o_orderkey"], num_buckets=8)
        write_bucketed(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", ["o_orderkey"], 8
        )
        # At sf0.001 the planner would just broadcast the small side (and
        # rightly so); disable broadcast to surface the shuffle behavior
        # the bucketing exists to eliminate at fact-⋈-fact scale.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        joined = read_bucketed(spark, "b_orders").join(
            read_bucketed(spark, "b_lineitem"), "o_orderkey"
        )
        plan = physical_plan(joined)
        assert exchange_counts(plan) == {}, f"bucketed join still shuffles:\n{plan}"
        assert "Bucketed: true" in plan, f"scan did not use buckets:\n{plan}"

        # and it computes the same thing as the plain join
        plain = orders.join(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        )
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes_static(spark, sf_dir, tmp_path):
    """A filter on the partition column must become directory pruning
    (PartitionFilters), not a data filter over every file."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, path, ["lang"])

    read = spark.read.parquet(path).where(F.col("lang") == "en")
    plan = physical_plan(read)
    assert "PartitionFilters: [" in plan and "lang" in plan.split("PartitionFilters")[1][:120], plan
    want = docs.where(F.col("lang") == "en").count()
    assert read.count() == want and want > 0


def test_partitioned_write_prunes_dynamic(spark, sf_dir, tmp_path):
    """Joining the partitioned fact to a FILTERED dimension must inject a
    dynamic partition pruning subquery into the fact scan."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_by_lang_dpp")
    write_partitioned(docs, path, ["lang"])

    dim = docs.select("lang").distinct().where(F.col("lang").isin("en", "de"))
    fact = spark.read.parquet(path)
    joined = fact.join(dim, "lang")
    plan = physical_plan(joined)
    assert "dynamicpruning" in plan.lower(), f"no DPP subquery in:\n{plan}"
    assert joined.count() == docs.where(F.col("lang").isin("en", "de")).count()


def test_salted_join_matches_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(customer, "o_custkey")
    salted = salted_join(orders, customer, "o_custkey", salt_on="o_orderkey", salt_buckets=4)
    assert salted.count() == plain.count()
    # spot-check content equality, not just cardinality
    key = F.concat_ws("|", "o_custkey", F.col("o_totalprice").cast("string"), "c_name")
    assert (
        plain.select(key.alias("k")).exceptAll(salted.select(key.alias("k"))).count() == 0
    )


def test_salted_join_rejects_right_preserving(spark, sf_dir):
    import pytest

    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey")
    )
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError, match="left-preserving"):
            salted_join(orders, customer, "o_custkey", salt_on="o_custkey", how=how)


def test_salted_sum_matches_plain_sum(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    # integer-cents domain so the comparison is exact under reordering
    cents = (F.col("value") * 100).cast("long")
    plain = {
        r.event_type: r.total
        for r in ev.groupBy("event_type").agg(F.sum(cents).alias("total")).collect()
    }
    salted = {
        r.event_type: r.total
        for r in salted_sum(ev, ["event_type"], cents, "total", salt_on="event_id", salt_buckets=4).collect()
    }
    assert salted == plain


def test_row_salt_is_row_deterministic(spark, sf_dir):
    """The salt must be a pure function of the row, invariant to the
    physical layout it is computed under — the property
    monotonically_increasing_id lacks (its value encodes the partition
    id, so a recomputed/differently-laid-out execution re-buckets rows:
    the SPARK-23207 double-count/loss class under fetch-failure map
    reruns). Recompute the salt under a different partitioning and
    assert the (row id -> bucket) mapping is identical."""
    from news_categorization_big_data_spark.functions.scale import _row_salt

    ev = load_table(spark, sf_dir, "events").select("event_id")
    base = {
        r.event_id: r.s
        for r in ev.withColumn("s", _row_salt("event_id", 8)).collect()
    }
    relaid = {
        r.event_id: r.s
        for r in ev.repartition(7, "event_id")
        .withColumn("s", _row_salt("event_id", 8))
        .collect()
    }
    assert base == relaid
    assert set(base.values()) == set(range(8))  # uniform enough to spread


def test_map_only_queries_have_no_exchange(registry_plans):
    """The curation/scoring queries documented as map-only must stay
    shuffle-free: one Exchange creeping into a per-row pass is the
    difference between linear scan and cluster-wide repartition at
    100 TB. Value = the declared fan_out key, if any."""
    for name, fan_out_key in {
        "q_classify_keywords": "doc_id",
        "q_split_train_eval": None,
        "q_sample_stratified": None,
        "q_quality_filter": None,
        "q_text_clean": None,
        "q_doc_fingerprint": None,
        "q_quality_score": None,
        "q_token_count": None,
        "q_repetition_stats": None,
        "q_pii_scrub": None,
    }.items():
        assert_map_only(registry_plans, name, fan_out_key)


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order vs single-column sort, measured on the stats a reader
    prunes with: which files a 1-D range predicate can skip. The
    x-sorted layout prunes x-predicates perfectly and y-predicates NOT
    AT ALL (every file's y-range spans the domain); the Z-curve layout
    prunes BOTH — each file covers a bounded box in x AND y. That
    both-dimensions property, not a smaller per-file footprint (an
    aligned curve segment's box area equals a stripe's), is what
    `OPTIMIZE ZORDER` buys at 100 TB: one layout serves every
    filter-dimension workload. Row contents are identical in both
    layouts (the curve only reorders)."""
    import glob

    import pyarrow.parquet as pq

    from news_categorization_big_data_spark.functions.scale import zorder_write

    n, side = 4096, 64  # (x, y) grid, both uniform in [0, side)
    df = spark.range(n).select(
        (F.col("id") % side).alias("x"),
        ((F.col("id") * 2654435761) % side).alias("y"),  # decorrelated
    )
    flat, zord = str(tmp_path / "flat"), str(tmp_path / "zord")
    df.repartitionByRange(8, "x").sortWithinPartitions("x").write.mode(
        "overwrite"
    ).parquet(flat)
    zorder_write(df, zord, "x", "y", bits=6, files=8)

    def boxes(path: str) -> list[dict]:
        out = []
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                cols = {
                    md.row_group(rg).column(i).path_in_schema: md.row_group(
                        rg
                    ).column(i).statistics
                    for i in range(md.row_group(rg).num_columns)
                }
                out.append(
                    {c: (cols[c].min, cols[c].max) for c in ("x", "y")}
                )
        return out

    def files_matching(bxs: list[dict], col: str, lo: int, hi: int) -> int:
        return sum(1 for b in bxs if not (b[col][1] < lo or b[col][0] > hi))

    fb, zb = boxes(flat), boxes(zord)
    # x-predicate: flat prunes perfectly; z must still prune most files.
    assert files_matching(fb, "x", 8, 15) <= 2
    assert files_matching(zb, "x", 8, 15) <= len(zb) // 2
    # y-predicate: flat prunes NOTHING; z must prune at least half.
    assert files_matching(fb, "y", 8, 15) == len(fb)
    assert files_matching(zb, "y", 8, 15) <= len(zb) // 2

    # correctness: a 2-D box predicate reads identical rows either way
    box = "x BETWEEN 8 AND 15 AND y BETWEEN 8 AND 15"
    a = sorted(
        map(tuple, spark.read.parquet(flat).where(box).select("x", "y").collect())
    )
    b = sorted(
        map(tuple, spark.read.parquet(zord).where(box).select("x", "y").collect())
    )
    assert a == b and a


def test_dedup_verify_joins_never_static_broadcast(registry_plans):
    """The pairwise-dedup verify joins (candidates back to the sets
    table) and the keep-best quality join must plan as sort-merge at
    EVERY scale: their non-cand sides are O(corpus) frames whose static
    size estimate is structurally wrong (text -> hash-array / token
    widening behind a pinned relation is invisible to the estimator),
    so without the declared shuffle_merge hints the planner broadcast
    the multi-hundred-MB sets table as a build side — a measured
    broadcast-OOM on the round-11 skew fixture (q_dedup_containment,
    /tmp/skew1) and the same latent shape in q_dedup_ngram_jaccard /
    q_dedup_keep_best. Unlike scans whose estimate tracks file bytes
    (those self-correct at scale), this class never self-corrects, so
    the strategy is pinned here at small sf where the bad plan would
    otherwise 'work'.

    These dedup plans also shuffle keys, never documents: no Exchange
    may partition on the full ``text`` column (the shingle hashes are
    computed map-side and only ids, sizes and hashes move)."""
    import re

    for q, n_smj in (
        ("q_dedup_containment", 4),  # df-cap + candidate + 2 verify sides
        ("q_dedup_ngram_jaccard", 2),  # 2 verify sides
        ("q_lsh_recall", 3),  # 2 truth verify sides + truth ⟗ cand
        ("q_dedup_keep_best", 1),  # component ⋈ per-doc quality
    ):
        plan = registry_plans[q].plan
        assert plan.count("SortMergeJoin") >= n_smj, (q, plan)
        text_keyed = [k for k in exchange_counts(plan) if re.search(r"\(.*\btext\b", k)]
        assert not text_keyed, (q, text_keyed)


def test_row_salt_raises_on_null_id(spark):
    """A NULL salt_on id would hash to the seed constant and pile every
    null-id row onto ONE salt bucket — exactly the hot slice salting
    exists to spread. The salt expression raises per-row instead."""
    import pytest

    from news_categorization_big_data_spark.functions.scale import _row_salt

    df = spark.createDataFrame([(1,), (None,)], "id long")
    with pytest.raises(Exception, match="salt_on column is NULL"):
        df.withColumn("s", _row_salt("id", 8)).collect()
