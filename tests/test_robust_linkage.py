"""Property tests for the round-5 order-statistics pair
(plans/robust.py) and the SimHash Hamming join (q_simhash_hamming):
brute-force re-derivations in Python of exactly the semantics each
query claims, plus the pigeonhole-banding recall guarantee on the
operator itself. DuckDB hash parity runs in test_oracle_parity.py."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

from news_categorization_big_data_spark.plans import REGISTRY
from news_categorization_big_data_spark.plans.dedup import SIMHASH_HAMMING_D
from news_categorization_big_data_spark.plans.robust import ROLLING_MEDIAN_FRAME
from news_categorization_big_data_spark.sources.tables import load_table
from tests.conftest import exchange_counts


# -- q_weighted_median ------------------------------------------------------


def test_weighted_median_matches_python_lower_median(spark, sf_dir):
    got = {
        r.l_returnflag: (r.wmedian, r.total_weight)
        for r in REGISTRY["q_weighted_median"].builder(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity", "l_orderkey", "l_linenumber"
    )
    by_flag: dict = {}
    for r in li.collect():
        by_flag.setdefault(r.l_returnflag, []).append(r)
    for flag, rows in by_flag.items():
        rows.sort(key=lambda r: (r.l_extendedprice, r.l_orderkey, r.l_linenumber))
        tot = sum(Decimal(str(r.l_quantity)) for r in rows)
        cum = Decimal(0)
        for r in rows:
            cum += Decimal(str(r.l_quantity))
            if 2 * cum >= tot:
                assert got[flag] == (r.l_extendedprice, float(tot)), flag
                break
    assert set(got) == set(by_flag)


def test_weighted_median_one_exchange_one_sort(registry_plans):
    """All three window evaluations (cumw, partition total, rn) must
    ride ONE shuffle and ONE sort — the unbounded-frame total and the
    boundary row_number reuse the cumw window's partitioning+ordering,
    so extra Exchange/Sort nodes would mean Catalyst re-sorted for a
    spec it already satisfied."""
    plan = registry_plans["q_weighted_median"].plan
    assert exchange_counts(plan) == {
        "hashpartitioning(l_returnflag)/ENSURE_REQUIREMENTS": 1
    }, plan
    assert plan.count("+- Sort") == 1


# -- q_rolling_median -------------------------------------------------------


def test_rolling_median_matches_python_frames(spark, sf_dir):
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "ts", "value")
        .collect()
    )
    series: dict = {}
    for r in sorted(ev, key=lambda r: (r.ts, r.event_id)):
        series.setdefault(r.event_type, []).append((r.event_id, r.value))
    expect = {}
    for typ, rows in series.items():
        for i, (eid, _) in enumerate(rows):
            frame = sorted(
                v for _, v in rows[max(0, i - (ROLLING_MEDIAN_FRAME - 1)) : i + 1]
            )
            n = len(frame)
            med = (
                frame[(n + 1) // 2 - 1]
                if n % 2 == 1
                else (frame[n // 2 - 1] + frame[n // 2]) / 2.0
            )
            expect[eid] = med
    got = {
        r.event_id: r.roll_med
        for r in REGISTRY["q_rolling_median"].builder(spark, sf_dir).collect()
    }
    assert got == expect


# -- q_simhash_hamming ------------------------------------------------------


def test_simhash_hamming_matches_bruteforce(spark, sf_dir):
    """Pigeonhole banding must be LOSSLESS at radius d: the banded +
    verified pairs equal the brute-force all-pairs answer."""
    from news_categorization_big_data_spark.operators.dedup import simhash
    from news_categorization_big_data_spark.plans.dedup import SIMHASH_HAMMING_BITS

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    sketches = {
        r.doc_id: r.simhash
        for r in simhash(docs, bits=SIMHASH_HAMMING_BITS).collect()
    }
    ids = sorted(sketches)
    brute = {
        (a, b): bin(sketches[a] ^ sketches[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sketches[a] ^ sketches[b]).count("1") <= SIMHASH_HAMMING_D
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in REGISTRY["q_simhash_hamming"].builder(spark, sf_dir).collect()
    }
    assert got == brute


def test_simhash_hamming_rejects_unsound_banding():
    """bands ≤ max_distance would break the pigeonhole guarantee; the
    operator must refuse rather than silently lose recall."""
    import pytest

    from news_categorization_big_data_spark.operators.dedup import (
        simhash_hamming_pairs,
    )

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_hamming_pairs(None, max_distance=4, bands=4)
    with pytest.raises(ValueError, match="divisible"):
        simhash_hamming_pairs(None, max_distance=2, bands=5, bits=16)


# -- q_graph_kcore ----------------------------------------------------------


def test_kcore_matches_python_peeling(spark, sf_dir):
    """The run-to-convergence loop must equal brute-force Python
    peeling, and must converge within the oracle's unroll depth."""
    from news_categorization_big_data_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from news_categorization_big_data_spark.plans.dedup import KCORE_K, KCORE_UNROLL

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    pairs = [
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(minhash_signatures(docs)).collect()
    ]
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rounds = 0
    while True:
        drop = {v for v, ns in adj.items() if len(ns) < KCORE_K}
        if not drop:
            break
        rounds += 1
        for v in drop:
            for n in adj.get(v, ()):  # pragma: no branch
                adj[n].discard(v)
            del adj[v]
        adj = {v: ns for v, ns in adj.items() if True}
    assert rounds <= KCORE_UNROLL, "oracle unroll depth too shallow"
    expect = {v: len(ns) for v, ns in adj.items()}
    got = {
        r.doc_id: r.degree
        for r in REGISTRY["q_graph_kcore"].builder(spark, sf_dir).collect()
    }
    assert got == expect


def test_kcore_generated_graphs_match_bruteforce(spark):
    """kcore on hand-built graphs: a triangle with a pendant tail keeps
    exactly the triangle at k=2; a path graph peels to nothing."""
    from news_categorization_big_data_spark.operators.graph import kcore

    tri_tail = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(tri_tail, "doc_a long, doc_b long")
    got = {(r.doc_id, r.degree) for r in kcore(df, 2).collect()}
    assert got == {(1, 2), (2, 2), (3, 2)}
    path = [(1, 2), (2, 3), (3, 4)]
    df2 = spark.createDataFrame(path, "doc_a long, doc_b long")
    assert kcore(df2, 2).count() == 0

