#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

The LAST line printed is the one machine-readable JSON summary:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``
kept compact (< 1800 chars, pinned by tests/test_bench_output.py)
because the driver records only the final ~2000 characters of output —
round 14's single mega-line overflowed that window and the official
record landed ``parsed: null``. Full diagnostics (per-query noise
ratios, cold runs, pass totals, methodology bridge) print on an
EARLIER ``"detail"`` JSON line. A second ``"sf1"`` block records the
decade point (/tmp/sf1, 2-pass min), which tools/fixtures.py ensure_sf1
builds in a subprocess when it is absent; an unbuildable sf1 only drops
the block, never the sf0.1 headline record.

Headline set: the queries whose plans exercise the scale-critical paths —
shuffle aggregation, broadcast joins, window top-k, LSH dedup, vector
top-k — rather than the trivially-fast projections.
"""

from __future__ import annotations

import json
import os
import subprocess

from news_categorization_big_data_spark.session import get_spark
from tools.fixtures import ensure_sf1
from tools.query_profile import run_passes


def _git_head() -> str:
    """Short sha of the benched working tree; 'unknown' off-repo."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        # SubprocessError covers TimeoutExpired — a hung rev-parse must
        # never throw away a completed multi-minute bench run
        return "unknown"

HEADLINE = [
    "q_group_stats",        # TPC-H Q1-shaped shuffle agg over lineitem
    "q_join_multiway",      # 4-table join chain
    "q_join_broadcast",     # dimension broadcast join on the fact table
    "q_topk_per_group",     # ranked window over lineitem
    "q_group_collect",      # the reference's flagship digest aggregate
    "q_stream_session",     # session windows (gaps-and-islands state)
    "q_dedup_ngram_jaccard",  # shingle self-join (exact near-dup)
    "q_dedup_near",         # MinHash banded-LSH candidates
    "q_sim_search",         # brute-force cosine top-k
    "q_text_tokens",        # explode + token aggregation
    # -- appended round 3 (original 10 above are unchanged for
    # round-over-round comparability): the macro workloads.
    "q_tpch_q1",            # full TPC-H Q1 pricing summary
    "q_tpch_q3",            # shipping-priority join+agg+topk
    "q_tpch_q5",            # 6-table local-supplier volume join
    "q_pipeline_curate",    # end-to-end curation DAG over documents
    # -- appended round 4: the deterministic-statistics tier and the
    # exact-distinct bitmap path.
    "q_grouped_regression",  # 5 moment sums -> corr/covar/OLS, one shuffle
    "q_bitmap_distinct",     # exact distinct via mergeable bitmaps
    # -- appended round 5: the sliding-window hard op, the ordered-window
    # statistics tier, and the Python/Arrow media boundary.
    "q_sliding_distinct",    # 7-day sliding EXACT distinct (explode+distinct)
    "q_cusum_changepoint",   # decimal running-sum windows + argmax
    "q_multimodal_decode",   # real PNG encode/decode through mapInPandas
    # -- appended round 5 (late): the runtime-filter join and the
    # interval-union sweep.
    "q_bloom_join",          # Bloom prefilter (3 bcast probes) + exact verify
    "q_interval_coverage",   # gaps-and-islands interval-union measure
    # -- appended round 5 (feature tier): the limb-split exact moment
    # pass and the df-capped postings self-join — both carry measured
    # decade-point fixes (SCALE.md).
    "q_corr_matrix",         # 15 exact moments, one pass, limb-split sums
    "q_tfidf_pairs",         # postings self-join under rel+abs df caps
    # -- appended round 6: the hot-key vocabulary join and the bipartite
    # self-join — the two new ops whose scale posture is skew-bound.
    "q_token_rarity",        # explode + vocab join (AQE skew) + per-doc agg
    "q_graph_jaccard_neighbors",  # adjacency self-join, exact ppm division
    # -- appended round 6 (late): the bigram-LM scoring join — pair
    # explode feeding BOTH an LM aggregate and a per-doc join back.
    "q_doc_fluency",         # bigram explode + unhinted LM equi-join
    # -- appended round 7: the exact-moment rolling correlation (new
    # limb-split plan) and the Poisson bootstrap (the honest-B query
    # whose decade ratio is the resample count).
    "q_rolling_corr",        # min-centered int64-limb exact moments
    "q_bootstrap_ci",        # 40-resample Poisson bootstrap, one pass
    # -- appended round 8: the single-fact-pass order statistics
    # (checkpointed value-domain counts) and the join-free cohort
    # retention — the two new scan-discipline paths.
    "q_mad_outliers",        # 1-scan exact median/MAD on value domain
    "q_retention_cohort",    # distinct-activity window cohort, no join
]


def headline_passes(spark, sf_dir: str, reps: int) -> dict[str, list[float]]:
    """Each HEADLINE query's wall per pass, from ``reps`` INTERLEAVED
    passes of tools/query_profile.py's ``run_passes`` (round-13 judge
    item 2).

    This host's ambient variance spans 2-7x between idle-looking runs
    (round 13: six sessions of the same code read 26.9-55.1 s). Back-to-
    back per-query reps are DEFENSELESS against that: a noisy-neighbor
    burst eats all reps of whichever query it lands on. Taking each
    query's min ACROSS full passes means a burst must span the entire
    multi-minute run to poison any min. Pass 1 additionally pays one-time
    whole-stage-codegen JIT (reported as cold_first_run); a 100 TB engine
    amortizes that to zero, so steady-state min is the number that
    transfers. The timed region is the builder plus a noop-sink write:
    Dataset.count() column-prunes through the final Aggregate (found
    round 10: count->noop at sf0.1 moved q_tpch_q1 2.9x and the 30-query
    total +20% — SCALE.md). A failed query raises, so none ever drops
    out of the total silently.
    """
    records = run_passes(spark, sf_dir, HEADLINE, reps)
    failed = {n: recs[-1]["error"] for n, recs in records.items() if recs[-1]["error"]}
    if failed:
        raise RuntimeError(f"headline queries failed: {failed}")
    return {n: [r["wall_s"] for r in recs] for n, recs in records.items()}


def sf_of(sf_dir: str) -> float | None:
    """The scale factor of an ``sf<N>`` fixture dir; None for any other
    dir, e.g. an edge axis such as skew1."""
    try:
        return float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        return None


def final_line(
    total: float,
    timings: dict[str, float],
    sf: float | None,
    reps: int,
    per_pass: dict[str, list[float]],
    git: str,
    sf1_summary: dict | None = None,
) -> str:
    """The ONE compact machine-readable summary line, printed LAST.

    The driver records only the final ~2000 characters of bench output
    and parses the last JSON line; round 14's single mega-line (per-
    query noise ratios + cold runs + pass totals + methodology bridge)
    outgrew that window and the official BENCH_r14.json landed
    `parsed: null` (r14 VERDICT, What's wrong #1). Contract now: all
    diagnostic detail goes on an EARLIER line (see detail_line); this
    line carries only the driver-contract fields (metric/value/unit/
    queries/sf) plus the five compact round-13 provenance fields, and
    tests/test_bench_output.py pins len < 1800 so it can never outgrow
    the capture window again.
    """
    canary = per_pass.get("q_group_stats", [])
    noise = [
        max(runs) / max(min(runs), 1e-9) for runs in per_pass.values() if runs
    ]
    obj = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # the headline value IS the interleaved per-query min-ensemble
        # (round-13 judge protocol); worst_noise_ratio summarizes the
        # per-query max/min spread whose full map lives on the detail
        # line; the canary tail is the stable Q1-shaped shuffle agg's
        # last-pass time (flat canary + high worst ratio = localized
        # burst, not a regression).
        "ensemble_min": total,
        "reps": reps,
        "canary_last": canary[-1] if canary else None,
        "worst_noise_ratio": round(max(noise), 2) if noise else None,
        "sf": sf,
        "exec": "noop",
        "git": git,
    }
    if sf1_summary:
        obj["sf1"] = sf1_summary
    return json.dumps(obj)


def sf1_queries_line(sf1_timings: dict[str, float], reps: int) -> str:
    """Machine-readable PER-QUERY sf1 timings, printed SECOND-TO-LAST
    (right before the final line).

    Round-15 PERF gap: per-query sf1 numbers lived only on the
    truncation-prone detail line, so the driver's CPU-scaling probe
    could only ratio the sf0.1 headline — where every query is
    sub-second and job-dispatch-latency-bound — and false-alarmed
    `suspect_cpus_ignored` (r15 VERDICT item 7). This line rides inside
    the driver's ~2000-char tail capture together with the final line
    (realistic combined length ~1.9k, pinned by
    tests/test_bench_output.py), giving the probe the scale where
    parallelism is actually visible. Values are 2-decimal (10 ms
    resolution is far below this host's ambient noise)."""
    return json.dumps(
        {
            "sf1_queries": {n: round(t, 2) for n, t in sf1_timings.items()},
            "sf": 1.0,
            "reps": reps,
        }
    )


def detail_line(
    per_pass: dict[str, list[float]],
    reps: int,
    sf: float | None,
    sf1_detail: dict | None = None,
) -> str:
    """Full diagnostics, printed BEFORE the final line (allowed to be
    arbitrarily long — the driver's tail capture may truncate it; the
    committed SCALE.md quotes it when a round's analysis needs it)."""
    pass_totals = [
        round(sum(per_pass[name][p] for name in HEADLINE), 3)
        for p in range(reps)
    ]
    # Per-query noise witness: max/min across passes. A query whose
    # ratio is large saw a burst; the min is the defensible number.
    noise_ratio = {
        name: round(max(runs) / max(min(runs), 1e-9), 2)
        for name, runs in per_pass.items()
    }
    obj = {
        "detail": "bench-diagnostics",
        "sf": sf,
        "spread": {"reps": reps, "pass_totals": pass_totals,
                   "noise_ratio_max_over_min": noise_ratio},
        "canary": per_pass.get("q_group_stats", []),
        "cold_first_run": {n: r[0] for n, r in per_pass.items() if r},
        # methodology marker + bridge (round-10 VERDICT nit 1): rounds
        # 1-9 used count(), which prunes unused final-aggregate
        # functions (q_tpch_q1 timed without its eight money sums —
        # 2.9x under-measured), so noop totals are not comparable to
        # the r01-r09 series. Like-for-like count() on r10 code:
        # 20.80 s vs 22.19 s on r9 code at sf0.1 (SCALE.md round 10).
        "bridge": {
            "count_exec_equivalent_total_sf0.1_r10_code": 20.80,
            "count_exec_total_sf0.1_r9_code": 22.19,
            "noop_vs_count_total_ratio_sf0.1": 1.20,
        },
    }
    if sf1_detail:
        obj["sf1"] = sf1_detail
    return json.dumps(obj)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_of(sf_dir)
    spark = get_spark("ncbds-bench")

    # Warm the JVM / file-listing caches so per-query numbers measure the
    # plans, not session startup.
    spark.range(1).count()

    # N via SPARK_GRAFT_BENCH_REPS (default 5 per the round-13 judge's
    # protocol; the driver's wall budget allows it).
    reps = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
    per_pass = headline_passes(spark, sf_dir, reps)
    timings = {name: min(runs) for name, runs in per_pass.items()}
    total = round(sum(timings.values()), 3)

    # ---- sf1 decade block (round-14 VERDICT item 7): the sf0.1
    # headline is noise-dominated for sub-second queries; the decade
    # point is where plan regressions actually move the number. 2-pass
    # min is enough there (each pass is minutes, so ambient bursts
    # can't dominate a whole pass the way they do sub-second queries).
    # Opt out with SPARK_GRAFT_SF1=0; never runs when the MAIN run was
    # already pointed at a non-default sf (A/B runs at /tmp/sf1 etc.).
    sf1_summary = sf1_detail = None
    if (
        os.environ.get("SPARK_GRAFT_SF1", "1") != "0"
        and sf_dir == "/root/testdata/sf0.1"
    ):
        sf1_dir = ensure_sf1(os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1"))
        if sf1_dir:
            sf1_reps = max(2, int(os.environ.get("SPARK_GRAFT_SF1_REPS", "2")))
            sf1_pass = headline_passes(spark, sf1_dir, sf1_reps)
            sf1_timings = {n: min(r) for n, r in sf1_pass.items()}
            sf1_total = round(sum(sf1_timings.values()), 3)
            sf1_summary = {"value": sf1_total, "unit": "sec",
                           "reps": sf1_reps, "sf": 1.0}
            sf1_detail = {"queries": sf1_timings, "reps": sf1_reps}

    # Detail FIRST (long line, truncation-tolerant), per-query sf1
    # SECOND-TO-LAST (compact, inside the tail capture — see
    # sf1_queries_line docstring), compact summary LAST (the line the
    # driver parses — see final_line docstring).
    print(detail_line(per_pass, reps, sf, sf1_detail))
    if sf1_detail:
        print(sf1_queries_line(sf1_detail["queries"], sf1_detail["reps"]))
    print(final_line(total, timings, sf, reps, per_pass, _git_head(),
                     sf1_summary))
    spark.stop()


if __name__ == "__main__":
    main()
