"""Registry-wide static-broadcast audit: flag BroadcastExchange nodes
that the planner placed from a STATIC size estimate (no AQE-measured
shuffle / aggregate / limit between the broadcast and its leaf scan)
whose leaf is a fact-table scan — the plan shape behind the round-12
q_dedup_containment broadcast-OOM on the skew fixture.

Two sub-classes, and only one is a bug:

- **estimate tracks bytes** (plain column-pruned parquet scan, possibly
  filtered): benign — at real scale the same estimate grows with the
  files and the planner flips to sort-merge on its own. Most TPC-H
  plans flag here at small sf; they self-correct.
- **estimate structurally blind** (a widening transform — text→hash
  arrays, explode — especially behind a pinned InMemoryRelation whose
  pre-materialization stats are the child's): NEVER self-corrects;
  the fix is a declared strategy hint (shuffle_merge) at the join.
  Round 12 found and fixed three of these (containment_pairs,
  jaccard_pairs verify, q_dedup_keep_best's quality join) — see
  SCALE.md "Round 12: the skew fixture pointed at the dedup + graph
  families".

The triage between the two is a human read of the flagged subtree (is
the broadcast side a raw scan, or a transform-widened/pinned frame?).
Run against the biggest fixture available so estimates are realistic:

    python tools/broadcast_audit.py /tmp/skew1        # all queries
    python tools/broadcast_audit.py /tmp/skew1 q_a q_b  # a subset

Compile-only for pure plans (builders that run driver actions — CC
loops, IVF seeding — will execute those stages).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: Plan-text markers under which a BroadcastExchange is AQE-measured or
#: provably bounded, and therefore scale-safe by construction.
_MEASURED = (
    "Exchange hashpartitioning",
    "Exchange range",
    "GlobalLimit",
    "TakeOrderedAndProject",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
)

#: Everything the testdata generator scales linearly with SF — the
#: classic facts AND the "dimension-sized" tables (customer/supplier/
#: part) that round 13 purged from the pinned-hint tier: a broadcast
#: whose build side scans any of these must be estimate-driven (self-
#: correcting), never a static hint. tests/test_no_pinned_sf_broadcasts
#: pins the hint-free property mechanically with
#: autoBroadcastJoinThreshold=-1; this audit's job is the estimate-
#: blindness triage on realistic fixtures.
FACT_TABLES = (
    "documents",
    "events",
    "lineitem",
    "orders",
    "embeddings",
    "customer",
    "supplier",
    "part.parquet",  # suffix-match: bare "part" hits "partitioning"
)


_AGG_MARKERS = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")

#: Attribute columns whose cardinality is bounded by the SCHEMA, not
#: the corpus: an aggregate grouped ONLY on these produces a frame
#: that stays broadcast-sized at any SF (|event_type|≈5 stats rows,
#: |lang| term totals, |p_size| skyline frontier, the ≤1024-word bloom
#: bitmap, |types|² pair tables). ID-like keys (l_orderkey, user_id,
#: doc_id) and VALUE-domain keys (_v — fact-scale when every double is
#: unique, the /tmp/skew8 axis) are deliberately absent: an aggregate
#: keyed on any of those scales with the corpus, and a pinned hint
#: above it is the q_tpch_q18 class.
BOUNDED_KEY_COLS = frozenset(
    {
        # events / documents attributes
        "event_type", "lang", "category",
        # TPC-H attribute columns
        "l_returnflag", "l_linestatus", "l_shipmode", "l_shipinstruct",
        "o_orderpriority", "o_orderstatus",
        "p_brand", "p_type", "p_size", "p_container",
        "c_mktsegment",
        "n_nationkey", "n_name", "n_regionkey", "r_regionkey", "r_name",
        # engine-derived bounded keys, DISTINCTIVELY prefixed (r14
        # ADVICE: the old generic names — j, bucket, grain, _w,
        # type_a/type_b — would silently wave through a future plan
        # grouping a corpus-scaling domain by a column that happened
        # to share the name; a round-15 strip-and-resweep showed only
        # three plans actually relied on them, each renamed):
        # CMS cells (d×w at any SF — plans/olap.py q_cms_counts),
        # bloom words (BLOOM_BITS/64 ≤ 1024 — plans/lakehouse.py
        # q_bloom_join), length buckets (token-count bit width —
        # operators/batching.py assign_batches).
        "_cms_j", "_cms_bucket", "_bloom_w", "_len_bucket",
    }
)

_KEY_NAME_RE = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)#\d+")
_KEYS_RE = re.compile(r"keys=\[(.*?)\], functions=")


def agg_keys_bounded(line: str) -> bool:
    """True iff this aggregate plan line's grouping keys are provably
    bounded: keyless (one output row) or every referenced column is a
    schema-bounded attribute (BOUNDED_KEY_COLS). Expression keys are
    handled conservatively — every column name inside the expression
    must be bounded."""
    m = _KEYS_RE.search(line)
    if m is None:
        return False
    inner = m.group(1)
    if not inner.strip():
        return True
    names = set(_KEY_NAME_RE.findall(inner))
    return bool(names) and names <= BOUNDED_KEY_COLS


def _bounds_subtree(line: str, hints_mode: bool) -> bool:
    """Does this plan line prove the broadcast payload above it is
    bounded/self-correcting?

    In ESTIMATE mode (default) every ``_MEASURED`` marker exempts: the
    planner chose broadcast from a size it will re-measure as data
    grows, so the plan self-corrects. In HINTS mode (``--hints``,
    estimate broadcasts disabled so every surviving BroadcastExchange
    is HINT-driven) a pinned hint forces the exchange at ANY size —
    a KEYED aggregate between hint and fact scan bounds nothing when
    the key scales with the corpus (q_tpch_q18's qualifying-orderkey
    set: ~1.5% of all orders, linear in SF, ~18 GB at 100 TB — the
    round-13 judge finding). Under a pin, only explicit limits,
    keyless aggregates (one output row) and aggregates grouped solely
    on schema-bounded attribute columns (agg_keys_bounded /
    BOUNDED_KEY_COLS) stay exempt; corpus-keyed aggregates are walked
    THROUGH to the leaf, and a fact-table leaf flags for triage."""
    if not any(m in line for m in _MEASURED):
        return False
    if not hints_mode:
        return True
    if any(m in line for m in _AGG_MARKERS):
        return agg_keys_bounded(line)
    if line.lstrip(" :+-").startswith("Exchange "):
        # A shuffle below a PINNED broadcast caps nothing (the hint is
        # forced at any size; AQE's re-measurement never overrides it)
        # — keep walking to the leaf. q18's keyed-agg build side hides
        # its fact scan behind exactly this exchange.
        return False
    return True


def audit_plan(plan: str, lookahead: int = 14, hints_mode: bool = False) -> list[str]:
    """Flagged leaf lines for every static broadcast over a fact scan."""
    lines = plan.splitlines()
    hits: list[str] = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        sub: list[str] = []
        bounded = False
        for nxt in lines[i + 1 : i + 1 + lookahead]:
            sub.append(nxt)
            if _bounds_subtree(nxt, hints_mode):
                bounded = True
                break
        if bounded:
            continue
        for leaf in sub:
            if "FileScan" in leaf or "InMemoryTableScan" in leaf:
                if any(t in leaf for t in FACT_TABLES) or "InMemoryTableScan" in leaf:
                    hits.append(leaf.strip()[:120])
                break
    return hits


def main() -> None:
    from pyspark.sql import SparkSession

    from news_categorization_big_data_spark.plans import REGISTRY

    args = [a for a in sys.argv[1:] if a != "--hints"]
    # --hints: build every plan with autoBroadcastJoinThreshold=-1 so
    # estimate-driven broadcasts vanish — any BroadcastExchange left is
    # HINT-driven, the class that never self-corrects at scale. This
    # automates the hint-vs-estimate half of the triage; the remaining
    # human read is only the estimate-blindness sub-class (widened /
    # pinned frames). Expected output on a healthy registry (round-14
    # full sweep under the strict bounded-key rule: flagged 8/284, all
    # justified):
    #   - q_join_broadcast / q_tpch_q18: the size-GATED
    #     broadcast_if_small hint (it measured on-disk bytes before
    #     pinning; disappears against a fixture past the gate, or with
    #     SPARK_GRAFT_BROADCAST_GATE_BYTES=0). q18's keyed-aggregate
    #     build side is the round-13 finding: flagged by the strict
    #     hints-mode walk, justified ONLY because the hint is gated;
    #   - q_sim_search / q_knn_label / q_sim_ann_ivf / q_ann_recall:
    #     broadcasts of CONSTANT-size query-vector sets (vec_id IN
    #     (0,1,2) pushed to the embeddings scan — the same ≤3 rows at
    #     any SF, bounded like nation/region), and each is
    #     crossJoin(broadcast(...)) where dropping the hint degrades
    #     to CartesianProduct;
    #   - q_decontaminate: broadcast of the EVAL-SET shingle hashes —
    #     bounded by design (holdout eval sets are curated and small;
    #     the operator's whole point is the train side streaming past
    #     a broadcastable holdout);
    #   - q_skyline: the frontier broadcast — a STRICTLY-INCREASING
    #     running-max chain over p_size, so ≤ |p_size| = 50 rows at
    #     any SF; the bound is semantic (monotone chain length), not
    #     visible to the key-cardinality rule.
    # Anything else is a real pinned-hint defect (the same property
    # tests/test_no_pinned_sf_broadcasts.py pins for the TPC-H/join
    # tier).
    hints_only = "--hints" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    names = args[1:] or list(REGISTRY)
    spark = (
        SparkSession.builder.master("local[8]").appName("broadcast-audit").getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if hints_only:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    flagged = 0
    for q in names:
        try:
            plan = (
                REGISTRY[q]
                .builder(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as e:  # builder needs optional fixture/env
            print(f"{q}: BUILD-ERR {str(e)[:90]}")
            continue
        hits = audit_plan(plan, hints_mode=hints_only)
        if hits:
            flagged += 1
            print(q)
            for h in hits:
                print("   ", h)
    print(f"flagged {flagged}/{len(names)} (triage per module docstring)")
    spark.stop()


if __name__ == "__main__":
    main()
