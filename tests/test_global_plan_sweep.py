"""Registry-wide physical-plan anti-pattern sweeps, all run over ONE
compile of every registered plan (plan compilation dominates the cost,
so the sweeps read the session's plan memo, ``registry_plans`` in
tests/conftest.py; planning-only — nothing executes):

1. NO CartesianProduct, ever — every pair-generating operator in the
   engine is bucket-local by design (LSH bands, prefix filters, IVF
   cells, grid cells), and the intentional crossJoins are broadcasts of
   dimension-sized frames (BroadcastNestedLoopJoin), which is allowed.
2. NO nondeterministic physical-id expressions — a salt / bucket / id
   derived from monotonically_increasing_id(), spark_partition_id(),
   rand()/randn()/uuid()/shuffle() is recompute-UNSTABLE: under a
   fetch-failure map-task rerun, re-executed rows can land in different
   buckets than copies already fetched by surviving reducers
   (SPARK-23207 double-count/loss class). Round 11 hit exactly this
   with spark_partition_id over a sampled range exchange (a ranged
   total-order window, since deleted); round 12 removed the last two sites
   (functions/scale.py salts now hash real row ids). This sweep keeps
   the invariant for every future plan.
"""

from __future__ import annotations

import re

import pytest


@pytest.fixture(scope="module")
def all_plans(registry_plans) -> dict[str, str]:
    return {name: plan for name, (_, plan) in registry_plans.items()}


def test_no_cartesian_product_anywhere(all_plans):
    offenders = [n for n, plan in all_plans.items() if "CartesianProduct" in plan]
    assert not offenders, offenders


#: Physical expressions whose value depends on execution layout / task
#: attempt rather than on the row. Matched case-insensitively against
#: the executed-plan text; word-bounded so column names merely
#: CONTAINING e.g. "rand" don't false-positive.
_NONDETERMINISTIC = re.compile(
    r"\b(monotonically_increasing_id|spark_partition_id|rand|randn|uuid|shuffle)\(",
    re.IGNORECASE,
)


def test_no_nondeterministic_ids_anywhere(all_plans):
    offenders = {
        n: sorted(set(_NONDETERMINISTIC.findall(plan)))
        for n, plan in all_plans.items()
        if _NONDETERMINISTIC.search(plan)
    }
    assert not offenders, offenders


# --------------------------------------------------------------------------
# 3. NO static broadcast of a structurally-widened frame (r14 VERDICT
#    item 5: generalize the manual widened-frame probe into a standing
#    sweep). The signature: a BroadcastExchange whose subtree contains a
#    Generate explode of a BARE ATTRIBUTE (a column materialized
#    upstream, not a per-row expression) that descends from a
#    collect_list/collect_set aggregate. That construction's static
#    size estimate is GARBAGE — Catalyst cannot model the pair/posting
#    fan-out of exploding collected lists, an InMemoryRelation pin
#    reports its CHILD's pre-materialization stats, and AQE never
#    demotes a statically-chosen broadcast — so at corpus scale the
#    "small" build side is the 550M-row pair table that crashed
#    q_simhash_hamming at sf1 (round 14) and the LSH edge tables this
#    sweep caught under q_graph_pagerank / q_graph_bfs's iterative
#    joins in round 15 (both invisible to the sf1 oracle sweep — their
#    DuckDB oracles are infeasible there).
#
#    Exempt BY RULE (the r14 probe's 24 benign triages, made
#    mechanical):
#    - a keyless aggregate or explicit limit between the broadcast and
#      the explode caps the payload at one/limit rows — its subtree is
#      skipped entirely;
#    - expression explodes (explode(array(...)), explode(split(...)),
#      explode(sequence(...))) stay out of scope: their fan-out is a
#      per-row multiplier the estimate tracks from the scan, the
#      self-correcting sub-class the broadcast audit triages as benign.
# --------------------------------------------------------------------------

_NODE_MARKER = re.compile(r"^([\s:]*)(?:\+-|:-)\s")
_BARE_EXPLODE = re.compile(r"Generate explode\(([A-Za-z_]\w*#\d+)\)")
_PAYLOAD_CAPS = ("Aggregate(keys=[], ", "GlobalLimit", "TakeOrderedAndProject")


def _node_depth(line: str) -> int:
    m = _NODE_MARKER.match(line)
    return len(m.group(1)) if m else (0 if line.strip() else -1)


def _widened_broadcast_hits(plan: str) -> list[str]:
    lines = plan.splitlines()
    hits: list[str] = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        d = _node_depth(ln)
        j = i + 1
        sub: list[str] = []
        while j < len(lines) and _node_depth(lines[j]) > d:
            sub.append(lines[j])
            j += 1
        k = 0
        while k < len(sub):
            s = sub[k]
            if any(c in s for c in _PAYLOAD_CAPS):
                cap_d = _node_depth(s)
                k += 1
                while k < len(sub) and _node_depth(sub[k]) > cap_d:
                    k += 1
                continue
            m = _BARE_EXPLODE.search(s)
            if m:
                g = _node_depth(s)
                for t in sub[k + 1 :]:
                    if _node_depth(t) <= g:
                        break
                    if "collect_list(" in t or "collect_set(" in t:
                        hits.append(m.group(1))
                        break
            k += 1
    return hits


def test_no_static_broadcast_of_widened_frame(all_plans):
    offenders = {
        n: hits
        for n, plan in all_plans.items()
        if (hits := _widened_broadcast_hits(plan))
    }
    assert not offenders, (
        "static broadcast above a collect_list/collect_set explode "
        "(blind-estimate widened frame — declare shuffle_hash/merge at "
        f"the join instead): {offenders}"
    )
