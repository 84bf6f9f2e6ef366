"""Executed-plan-string helpers shared by the query profiler
(tools/query_profile.py) and the plan-shape tests.

Spark renders an ``InMemoryRelation``'s cached child plan NESTED inside
every ``InMemoryTableScan`` that reads it, so a naive
``plan.count("FileScan parquet")`` over-counts persisted plans: the one
real scan (run once, at first materialization) is re-printed per cache
reader. ``uncached_file_scans`` counts only scans that are NOT under an
InMemoryRelation — the scans that actually hit storage every run.
``exchange_counts`` names every Exchange of a plan by kind.
"""

from __future__ import annotations

import re
from collections import Counter


def uncached_file_scans(plan: str, scan_marker: str = "FileScan parquet") -> int:
    """Count ``scan_marker`` nodes outside any InMemoryRelation subtree.

    Tree position comes from the render's indentation: a cached
    subtree is printed strictly deeper than its ``InMemoryRelation``
    line, so a scan line is cached iff some still-open relation line
    above it has smaller indentation.
    """

    def indent(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    open_caches: list[int] = []  # indents of enclosing InMemoryRelations
    n = 0
    for line in plan.splitlines():
        if not line.strip():
            continue
        ind = indent(line)
        while open_caches and ind <= open_caches[-1]:
            open_caches.pop()
        if scan_marker in line and not open_caches:
            n += 1
        if "InMemoryRelation" in line:
            open_caches.append(ind)
    return n


_EXCHANGE_RE = re.compile(r"\bExchange (\w+)(?:\((.*?)\))?, ([A-Z_]+)")


def exchange_counts(plan: str) -> Counter:
    """Exchanges of a physical plan string, counted by kind: ``broadcast``,
    ``reused``, else ``<partitioning>/<shuffle origin>`` with the keys of
    a hash or range partitioning spelled out and expression ids dropped —
    ``hashpartitioning(user_id)/ENSURE_REQUIREMENTS`` is a shuffle the
    plan needs, ``hashpartitioning(doc_id)/REPARTITION_BY_NUM`` the keyed
    repartition of functions/partitioning.py fan_out(by=...),
    ``SinglePartition/ENSURE_REQUIREMENTS`` a global window or sort.
    A line naming an Exchange in any other form counts as ``unparsed``,
    so no exchange escapes the count."""
    kinds: Counter = Counter()
    for line in plan.splitlines():
        if "BroadcastExchange" in line:
            kinds["broadcast"] += 1
        elif "ReusedExchange" in line:
            kinds["reused"] += 1
        elif m := _EXCHANGE_RE.search(line):
            part, args, origin = m.groups()
            if part in ("hashpartitioning", "rangepartitioning"):
                keys = re.sub(r"#\d+L?", "", args.rsplit(", ", 1)[0])
                part = f"{part}({keys})"
            kinds[f"{part}/{origin}"] += 1
        elif "Exchange" in line:
            kinds["unparsed"] += 1
    return kinds
