"""Engine-wide physical-plan conventions, swept over EVERY registered
query through the session's plan memo (``registry_plans`` in
tests/conftest.py, which the per-query shape pins read too).

The filter-vs-Python-node rule (SURVEY.md §4.2): Catalyst does not move
native predicates through opaque Python eval nodes, so a cheap filter
written after a mapInPandas/pandas-UDF stage silently pays the Python
transfer for rows it then throws away. The engine's convention is to
place native predicates BEFORE Python stages; this sweep makes the
convention enforceable — any registered plan with a native Filter above
a Python eval node in its executed-plan tree fails here with the plan
line, instead of shipping a 10-100x row-transfer regression.

One source-level convention rides along: no module of the engine, its
tools or its entry scripts imports a name it never uses (the check a
deletion most often leaves failing)."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

#: Physical node names of every Python-boundary operator (Spark 4):
#: mapInPandas / mapInArrow, applyInPandas, cogrouped applyInPandas,
#: pandas UDF, classic UDF, and UDTF eval nodes.
PY_NODES = (
    "MapInPandas",
    "PythonMapInArrow",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
)


@pytest.fixture(scope="module")
def python_plans(registry_plans) -> dict[str, str]:
    """Executed-plan text for every registered query that crosses the
    Python boundary."""
    return {
        name: plan
        for name, (_, plan) in registry_plans.items()
        if any(p in plan for p in PY_NODES)
    }


def _depth(line: str) -> int:
    m = re.match(r"^([ :|]*(?:[+:]- )?)", line)
    return len(m.group(1)) // 3


def test_no_native_filter_above_python_nodes(python_plans):
    """No registered plan may evaluate a native Filter ABOVE a Python
    eval node (i.e. with the Python node in the filter's subtree):
    rows the filter would drop must be dropped before they cross the
    Arrow boundary. Filters that genuinely consume Python OUTPUT
    columns would be exempt by necessity — no registered plan needs
    one today, so the sweep stays strict until one does."""
    offending: dict[str, list[str]] = {}
    for name, plan in python_plans.items():
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if not re.search(r"\bFilter\b", line):
                continue
            d = _depth(line)
            for below in lines[i + 1 :]:
                if _depth(below) <= d:
                    break
                if any(p in below for p in PY_NODES):
                    offending.setdefault(name, []).append(line.strip()[:160])
                    break
    assert not offending, (
        "native Filter scheduled above a Python eval node — move the "
        f"predicate below the Arrow boundary: {offending}"
    )


def test_python_node_queries_inventory(python_plans):
    """The sweep above is only meaningful if it actually covers the
    engine's Python-boundary queries: pin the full inventory so a
    rename of a physical node (Spark upgrade) that silently empties the
    sweep fails loudly here instead."""
    assert set(python_plans) == {
        "q_audio_decode",
        "q_multimodal_decode",
        "q_udaf_grouped",
        "q_udf_scalar",
        "q_udtf_chunks",
        "q_udtf_polymorphic",
        "q_udtf_table_arg",
        "q_video_frames",
    }, set(python_plans)


def _unused_imports(path: Path) -> list[str]:
    """``path:line: name`` for each imported name the module never
    reads. A name counts as read when it appears as an identifier
    anywhere in the file or as a string in ``__all__``. Exempt: imports
    on a line marked ``noqa: F401`` (kept for a side effect or a
    caller outside Python) and module-level imports of an
    ``__init__.py`` (package re-exports)."""
    src = path.read_text()
    tree = ast.parse(src)
    lines = src.splitlines()
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used |= {
                e.value
                for e in ast.walk(node.value)
                if isinstance(e, ast.Constant) and isinstance(e.value, str)
            }
    top = {id(n) for n in tree.body} if path.name == "__init__.py" else set()
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)) or id(node) in top:
            continue
        if getattr(node, "module", None) == "__future__":
            continue
        if "F401" in lines[node.lineno - 1]:
            continue
        for alias in node.names:
            name = alias.asname or alias.name.split(".")[0]
            if name != "*" and name not in used:
                found.append(f"{path.relative_to(REPO)}:{node.lineno}: {name}")
    return found


def test_no_unused_imports():
    """Every import in the engine package, ``tools/`` and the
    checkout-root scripts (bench.py, __spark_entry__.py,
    pyspark_graft_worker.py) is read somewhere in its module."""
    files = [
        *(REPO / "news_categorization_big_data_spark").rglob("*.py"),
        *(REPO / "tools").rglob("*.py"),
        *REPO.glob("*.py"),
    ]
    assert len(files) > 50, files
    found = [hit for path in sorted(files) for hit in _unused_imports(path)]
    assert not found, found
