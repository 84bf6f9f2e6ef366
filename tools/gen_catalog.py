"""Generate CATALOG.md — the full registered-query catalog — from the
live REGISTRY: `python tools/gen_catalog.py`. One row per query with
tier and the first sentence of its doc, so the
catalog can never drift from the code (regenerate after registering)."""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

from news_categorization_big_data_spark.plans import REGISTRY, ROTATION_PENDING  # noqa: E402

TIER_NAMES = {
    "A": "A (reference-literal)",
    "B": "B (relational core)",
    "C": "C (LLM-pipeline)",
}


def first_sentence(doc: str) -> str:
    text = " ".join((doc or "").split())
    m = re.search(r"(?<=[.!?]) (?=[A-Z])", text)
    s = text[: m.start()] if m else text
    return (s[:177] + "...") if len(s) > 180 else s


def main() -> None:
    lines = [
        "# Query catalog",
        "",
        "Generated by `python tools/gen_catalog.py` from the live registry — "
        f"{len(REGISTRY)} queries in driver evaluation order, each "
        "hash-checked against its DuckDB oracle. A summary starting "
        "**pending** marks a query registered after the current round's "
        "50-slot driver window froze; its official row arrives next "
        "rotation (pytest- and driver-sim-green meanwhile).",
        "",
        "| # | query | tier | summary |",
        "|---|---|---|---|",
    ]
    for i, (name, spec) in enumerate(REGISTRY.items(), start=1):
        summary = first_sentence(spec.doc).replace("|", "\\|")
        if name in ROTATION_PENDING:
            summary = f"**pending** {summary}"
        lines.append(f"| {i} | {name} | {spec.tier} | {summary} |")
    out = str(REPO_ROOT / "CATALOG.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(REGISTRY)} queries")


if __name__ == "__main__":
    main()
