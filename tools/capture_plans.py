"""Capture .explain("formatted") for registered queries into
plans/captured/ (git-ignored: regenerate dumps on demand, commit only
the before/after pairs a change cites).

Usage: python tools/capture_plans.py <suffix> [q_name ...]
  suffix: 'before' or 'after' (file name becomes plans/captured/<q>_<suffix>.txt)
  q_name: queries to capture; default = every registered query.

Plans are captured at the bench scale ($SPARK_GRAFT_SF_DIR, default
sf0.1) under the engine's tuned session — the same planning surface
bench.py times. explain() only plans (no execution), so the full
registry takes ~2 min.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from news_categorization_big_data_spark.plans import REGISTRY
from news_categorization_big_data_spark.session import get_spark


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or sorted(REGISTRY)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "captured",
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("ncbds-capture-plans")
    ok = err = 0
    for name in names:
        try:
            df = REGISTRY[name].builder(spark, sf_dir)
            text = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(text)
            ok += 1
        except Exception as exc:  # noqa: BLE001 - capture must not die mid-registry
            err += 1
            print(f"{name}: ERROR {exc}", flush=True)
    print(f"captured {ok} plans ({err} errors) -> {out_dir} (*_{suffix}.txt)")
    spark.stop()


if __name__ == "__main__":
    main()
