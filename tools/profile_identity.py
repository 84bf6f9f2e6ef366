"""Assert the 100-TB profile (bench.py PROFILE_100TB) is output-identical
to the default configuration for every bench headline query — one
session, confs toggled between builds, sorted-row comparison per query
(round-9 VERDICT item 4's identity leg; the timing leg is two bench.py
runs recorded in SCALE.md).

Usage: python tools/profile_identity.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, PROFILE_100TB
from news_categorization_big_data_spark.functions.cachepin import release_pins
from news_categorization_big_data_spark.plans import REGISTRY
from news_categorization_big_data_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("profile-identity", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    bad = []
    for name in HEADLINE:
        builder = REGISTRY[name].builder

        for k in PROFILE_100TB:
            spark.conf.unset(k)
        spark.catalog.clearCache()
        release_pins()
        default_rows = sorted(map(tuple, builder(spark, sf_dir).collect()))

        for k, v in PROFILE_100TB.items():
            spark.conf.set(k, v)
        spark.catalog.clearCache()
        release_pins()
        profile_rows = sorted(map(tuple, builder(spark, sf_dir).collect()))

        ok = default_rows == profile_rows
        print(f"  {name}: {'IDENTICAL' if ok else 'DIVERGED'} ({len(default_rows)} rows)", flush=True)
        if not ok:
            diff = [
                (a, b) for a, b in zip(default_rows, profile_rows) if a != b
            ][:3]
            print(f"    first diffs: {diff}")
            bad.append(name)

    release_pins()
    print(f"\n{len(HEADLINE)} queries; {len(bad)} diverged" + (f": {bad}" if bad else " — profile is output-identical"))
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
