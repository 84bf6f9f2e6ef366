"""Simulates the external benchmark runner against the DuckDB oracle:

    python tools/driver_sim.py              # entry() smoke, then every query
    python tools/driver_sim.py q_a q_b ...  # only the named queries

A vanilla SparkSession (NOT the engine's tuned factory) imports
__spark_entry__ from the checkout this file sits in, so a scratch copy
of another commit tests that commit. Each queries() entry is compared
with its oracle_sql() on DuckDB views over the same sf dir through
tools/oracle.py, the runner's own check. A full run goes in insertion
order, like the runner, and marks where the runner's 50-entry
correctness window ends.

Deliberately NO clearCache between queries — one session, like the real
runner. Cache lifetime is query-scoped: the registry wrapper releases
the previous query's pins (functions/cachepin.py) at the start of every
build, and the sim releases the last query's pins at exit. Per-query
timings are not isolated (JVM/JIT/page-cache warmth carries over);
bench.py is the timing surface.

SPARK_GRAFT_SIM_SF (optional): the sf dir both Spark and DuckDB read
(default sf0.01, the runner's point); an edge axis of tools/fixtures.py
works too.

The contract's git stamp (CORRECTNESS_GIT.json) goes to a temp file, so
a run leaves the checkout as it found it.

Exits 1 on any ERROR or MISMATCH."""

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from news_categorization_big_data_spark.functions.cachepin import release_pins
from tools.fixtures import TESTDATA, duck_views
from tools.oracle import mismatch

SF = os.environ.get("SPARK_GRAFT_SIM_SF", os.path.join(TESTDATA, "sf0.01"))
#: characters of an exception message kept in the report
ERR_CHARS = 500


def main(names: list[str]) -> int:
    # queries() refreshes the tracked CORRECTNESS_GIT.json for the
    # runner; a simulated run must leave the checkout clean.
    stamp_dir = tempfile.TemporaryDirectory()
    entrymod._GIT_STAMP_PATH = os.path.join(stamp_dir.name, "CORRECTNESS_GIT.json")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = [n for n in names if n not in queries]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if not names:
        df = entrymod.entry(spark)
        rows = df.collect()
        print(f"t1 entry: {len(rows)} rows, schema={df.columns}", flush=True)
        if not rows:
            sys.exit("entry() returned no rows")

    con = duck_views(SF)
    results = {}
    t_all = time.time()
    for pos, name in enumerate(names or queries, 1):
        if not names and pos == 51:
            print("  ---- runner's 50-entry correctness window ends here ----", flush=True)
        t0 = time.time()
        try:
            reason = mismatch(queries[name](spark, SF), con, oracles[name])
            results[name] = "MATCH" if reason is None else f"MISMATCH {reason}"
        except Exception as ex:
            results[name] = f"ERROR {type(ex).__name__}: {str(ex)[:ERR_CHARS]}"
        print(f"  {name}: {results[name]} ({time.time() - t0:.1f}s)", flush=True)

    release_pins()
    con.close()
    bad = {k: v for k, v in results.items() if v != "MATCH"}
    print(f"\nTOTAL {len(results)} queries in {time.time() - t_all:.0f}s; {len(bad)} failures")
    print(json.dumps(bad, indent=1) if bad else "ALL OK")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
