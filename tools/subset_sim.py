"""Driver-sim for a SUBSET of queries: `python tools/subset_sim.py q_a q_b ...`
(no args = every query). Identical fetch/canon/hash path to
tools/driver_sim.py — fetchnumpy oracle rendering, column-name-sorted
sha256 — but skips entry() smoke and lets you iterate on one query in
seconds instead of re-running all of them.

SPARK_GRAFT_SIM_SF (optional): sf dir to run BOTH the Spark query and
the DuckDB oracle against (default sf0.01 — the driver's point). Used
to prove the overflow-sensitive exact-arithmetic family at sf0.1
oracle scale (round-9 VERDICT item 1).

SPARK_GRAFT_SIM_CONF (optional): comma-separated k=v session confs set
AFTER session creation — used to prove conf-gated alternate plans (the
spark.graft.* valves) against the same oracles the driver hashes, e.g.
`SPARK_GRAFT_SIM_CONF=spark.graft.window.ranged=true`."""
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from tools.fixtures import duck_views

SF = os.environ.get("SPARK_GRAFT_SIM_SF", "/root/testdata/sf0.01")

spark = SparkSession.builder.master("local[8]").appName("subset-sim").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
for kv in filter(None, os.environ.get("SPARK_GRAFT_SIM_CONF", "").split(",")):
    k, _, v = kv.partition("=")
    spark.conf.set(k.strip(), v.strip())
    print(f"  [conf] {k.strip()}={v.strip()}", flush=True)

import __spark_entry__ as entrymod

con = duck_views(SF)


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(float(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def _numpy_rows(arrs, cols):
    from itertools import repeat

    import numpy.ma as ma

    out_cols = []
    for c in cols:
        a = arrs[c]
        is_masked = isinstance(a, ma.MaskedArray)
        mask = ma.getmaskarray(a) if is_masked else repeat(False)
        data = a.data if is_masked else a
        out_cols.append(
            [
                None if m else (v.tolist() if hasattr(v, "tolist") else v)
                for v, m in zip(data, mask)
            ]
        )
    return list(zip(*out_cols))


def driver_canon_probe(rows, cols):
    """Mirror tools/driver_sim.py: the real driver sorts both result
    sets through pandas; unhashable cells (numpy arrays) crash it."""
    import pandas as pd

    df = pd.DataFrame(list(rows), columns=list(cols))
    if len(df):
        df.sort_values(by=sorted(df.columns), inplace=False)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


queries = entrymod.queries()
oracles = entrymod.oracle_sql()
names = sys.argv[1:] or list(queries)
unknown = [n for n in names if n not in queries]
if unknown:
    sys.exit(f"unknown queries: {unknown}")

failures = 0
for name in names:
    t0 = time.time()
    try:
        sdf = queries[name](spark, SF)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        if name not in oracles:
            # the REAL driver canonicalizes rows-only results through the
            # same pandas sort (q_quantile_sketch redded r04 there)
            driver_canon_probe(srows, scols)
            print(f"  {name}: ROWS_ONLY n={len(srows)} ({time.time() - t0:.1f}s)")
            continue
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = _numpy_rows(res.fetchnumpy(), dcols)
        driver_canon_probe(srows, scols)
        driver_canon_probe(drows, dcols)
        ok_rows = len(srows) == len(drows)
        ok_schema = sorted(scols) == sorted(dcols)
        ok_hash = value_hash(srows, scols) == value_hash(drows, dcols)
        if ok_rows and ok_schema and ok_hash:
            status = "MATCH"
        else:
            status = (
                f"MISMATCH rows={ok_rows} schema={ok_schema} hash={ok_hash}"
                f" n_spark={len(srows)} n_oracle={len(drows)}"
            )
            failures += 1
    except Exception as ex:
        status = f"ERROR {type(ex).__name__}: {str(ex)[:150]}"
        failures += 1
    print(f"  {name}: {status} ({time.time() - t0:.1f}s)", flush=True)

spark.stop()
sys.exit(1 if failures else 0)
