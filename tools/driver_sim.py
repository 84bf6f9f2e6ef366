"""Simulates the external driver: vanilla SparkSession (NOT the engine's
tuned factory), import __spark_entry__, smoke entry(), then run every
queries() entry at sf0.01 and hash-compare against oracle_sql() via DuckDB.

Deliberately NO clearCache between queries — one session, like the real
driver. Cache lifetime under that session is QUERY-SCOPED since round 9:
plans that persist an intermediate route it through pin()
(functions/cachepin.py), and the registry wrapper calls release_pins()
at the start of every registered build, so at most one query's pinned
blocks are resident at a time and a later query can NOT read an earlier
query's materialization (each build starts pin-cold; correctness was
never at stake either way — unpersist downgrades to lineage recompute).
Per-query TIMINGS here are still not isolated (JVM/JIT/page-cache warmth
carries over) — bench.py, which does clearCache between reps, is the
timing surface. The tail of the run releases the LAST query's pins
explicitly (the one lifetime the registry wrapper cannot end)."""
import hashlib, json, math, os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
import duckdb

SF = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# deliberately vanilla: no engine confs at all
spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as entrymod

# --- t1 smoke ---
df = entrymod.entry(spark)
rows = df.collect()
print(f"t1 entry: {len(rows)} rows, schema={df.columns}", flush=True)
assert len(rows) > 0

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def canon(v):
    if v is None: return "NULL"
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return repr(float(v))
    if isinstance(v, (list, tuple)): return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)

def _numpy_rows(arrs, cols):
    """Render a fetchnumpy() result as python rows: masked slots -> None,
    numpy scalars -> python scalars via .tolist() (int64 stays int,
    float64 stays float — so HUGEINT's float64 conversion is visible)."""
    from itertools import repeat

    import numpy.ma as ma

    out_cols = []
    for c in cols:
        a = arrs[c]
        is_masked = isinstance(a, ma.MaskedArray)
        mask = ma.getmaskarray(a) if is_masked else repeat(False)
        data = a.data if is_masked else a
        out_cols.append([
            None if m else (v.tolist() if hasattr(v, "tolist") else v)
            for v, m in zip(data, mask)
        ])
    return list(zip(*out_cols))


def driver_canon_probe(rows, cols):
    """Replicate the real driver's canonicalization path: both result
    sets are loaded into pandas and sorted with ``sort_values`` over
    every column. A list/struct cell arrives as a numpy array, which is
    unhashable — pandas' lexsort factorization raises TypeError and the
    driver records the query as an error (observed: q_embedding_quantize,
    CORRECTNESS_r03). Run the same sort here so the sim fails the same
    way BEFORE the official run does."""
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
results = {}
t_all = time.time()
# Insertion order, like the real driver (which evaluates only the first
# 50 entries); everything is run here, with the window boundary marked.
for pos, (name, fn) in enumerate(queries.items(), 1):
    if pos == 51:
        print("  ---- driver's 50-entry correctness window ends here ----", flush=True)
    t0 = time.time()
    try:
        sdf = fn(spark, SF)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        if name in oracles:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            # Fetch through numpy like the REAL driver (not fetchall).
            # This reproduces the driver's rendering exactly as observed
            # across r01/r02: nullable BIGINT arrives as a masked int64
            # array (NULLs preserved, values render "5" — those queries
            # were officially green), while HUGEINT (count_if, un-cast
            # SUM of BIGINT) arrives as plain float64 and renders "150.0"
            # vs Spark's "150" — exactly the five official red hashes.
            # fetchall()'s native ints masked that whole class.
            drows = _numpy_rows(res.fetchnumpy(), dcols)
            driver_canon_probe(srows, scols)
            driver_canon_probe(drows, dcols)
            ok_rows = len(srows) == len(drows)
            ok_schema = sorted(scols) == sorted(dcols)
            ok_hash = value_hash(srows, scols) == value_hash(drows, dcols)
            status = "MATCH" if (ok_rows and ok_schema and ok_hash) else f"MISMATCH rows={ok_rows} schema={ok_schema} hash={ok_hash}"
        else:
            # the REAL driver canonicalizes rows-only results through the
            # same pandas sort (q_quantile_sketch redded r04 there)
            driver_canon_probe(srows, scols)
            status = f"ROWS_ONLY n={len(srows)}"
        results[name] = status
    except Exception as ex:
        results[name] = f"ERROR {type(ex).__name__}: {str(ex)[:2000]}"
    print(f"  {name}: {results[name]} ({time.time()-t0:.1f}s)", flush=True)

# Release the LAST query's pins — the registry wrapper only releases at
# the NEXT build, so without this the final query's blocks would outlive
# the sweep (ADVICE round 9).
from news_categorization_big_data_spark.functions.cachepin import release_pins

release_pins()

bad = {k: v for k, v in results.items() if v != "MATCH" and not v.startswith("ROWS_ONLY")}
print(f"\nTOTAL {len(results)} queries in {time.time()-t_all:.0f}s; {len(bad)} failures")
print(json.dumps(bad, indent=1) if bad else "ALL OK")
spark.stop()
sys.exit(1 if bad else 0)
