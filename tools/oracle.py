"""The benchmark runner's result check, in one place: a query's Spark rows
against its DuckDB oracle by row count, sorted column names and an
order-insensitive value hash.

The hash is taken the way the benchmark runner takes it. The oracle is fetched
through ``fetchnumpy`` (not ``fetchall``): nullable BIGINT arrives as a
masked int64 array and renders ``5``, while HUGEINT (``count_if``, an
un-cast ``SUM`` of BIGINT) arrives as float64 and renders ``150.0``
against Spark's ``150``, and DATE arrives as a midnight datetime. Both
result sets also go through the runner's pandas sort, where a list or
array cell is unhashable and raises TypeError.

``mismatch`` is the whole check; tools/driver_sim.py and the tests'
``assert_oracle_match`` both call it.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter
from itertools import islice, repeat

import numpy.ma as ma
import pandas as pd

#: differing canonical lines shown per side when the hash differs, and
#: the characters kept of each
SAMPLE = 3
SAMPLE_CHARS = 200


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(float(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def _numpy_rows(arrs, cols) -> list[tuple]:
    """Python rows of a ``fetchnumpy()`` result: masked slots become None,
    numpy scalars become Python scalars through ``.tolist()`` (int64 stays
    int, float64 stays float)."""
    out_cols = []
    for c in cols:
        a = arrs[c]
        is_masked = isinstance(a, ma.MaskedArray)
        mask = ma.getmaskarray(a) if is_masked else repeat(False)
        data = a.data if is_masked else a
        out_cols.append(
            [None if m else (v.tolist() if hasattr(v, "tolist") else v) for v, m in zip(data, mask)]
        )
    return list(zip(*out_cols))


def sort_probe(rows, cols) -> None:
    """The runner's pandas sort over every column; raises where it raises."""
    df = pd.DataFrame(list(rows), columns=list(cols))
    if len(df):
        df.sort_values(by=sorted(df.columns), inplace=False)


def _lines(rows, cols) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def value_hash(rows, cols) -> str:
    return hashlib.sha256("\n".join(_lines(rows, cols)).encode()).hexdigest()[:16]


def mismatch(spark_df, con, sql: str) -> str | None:
    """None when ``spark_df`` matches the oracle ``sql`` on DuckDB
    connection ``con``, else the reason, with a sample of the differing
    canonical lines when only the values differ."""
    srows = [tuple(r) for r in spark_df.collect()]
    scols = spark_df.columns
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = _numpy_rows(res.fetchnumpy(), dcols)
    sort_probe(srows, scols)
    sort_probe(drows, dcols)
    if len(srows) != len(drows):
        return f"rows spark={len(srows)} oracle={len(drows)}"
    if sorted(scols) != sorted(dcols):
        return f"columns spark={sorted(scols)} oracle={sorted(dcols)}"
    if value_hash(srows, scols) == value_hash(drows, dcols):
        return None
    s, d = Counter(_lines(srows, scols)), Counter(_lines(drows, dcols))
    return f"value hash differs; spark-only {_sample(s - d)} oracle-only {_sample(d - s)}"


def _sample(lines: Counter) -> list[str]:
    return [line[:SAMPLE_CHARS] for line in islice(lines.elements(), SAMPLE)]
