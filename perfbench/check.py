"""Correctness of a batch op: its collected rows against the registry's
DuckDB oracle on the same files, compared the way the external driver
compares them (row count, sorted column names, order-insensitive value
hash over DuckDB's numpy rendering). Ops without an oracle are checked by
row count being positive.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import numpy.ma as ma


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(float(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def value_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def _numpy_rows(arrs, cols):
    out_cols = []
    for c in cols:
        a = arrs[c]
        mask = ma.getmaskarray(a) if isinstance(a, ma.MaskedArray) else [False] * len(a)
        data = a.data if isinstance(a, ma.MaskedArray) else a
        out_cols.append([None if m else (v.tolist() if hasattr(v, "tolist") else v) for v, m in zip(data, mask)])
    return list(zip(*out_cols))


class Oracle:
    """DuckDB views over one fixture directory."""

    def __init__(self, table_dir: str, tables, tmp_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{tmp_dir}'")
        self.con.execute("SET threads=2")
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(table_dir, t)}.parquet'")

    def mismatch(self, spec, df) -> str | None:
        """None when ``df`` (the op's output) matches, else the reason."""
        srows = [tuple(r) for r in df.collect()]
        scols = df.columns
        if spec.oracle is None:
            return None if srows else "no rows"
        res = self.con.execute(spec.oracle)
        dcols = [d[0] for d in res.description]
        drows = _numpy_rows(res.fetchnumpy(), dcols)
        if len(srows) != len(drows):
            return f"rows {len(srows)} != oracle {len(drows)}"
        if sorted(scols) != sorted(dcols):
            return f"columns {sorted(scols)} != oracle {sorted(dcols)}"
        if value_hash(srows, scols) != value_hash(drows, dcols):
            return "value hash differs from oracle"
        return None

    def close(self) -> None:
        self.con.close()
