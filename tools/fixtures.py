"""One generator for the synthetic fixtures: the sf1 decade point and the
ten edge-data axes skew1 … skew10 (FIXTURES.md §D describes each axis and
names the tests and sweeps that consume it).

    python tools/fixtures.py AXIS [DST]    # DST defaults to /tmp/AXIS

The driver ships testdata only at sf{0.001,0.01,0.1} (TESTDATA.md), read
only. Each axis starts from one of those directories, rewrites the tables
it is about and copies every other table byte for byte. The rewrites are
deterministic — seeded generators, or pure functions of a row's keys (the
repo's determinism rule) — so a rebuild reproduces the same rows, and both
engines derive identical tables from the written parquet. Spark does the
rewrites that replicate or join (sf1, skew1-4); pyarrow does the
single-table edits (skew5-10), which build in seconds and so also run
in-process from the tests.

Also importable: ``build(axis, dst)``, ``duck_views(sf_dir)`` (the DuckDB
oracle connection over a fixture dir) and ``ensure_sf1(dst)`` (the sf1
build-if-absent of bench.py and the sf1 invariant tests).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
from collections.abc import Callable
from datetime import datetime, timezone
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from news_categorization_big_data_spark.session import get_spark
from news_categorization_big_data_spark.sources.tables import TABLES

TESTDATA = "/root/testdata"
#: Offset stride per replica — far above any source key.
STRIDE = 100_000_000

#: (src parquet path, dst parquet path) -> None
Rewrite = Callable[[str, str], None]


class Axis(NamedTuple):
    src: str
    rewrites: dict[str, Rewrite]


# ---- engines ----------------------------------------------------------------


def _spark(fn, partitions: int | None = None) -> Rewrite:
    """A DataFrame transform as a table rewrite, written as Spark part
    files (repartitioned first when ``partitions`` is given)."""

    def rewrite(src: str, dst: str) -> None:
        df = fn(get_spark("fixtures").read.parquet(src))
        (df.repartition(partitions) if partitions else df).write.parquet(dst)

    return rewrite


def _arrow(fn) -> Rewrite:
    """A pyarrow table transform as a single-file table rewrite."""

    def rewrite(src: str, dst: str) -> None:
        pq.write_table(fn(pq.read_table(src)), dst)

    return rewrite


def _seed(name: str) -> int:
    """A generator seed from a name's bytes: ``hash()`` is salted per
    process for str, so it would not reproduce the fixture."""
    return int.from_bytes(name.encode(), "little") % (2**32)


def _with(tab: pa.Table, **cols: pa.Array) -> pa.Table:
    """``tab`` with the named columns replaced in place."""
    for name, arr in cols.items():
        tab = tab.set_column(tab.schema.get_field_index(name), name, arr)
    return tab


# ---- sf1, skew1, skew2: replication -------------------------------------------


def _replicate(df, copies: int, keys: list[str], **cols):
    """``copies`` replicas of ``df``. Each surrogate key in ``keys`` is
    offset by replica * STRIDE, so keys stay unique while FKs into the
    untouched dimensions stay valid; ``cols`` then rewrites columns with
    expressions that may read the replica number ``_rep``."""
    rep = df.withColumn(
        "_rep", F.explode(F.sequence(F.lit(0).cast("long"), F.lit(copies - 1).cast("long")))
    )
    for key in keys:
        rep = rep.withColumn(key, F.col(key) + F.col("_rep") * STRIDE)
    return rep.withColumns(cols).drop("_rep")


def _rep_text(tail: str = ""):
    """Per-replica text suffix: ten verbatim copies of the corpus would
    collapse to one under exact dedup and inflate every near-dup bucket."""
    return F.when(F.col("text") == "", F.col("text")).otherwise(
        F.concat("text", F.lit(" rep"), F.col("_rep").cast("string"), F.lit(tail))
    )


def _sf1() -> dict[str, Rewrite]:
    """Facts x10 with offset surrogate keys; dimensions stay fixed, as in
    a real warehouse, so join selectivity is preserved. Events keep their
    timestamps (10x the density) and their user_id (10x-longer per-user
    histories)."""
    facts = {
        "events": ["event_id"],
        "orders": ["o_orderkey"],
        "lineitem": ["l_orderkey"],
        "embeddings": ["vec_id"],
    }
    out = {t: _spark(lambda df, k=k: _replicate(df, 10, k)) for t, k in facts.items()}
    out["documents"] = _spark(lambda df: _replicate(df, 10, ["doc_id"], text=_rep_text()))
    return out


#: skew1's hot head: three tokens already frequent in the corpus, so the
#: head is a heavier version of the real distribution.
HOT_PHRASE = " spark window table"


def _skew1() -> dict[str, Rewrite]:
    """events x100 with value jittered onto a near-unique cents grid, so
    the distinct-score tables of q_lift_bands / q_ml_auc are fact-scale;
    documents x10 with 24 repetitions of a 3-token hot head, pushing ~55%
    of the token stream onto 3 keys."""

    def jittered(ev):
        jitter = (F.col("_rep") * 100_000 + F.col("event_id") % 100_000).cast("double")
        value = F.round(F.col("value") + jitter / 100.0, 2)
        return _replicate(ev, 100, ["event_id", "user_id"], value=value)

    return {
        "events": _spark(jittered, 32),
        "documents": _spark(
            lambda df: _replicate(df, 10, ["doc_id"], text=_rep_text(HOT_PHRASE * 24))
        ),
    }


def _hot_user(df):
    """skew2: events x20 with user_id remapped by a hash of the unique
    replicated event_id — ~30% of rows on user 0, ~20% over users 1-9,
    the rest keep their own (replica-offset) user. Timestamps move by
    the replica number in seconds, so sessionization sees real gaps."""
    eid = F.col("event_id")
    bucket = F.pmod(F.xxhash64(eid), F.lit(10))
    user = (
        F.when(bucket < 3, F.lit(0))
        .when(bucket < 5, 1 + F.pmod(F.xxhash64(eid, F.lit(1)), F.lit(9)))
        .otherwise(F.col("user_id"))
    )
    return _replicate(
        df,
        20,
        ["event_id", "user_id"],
        ts=F.col("ts") + F.make_interval(secs=F.col("_rep")),
        user_id=user.cast("long"),
    )


# ---- skew3: giant documents -------------------------------------------------

#: (first doc_id, count, blocks per doc): one corpus text block is ~300
#: chars, so 28000 blocks ~ 8 MB. Total replaced volume ~ 36 MB.
GIANT_SPEC = [
    (0, 2, 28_000),  # ~8 MB
    (2, 2, 14_000),  # ~4 MB
    (4, 2, 7_000),  # ~2 MB
    (6, 2, 3_500),  # ~1 MB
    (8, 200, 110),  # ~32 KB mid-tail
]


def _giant_docs(docs):
    """The GIANT_SPEC doc_ids get their text replaced by a concatenation
    of the corpus's own texts: block j of doc d is the text whose doc_id
    rank is pmod(xxhash64(d, j), n_docs), so vocabulary and shingle
    statistics stay corpus-realistic. n_chars is recomputed."""
    n_docs = docs.count()
    idx = docs.select(
        (F.row_number().over(Window.orderBy("doc_id")) - 1).alias("bidx"),
        F.col("text").alias("btext"),
    )
    spec = docs.sparkSession.createDataFrame(
        [(first + i, blocks) for first, count, blocks in GIANT_SPEC for i in range(count)],
        "doc_id long, n_blocks int",
    )
    blocks = spec.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.col("n_blocks") - 1)).alias("j")
    ).withColumn("bidx", F.pmod(F.xxhash64("doc_id", "j"), F.lit(n_docs)))
    giant = (
        blocks.join(idx, "bidx")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "btext"))),
                    lambda s: s["btext"],
                ),
            ).alias("new_text")
        )
    )
    return (
        docs.join(giant, "doc_id", "left")
        .select("doc_id", F.coalesce("new_text", "text").alias("text"), "lang", "source")
        .withColumn("n_chars", F.length("text"))
    )


# ---- skew4, skew5: nulls ----------------------------------------------------


def _null_if(col: str, key: str, seed: int, pct: int):
    """NULL out ``col`` on a deterministic pct% of rows, by hash of ``key``."""
    return F.when(
        F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(100)) < pct, F.lit(None)
    ).otherwise(F.col(col))


def _null_events(ev):
    """~30% user_id NULL (the unauthenticated share), ~20% value NULL,
    ~10% props NULL."""
    return ev.withColumns(
        {
            "user_id": _null_if("user_id", "event_id", 1, 30).cast("long"),
            "value": _null_if("value", "event_id", 2, 20),
            "props": _null_if("props", "event_id", 3, 10),
        }
    )


def _null_docs(docs):
    """~5% text NULL, ~5% text '', ~10% lang NULL; n_chars recomputed."""
    bucket = F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(100))
    text = (
        F.when(bucket < 5, F.lit(None))
        .when(bucket < 10, F.lit(""))
        .otherwise(F.col("text"))
    )
    return docs.select(
        "doc_id",
        text.alias("text"),
        _null_if("lang", "doc_id", 8, 10).alias("lang"),
        "source",
    ).withColumn("n_chars", F.length("text"))


#: skew5: (table, column) -> null fraction. Keys get moderate rates (a
#: null FK row must be common enough to land inside every top-k
#: boundary); measures and dates lighter ones. nation/region stay
#: null-free: they are SF-constant dims the engine pins broadcast hints
#: on, and a null nationkey is exercised from the FK side.
NULL_RATES: dict[str, dict[str, float]] = {
    "lineitem": {
        "l_orderkey": 0.05,
        "l_partkey": 0.05,
        "l_suppkey": 0.05,
        "l_quantity": 0.04,
        "l_extendedprice": 0.04,
        "l_discount": 0.04,
        "l_tax": 0.04,
        "l_returnflag": 0.06,
        "l_linestatus": 0.06,
        "l_shipdate": 0.05,
    },
    "orders": {
        "o_orderkey": 0.02,
        "o_custkey": 0.10,
        "o_orderstatus": 0.06,
        "o_totalprice": 0.05,
        "o_orderdate": 0.05,
        "o_orderpriority": 0.06,
    },
    "customer": {
        "c_custkey": 0.02,
        "c_name": 0.05,
        "c_nationkey": 0.10,
        "c_acctbal": 0.08,
        "c_mktsegment": 0.10,
    },
    "supplier": {
        "s_suppkey": 0.02,
        "s_name": 0.05,
        "s_nationkey": 0.10,
        "s_acctbal": 0.10,
    },
    "part": {
        "p_partkey": 0.02,
        "p_name": 0.05,
        "p_brand": 0.06,
        "p_type": 0.06,
        "p_size": 0.06,
        "p_retailprice": 0.06,
    },
}


def _null_out(table: str):
    """NULL_RATES[table] applied with one seeded generator per column."""

    def fn(tab: pa.Table) -> pa.Table:
        cols = {}
        for col, rate in NULL_RATES[table].items():
            rng = np.random.default_rng(_seed(f"{table}.{col}"))
            keep = pa.array(~(rng.random(tab.num_rows) < rate))
            arr = tab.column(col).combine_chunks()
            cols[col] = pc.if_else(keep, arr, pa.scalar(None, type=arr.type))
        return _with(tab, **cols)

    return fn


# ---- skew7, skew8: value domain ---------------------------------------------


def _nonfinite_values(ev: pa.Table) -> pa.Table:
    """events.value: 3% NaN, 1.5% +Inf, 1.5% -Inf."""
    vals = ev.column("value").combine_chunks().to_numpy(zero_copy_only=False).copy()
    r = np.random.default_rng(_seed("events.value")).random(len(vals))
    vals[r < 0.03] = np.nan
    vals[(r >= 0.03) & (r < 0.045)] = np.inf
    vals[(r >= 0.045) & (r < 0.06)] = -np.inf
    return _with(ev, value=pa.array(vals, type=pa.float64()))


def _nan_vectors(em: pa.Table) -> pa.Table:
    """2% of embedding vectors get one NaN component."""
    emb = em.column("embedding").combine_chunks()
    vecs = emb.to_pylist()
    rng = np.random.default_rng(_seed("embeddings.embedding"))
    for i, vec in enumerate(vecs):
        if vec and rng.random() < 0.02:
            vecs[i] = list(vec)
            vecs[i][int(rng.integers(0, len(vec)))] = float("nan")
    return _with(em, embedding=pa.array(vecs, type=emb.type))


def _unique_values(ev: pa.Table) -> pa.Table:
    """events.value: a seeded permutation of a distinct lattice over the
    standard [0, 500) range plus jitter far below the lattice gap —
    all-distinct by construction, continuous in distribution."""
    n = ev.num_rows
    rng = np.random.default_rng(_seed("events.value.unique"))
    vals = rng.permutation(n).astype(np.float64) * (500.0 / n) + rng.random(n) * 1e-6
    assert len(np.unique(vals)) == n, "fixture must be all-distinct"
    return _with(ev, value=pa.array(vals, type=pa.float64()))


# ---- skew9: mixed-script text -----------------------------------------------

#: One rendering per script family, applied to a token by suffix or wrap,
#: so distinct ASCII tokens stay distinct after rendering.
_FAMILIES = [
    # accented latin: swap vowels for accented forms
    lambda t: t.translate(str.maketrans("aeiou", "àéîöü")),
    # cyrillic lookalikes for a few letters
    lambda t: t.translate(str.maketrans("aeokcpxt", "аеоксрхт")),
    # greek suffix
    lambda t: t + "λόγος"[: 1 + len(t) % 3],
    # CJK suffix
    lambda t: t + "的数据引擎"[: 1 + len(t) % 3],
    # kana suffix
    lambda t: t + "データ"[: 1 + len(t) % 3],
    # hangul suffix
    lambda t: t + "데이터"[: 1 + len(t) % 3],
    # arabic (RTL) suffix
    lambda t: t + "بيانات"[: 1 + len(t) % 3],
    # devanagari suffix
    lambda t: t + "डेटा"[: 1 + len(t) % 3],
    # emoji suffix (astral plane -> JVM surrogate pair)
    lambda t: t + "😀🔥✨"[len(t) % 3],
    # combining mark: decomposed e + COMBINING ACUTE appended
    lambda t: t + "e\u0301",
    # full-width render of the first two chars
    lambda t: "".join(
        chr(ord(c) - 0x61 + 0xFF41) if "a" <= c <= "z" else c for c in t[:2]
    )
    + t[2:],
    # case-fold hazards: German ß, Turkish dotless ı, Greek final ς
    lambda t: t + "ßız"[len(t) % 3] + ("ς" if len(t) % 2 else "İ"),
]

#: Doc-level spice tokens no vocab token contains: ZWJ family emoji,
#: NBSP-glued pair (one token to ASCII \s+), bidi-embedded word,
#: ideographic-space neighbor.
_SPICE = [
    "👩\u200d💻",
    "no\u00a0break",
    "\u202bمرحبا\u202c",
    "全\u3000角",
]


def render_token(tok: str) -> str:
    """Deterministic mixed-script rendering; identity for ~1/4 of tokens
    so plain-ASCII paths stay represented in the same corpus."""
    h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:4], "little")
    if h % 4 == 0:
        return tok
    return _FAMILIES[h % len(_FAMILIES)](tok)


def render_text(doc_id: int, text: str) -> str:
    """Every token rendered; one doc in 8 also gets a spice token."""
    toks = [render_token(t) for t in text.split(" ") if t != ""]
    if doc_id % 8 == 0 and toks:
        toks.insert(doc_id % len(toks), _SPICE[(doc_id // 8) % len(_SPICE)])
    return " ".join(toks)


def _unicode_docs(docs: pa.Table) -> pa.Table:
    """Each vocab token keeps one fixed rendering, so the corpus's
    document-frequency structure is preserved exactly; n_chars becomes
    the code-point length of the new text."""
    texts = docs.column("text").to_pylist()
    vocab = {t for txt in texts if txt for t in txt.split(" ") if t}
    assert len({render_token(t) for t in vocab}) == len(vocab), "rendering collision"
    new = [
        render_text(i, t) if t is not None else None
        for i, t in zip(docs.column("doc_id").to_pylist(), texts)
    ]
    return _with(
        docs,
        text=pa.array(new, type=pa.string()),
        n_chars=pa.array([None if t is None else len(t) for t in new], type=pa.int64()),
    )


# ---- skew10: timestamp edges ------------------------------------------------

US = 1_000_000
HOUR_US = 3600 * US


def _epoch_us(*ymd_hms: int) -> int:
    return int(datetime(*ymd_hms, tzinfo=timezone.utc).timestamp()) * US


#: Nothing below 1901 (Spark's reader raises rebase errors for ancient
#: hybrid-calendar timestamps) and nothing past pandas' 2262 ns ceiling.
PRE1970_US = _epoch_us(1955, 6, 15, 7, 30, 0)
FUTURE_US = _epoch_us(2250, 1, 1, 0, 0, 0)
ANCHOR_US = _epoch_us(2024, 3, 1, 12, 0, 0)  # hot duplicate ts


def mutate_events_ts(event_id: np.ndarray, ts_us: np.ndarray):
    """Return (new_ts_us int64 array, null_mask) — pure fn of event_id."""
    cls = event_id % 37
    out = ts_us.copy()
    null = cls == 0
    # pre-1970 with a µs fraction spread across the day
    sel = cls == 1
    out[sel] = PRE1970_US + (event_id[sel] * 1031) % (86400 * US)
    out[cls == 2] = 0  # epoch exactly zero
    out[cls == 3] = -1  # 1969-12-31 23:59:59.999999
    sel = cls == 4
    out[sel] = FUTURE_US + (event_id[sel] % 365) * 86400 * US + event_id[sel]
    sel = cls == 5  # exact hour boundary (floor of the original)
    out[sel] = (ts_us[sel] // HOUR_US) * HOUR_US
    sel = cls == 6  # 1 µs BEFORE the hour boundary
    out[sel] = (ts_us[sel] // HOUR_US) * HOUR_US - 1
    out[cls == 7] = ANCHOR_US  # hot tie group (~2.7% of rows)
    return out, null


def mutate_date(keys: np.ndarray, d_us: np.ndarray, mod: int, pre: int, fut: int):
    cls = keys % mod
    out = d_us.copy()
    null = cls == 0
    out[cls == 1] = pre
    out[cls == 2] = fut
    out[cls == 3] = 0
    return out, null


def _ts_array(us: np.ndarray, null: np.ndarray) -> pa.Array:
    return pa.array(
        [None if n else int(v) for v, n in zip(us, null)], type=pa.timestamp("us")
    )


def _ts_us(tab: pa.Table, col: str) -> np.ndarray:
    return tab.column(col).cast(pa.int64()).to_numpy()


def _edge_event_ts(ev: pa.Table) -> pa.Table:
    eid = ev.column("event_id").to_numpy()
    return _with(ev, ts=_ts_array(*mutate_events_ts(eid, _ts_us(ev, "ts"))))


def _edge_orderdate(od: pa.Table) -> pa.Table:
    new_us, null = mutate_date(
        od.column("o_orderkey").to_numpy(),
        _ts_us(od, "o_orderdate"),
        41,
        _epoch_us(1969, 12, 31, 0, 0, 0),
        _epoch_us(2250, 6, 1, 0, 0, 0),
    )
    return _with(od, o_orderdate=_ts_array(new_us, null))


def _edge_shipdate(li: pa.Table) -> pa.Table:
    line = li.column("l_linenumber").to_numpy().astype(np.int64)
    new_us, null = mutate_date(
        li.column("l_orderkey").to_numpy() * 8 + line,
        _ts_us(li, "l_shipdate"),
        43,
        _epoch_us(1968, 7, 20, 0, 0, 0),
        _epoch_us(2249, 12, 31, 0, 0, 0),
    )
    return _with(li, l_shipdate=_ts_array(new_us, null))


# ---- the axes ---------------------------------------------------------------

SF0001, SF001, SF01 = (f"{TESTDATA}/sf{s}" for s in ("0.001", "0.01", "0.1"))

AXES: dict[str, Axis] = {
    "sf1": Axis(SF01, _sf1()),
    "skew1": Axis(SF01, _skew1()),
    "skew2": Axis(SF01, {"events": _spark(_hot_user, 8)}),
    "skew3": Axis(SF01, {"documents": _spark(_giant_docs, 8)}),
    "skew4": Axis(
        SF01,
        {
            "events": _spark(_null_events, 8),
            "documents": _spark(_null_docs, 4),
        },
    ),
    "skew5": Axis(SF001, {t: _arrow(_null_out(t)) for t in NULL_RATES}),
    "skew6": Axis(SF0001, {t: _arrow(lambda tab: tab.slice(0, 0)) for t in TABLES}),
    "skew7": Axis(
        SF001,
        {"events": _arrow(_nonfinite_values), "embeddings": _arrow(_nan_vectors)},
    ),
    "skew8": Axis(SF001, {"events": _arrow(_unique_values)}),
    "skew9": Axis(SF001, {"documents": _arrow(_unicode_docs)}),
    "skew10": Axis(
        SF001,
        {
            "events": _arrow(_edge_event_ts),
            "orders": _arrow(_edge_orderdate),
            "lineitem": _arrow(_edge_shipdate),
        },
    ),
}


def _table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def build(axis: str, dst: str) -> None:
    """Write fixture ``axis`` to ``dst``, replacing whatever was there.
    Tables go into a sibling ``.partial`` directory that is renamed onto
    ``dst`` only once every table is written, so a killed build leaves
    no ``dst`` at all rather than one with tables missing."""
    src, rewrites = AXES[axis]
    dst = os.path.normpath(dst)
    tmp = dst + ".partial"
    for d in (dst, tmp):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    for name in TABLES:
        if name in rewrites:
            rewrites[name](_table_path(src, name), _table_path(tmp, name))
            print(f"{name}: rewritten", flush=True)
        else:
            shutil.copyfile(_table_path(src, name), _table_path(tmp, name))
    os.replace(tmp, dst)
    print(f"{axis} written to {dst}", flush=True)


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of ``sf_dir``. A table
    may be a single parquet file or a Spark directory of part files."""
    con = duckdb.connect()
    for name in TABLES:
        path = _table_path(sf_dir, name)
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    return con


def _complete(sf_dir: str) -> bool:
    return all(os.path.exists(_table_path(sf_dir, name)) for name in TABLES)


def ensure_sf1(dst: str) -> str | None:
    """``dst`` once it holds the sf1 fixture, building it first if it is
    absent or incomplete; None when the build fails. The build runs in a
    subprocess, so its Spark session never meets the caller's."""
    if not _complete(dst):
        try:
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "sf1", dst],
                capture_output=True,
                timeout=900,
            )
        except (OSError, subprocess.SubprocessError):
            pass
    return dst if _complete(dst) else None


def main(argv: list[str]) -> None:
    if not 1 <= len(argv) <= 2 or argv[0] not in AXES:
        sys.exit(f"usage: python tools/fixtures.py {{{'|'.join(AXES)}}} [DST]")
    build(argv[0], argv[1] if len(argv) > 1 else f"/tmp/{argv[0]}")


if __name__ == "__main__":
    main(sys.argv[1:])
