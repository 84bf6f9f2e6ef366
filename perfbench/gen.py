"""Seeded input generator for the benchmark.

Writes the ten tables the engine's loaders read (``sources/tables.py``
``TABLES``) as single parquet files with the same column names and types
as the driver's testdata, and the JSON-lines message files the streaming
topology reads. The engine never sees anything but the generated files.

The content is drawn once from a fixed base seed; the run's seed then
drives row order, a per-run text token and the order of stream messages.
So the same seed gives byte-identical inputs, and different seeds give
different inputs of the same shape and amount of work (a seed that
re-drew the content would move near-duplicate counts and model
convergence, and with them the timings, by up to a fifth at these sizes).

Shapes follow the driver testdata: a TPC-H-like star schema (facts grow
with ``sf``, nations/regions fixed), an ``events`` table spread over 30
days, ``documents`` drawn from a 30-word vocabulary with about 5%
near-duplicates (an earlier document's text plus `` dup``), and 64-d
``embeddings``.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.44, 0.13, 0.15, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

#: Seed of the content; the run's seed only reorders and re-tags it.
BASE_SEED = 20240101

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale ``sf`` (the testdata's sf0.01 shape x 100*sf)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 100, n)
    words = np.array(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(chunk) for chunk in np.split(words, cuts)]
    # about 5% near-duplicates of an earlier document
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table in memory: base content, then the seed's row
    order and document token."""
    rng = np.random.default_rng(BASE_SEED)
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    np_ = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2),
        }
    )
    no = n["orders"]
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": pa.array(_EPOCH_1995 + odays * _DAY_US, pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    lkey = rng.integers(0, no, nl)
    order = np.argsort(lkey, kind="stable")
    sorted_keys = lkey[order]
    starts = np.searchsorted(sorted_keys, sorted_keys, side="left")
    linenumber = np.empty(nl, np.int64)
    linenumber[order] = np.arange(nl) - starts + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lkey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(np.minimum(linenumber, 7), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": pa.array(
                _EPOCH_1995 + (odays[lkey] + rng.integers(1, 96, nl)) * _DAY_US,
                pa.timestamp("us"),
            ),
        }
    )
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(_EPOCH_2024 + ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(10, nc // 10), ne), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(np.clip(rng.lognormal(2.5, 1.0, ne), 0.01, 490.0), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    # the per-run token keeps every document's shape: same length and
    # one extra distinct word for every seed
    texts = [f"{t} r{seed % 1000:03d}" for t in _texts(rng, nd)]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    vecs = rng.uniform(-0.5, 0.5, (nv, 64)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    # Row order is the run seed's: shuffle every fact table.
    reorder = np.random.default_rng(seed)
    for name in ("lineitem", "orders", "events", "documents"):
        t = out[name]
        out[name] = t.take(pa.array(reorder.permutation(t.num_rows)))
    return out


def build_fixture(root: str, seed: int, sf: float) -> str:
    """Write the seed's tables under ``root`` once; return the table dir.

    A ``MANIFEST.json`` (row counts and column names) is written last,
    so a directory without it is an interrupted build and is rebuilt.
    """
    d = os.path.join(root, f"sf{sf:g}-seed{seed}")
    manifest = os.path.join(d, "MANIFEST.json")
    if os.path.exists(manifest):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    counts, columns = {}, {}
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))
        counts[name] = table.num_rows
        columns[name] = table.column_names
    with open(manifest, "w") as f:
        json.dump({"seed": seed, "sf": sf, "rows": counts, "columns": columns}, f)
    return d


def manifest(table_dir: str) -> dict:
    with open(os.path.join(table_dir, "MANIFEST.json")) as f:
        return json.load(f)


class MessageFeed:
    """Seeded stream of reference-topology messages.

    Each message is one JSON line ``{"value": <payload string>}`` as the
    file-source stand-in reads it. Texts come from a fixed pool in an
    order the seed picks. About 2% are blank content and 2% are
    unparseable payloads (the poison cases of tests/test_streaming.py);
    every other message carries a unique ``m<seed>x<i>`` token, so the
    sink can be checked for exactly-once delivery.
    """

    POOL = 4096

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.pool = _texts(np.random.default_rng(BASE_SEED + 1), self.POOL)
        self.rng = np.random.default_rng(seed)
        self.sent = 0
        self.blank = 0
        self.poison = 0

    def lines(self, n: int, event_ts: list[str]) -> list[str]:
        texts = [self.pool[i] for i in self.rng.integers(0, self.POOL, n)]
        kinds = self.rng.random(n)
        out = []
        for i in range(n):
            mid = self.sent + i
            if kinds[i] < 0.02:
                self.poison += 1
                payload = '{"content": "m%dx%d' % (self.seed, mid)  # truncated JSON
            else:
                if kinds[i] < 0.04:
                    self.blank += 1
                    content = "   "
                else:
                    content = f"{texts[i]} m{self.seed}x{mid}"
                category = LANGS[int(self.rng.integers(0, 5))]
                payload = json.dumps(
                    {"content": content, "category": category, "event_ts": event_ts[i]}
                )
            out.append(json.dumps({"value": payload}))
        self.sent += n
        return out

    @property
    def tagged(self) -> int:
        """Messages whose unique token must reach the sink."""
        return self.sent - self.blank - self.poison


def write_message_file(stage_dir: str, src_dir: str, name: str, lines: list[str]) -> None:
    """Write a message file beside the source and rename it in, so the
    file source never lists a partly written file."""
    os.makedirs(stage_dir, exist_ok=True)
    tmp = os.path.join(stage_dir, name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(src_dir, name))
