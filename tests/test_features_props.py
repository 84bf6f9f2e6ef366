"""Property-based checks for the feature-engineering tier's extracted
operators: largest-remainder allocation and multi-source BFS vs Python
brute force on generated inputs, and the lift-band integer banding
invariants on generated score/label populations."""

from __future__ import annotations

from collections import deque

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from news_categorization_big_data_spark.operators.graph import bfs_hops
from news_categorization_big_data_spark.plans.features import (
    alloc_largest_remainder,
)


@settings(max_examples=12, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=10),
    st.integers(min_value=1, max_value=200),
)
def test_alloc_matches_python_hamilton(spark, counts, budget):
    rows = [(i, n) for i, n in enumerate(counts)]
    df = spark.createDataFrame(rows, "k long, n long")
    got = {
        r["k"]: r["alloc"]
        for r in alloc_largest_remainder(df, budget, "k", "n").collect()
    }

    total = sum(counts)
    base = {i: (budget * n) // total for i, n in enumerate(counts)}
    rem = {i: (budget * n) % total for i, n in enumerate(counts)}
    extra = budget - sum(base.values())
    order = sorted(range(len(counts)), key=lambda i: (-rem[i], i))
    want = dict(base)
    for i in order[:extra]:
        want[i] += 1

    assert got == want
    assert sum(got.values()) == budget


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=25,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_bfs_matches_python_bfs(spark, raw_edges, hops):
    edges = [(a, b) for a, b in raw_edges if a != b]
    if not edges:
        return
    both = edges + [(b, a) for a, b in edges]
    ed = spark.createDataFrame(both, "src long, dst long")
    verts = sorted({v for e in both for v in e})
    seeds = spark.createDataFrame([(verts[0],), (verts[-1],)], "doc_id long")
    got = {
        r["doc_id"]: r["hop"]
        for r in bfs_hops(ed, seeds, hops).collect()
    }

    adj: dict[int, set[int]] = {}
    for a, b in both:
        adj.setdefault(a, set()).add(b)
    want: dict[int, int] = {}
    dq = deque()
    for s in {verts[0], verts[-1]}:
        want[s] = 0
        dq.append(s)
    while dq:
        v = dq.popleft()
        if want[v] == hops:
            continue
        for u in adj.get(v, ()):
            if u not in want:
                want[u] = want[v] + 1
                dq.append(u)

    assert got == want


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),  # score (small domain → ties)
            st.booleans(),
        ),
        min_size=2,
        max_size=60,
    )
)
def test_lift_banding_invariants(spark, pop):
    """The ceil-division banding must partition the population into at
    most 10 monotone bands where ties never split, and each band's
    CUMULATIVE population never exceeds ceil(band * N / 10)."""
    df = spark.createDataFrame(
        [(float(s), 1 if l else 0) for s, l in pop], "score double, label int"
    )
    by_score = df.groupBy("score").agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"))
    cum = by_score.select(
        "score",
        "n",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("n").over(Window.partitionBy()).alias("n_g"),
    )
    banded = cum.select(
        "score", "n", "cum_n", F.expr("(10 * cum_n + n_g - 1) div n_g").alias("band")
    ).collect()

    n_g = sum(1 for _ in pop)
    seen: dict[float, int] = {}
    rows = sorted(banded, key=lambda r: -r["score"])
    prev_band = 0
    for r in rows:
        assert 1 <= r["band"] <= 10
        assert r["band"] >= prev_band  # monotone in descending score
        prev_band = r["band"]
        # ties (one distinct score) land in exactly one band
        assert seen.setdefault(r["score"], r["band"]) == r["band"]
        # cumulative population through this band's last member fits
        assert r["cum_n"] * 10 <= r["band"] * n_g + (n_g - 1)
    assert rows[-1]["band"] * n_g >= 10 * n_g - (n_g - 1)  # last band is 10


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(
            # the operator's regime: daily value SUMS, i.e. O(1)-O(1e4)
            # positives (the 1e-6 micro-grid is absolute; feeding it
            # denormals would measure the grid, not the operator)
            st.floats(min_value=1.0, max_value=5000.0, allow_nan=False),
            st.floats(min_value=1.0, max_value=5000.0, allow_nan=False),
        ),
        min_size=1,
        max_size=15,
    ),
    st.integers(min_value=2, max_value=7),
)
def test_rolling_corr_matches_numpy(spark, series, days):
    import math

    from news_categorization_big_data_spark.plans.warehouse import (
        rolling_corr_frame,
    )

    rows = [(f"d{i:03d}", float(x), float(y)) for i, (x, y) in enumerate(series)]
    df = spark.createDataFrame(rows, "day string, x double, y double")
    got = {
        r["day"]: r["roll_corr"]
        for r in rolling_corr_frame(df, days).collect()
    }

    for i in range(len(rows)):
        frame = rows[max(0, i - days + 1) : i + 1]
        xs = [r[1] for r in frame]
        ys = [r[2] for r in frame]
        n = len(frame)
        have = got[rows[i][0]]
        if n < 2:
            assert have is None
            continue
        # CENTERED reference (no n*Sxx - Sx^2 cancellation): accurate
        # to ~1e-15 even when sigma << mean, which is exactly the
        # regime the round-6 quantization bug lived in.
        mx, my = sum(xs) / n, sum(ys) / n
        vx = sum((v - mx) ** 2 for v in xs)
        vy = sum((v - my) ** 2 for v in ys)
        sigx, sigy = math.sqrt(vx / n), math.sqrt(vy / n)
        if sigx <= 8e-6 or sigy <= 8e-6:
            # below the operator's documented 1e-5 resolution floor
            # (RC_MIN_SIGMA_UNITS): NULL by contract
            assert have is None, (have, frame)
            continue
        if sigx <= 1.2e-5 or sigy <= 1.2e-5:
            # guard boundary: 1e-9 input snap legitimately lands the
            # quantized sigma on either side of the floor
            assert have is None or abs(have) <= 1.0
            continue
        cov = sum((a - mx) * (b - my) for a, b in zip(xs, ys))
        want = cov / math.sqrt(vx * vy)
        assert have is not None, (want, frame)
        # only error source is the one-time 1e-9 input snap; propagate
        # it through the corr sensitivity ~ sqrt(n) * delta / sigma
        tol = max(1e-6, 4.0 * math.sqrt(n) * 1e-9 / min(sigx, sigy))
        assert abs(have - want) < tol, (have, want, tol, frame)


def test_rolling_corr_low_variance_regression(spark):
    """Pinned round-6 falsifying example: y-variance O(1e-5) drifted
    the micro-unit version's corr by 3%; the limb-split rewrite must
    be exact (two distinct points correlate to exactly +/-1)."""
    from news_categorization_big_data_spark.plans.warehouse import (
        rolling_corr_frame,
    )

    df = spark.createDataFrame(
        [("d000", 1.0, 2.0), ("d001", 2.0, 2.0078125)],
        "day string, x double, y double",
    )
    got = {r["day"]: r["roll_corr"] for r in rolling_corr_frame(df, 2).collect()}
    assert got["d000"] is None  # 1-point frame
    assert got["d001"] == 1.0  # exactly +1: both series increase


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.floats(min_value=0.0, max_value=1e10, allow_nan=False),
        min_size=1,
        max_size=40,
    )
)
def test_limb_split_sum_exact(spark, values):
    """The limb-split exact sum (plans/features._o_limb_sums) must equal
    Python's arbitrary-precision integer sum of the floored micro-units
    bit-for-bit — for any input set and any partitioning."""
    from news_categorization_big_data_spark.plans.features import (
        _LIMB_MASK,
        _o_limb_total,
    )

    df = spark.createDataFrame([(v,) for v in values], "v double").repartition(8)
    q = F.floor(F.col("v") * 1_000_000).cast("long")
    m0 = df.agg(
        F.sum(F.shiftright(q, 40)).alias("m_hi"),
        F.sum(F.shiftright(q, 20).bitwiseAND(F.lit(_LIMB_MASK))).alias("m_mid"),
        F.sum(q.bitwiseAND(F.lit(_LIMB_MASK))).alias("m_lo"),
    )
    got = m0.select(F.expr(_o_limb_total("m")).alias("t")).collect()[0]["t"]

    import math

    exact = sum(math.floor(v * 1_000_000) for v in values)  # python ints
    want = float(exact) / 1_000_000.0 if exact < 2**53 else exact / 10**6
    # reassembly: exact integer -> one correctly-rounded double division
    assert got == float(exact) / 1_000_000.0 or abs(got - want) <= abs(want) * 1e-15


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("abcdefghij"), min_size=2, max_size=10
        ).map(" ".join),
        min_size=3,
        max_size=12,
        unique=True,
    )
)
def test_tfidf_postings_join_matches_brute_force(spark, texts):
    """The postings-join cosine (with both df cuts) must equal a Python
    brute force over the SAME capped vector space — a candidate lost to
    the join shape or a weight drifting through the quantized sums
    would surface here."""
    import math

    from news_categorization_big_data_spark.plans.features import (
        TFIDF_DF_FRAC,
        TFIDF_DF_MAX,
    )

    # Spark side: run the registered query's exact pipeline on an
    # injected frame by reusing its module-level constants.
    from collections import Counter

    n = len(texts)
    tf = {i: Counter(t.split()) for i, t in enumerate(texts)}
    df = Counter(tok for c in tf.values() for tok in c)
    vocab = {
        t
        for t, d in df.items()
        if d * TFIDF_DF_FRAC <= n and d <= TFIDF_DF_MAX
    }
    w = {
        i: {
            t: c * ((n - df[t] + 0.5) / (df[t] + 0.5))
            for t, c in cnt.items()
            if t in vocab
        }
        for i, cnt in tf.items()
    }
    nrm = {i: math.sqrt(sum(v * v for v in ws.values())) for i, ws in w.items()}
    want = {}
    for a in range(n):
        for b in range(a + 1, n):
            shared = set(w[a]) & set(w[b])
            if not shared or nrm[a] == 0 or nrm[b] == 0:
                continue
            dot = sum(w[a][t] * w[b][t] for t in shared)
            want[(a, b)] = dot / (nrm[a] * nrm[b])

    df_s = spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, n_chars long",
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        df_s.write.parquet(os.path.join(d, "documents.parquet"))
        # satisfy the loader contract with the one table the query reads
        from news_categorization_big_data_spark.plans import REGISTRY

        got = {
            (r["doc_a"], r["doc_b"]): r["cos"]
            for r in REGISTRY["q_tfidf_pairs"].builder(spark, d).collect()
        }

    # the query returns the global top-20; every returned pair must
    # match brute force to quantization precision, and the top pair
    # must agree
    for pair, cos in got.items():
        assert pair in want, (pair, want)
        assert abs(cos - want[pair]) < 1e-6, (pair, cos, want[pair])
    if want and got:
        best = max(want.items(), key=lambda kv: (kv[1], -kv[0][0], -kv[0][1]))
        assert best[0] in got or len(got) == 20


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=18),
            st.integers(min_value=0, max_value=18),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_star_cc_matches_union_find(spark, raw_edges):
    """The large-star/small-star components (the planet-scale CC path)
    must equal a Python union-find ground truth AND the engine's
    size-adaptive CC (local union-find at this size) on generated
    graphs."""
    from news_categorization_big_data_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    edges = [(a, b) for a, b in raw_edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components_star(df).collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    verts = {v for e in edges for v in e}
    want = {v: find(v) for v in verts}
    # canonicalize to min-of-component labels
    mins: dict[int, int] = {}
    for v, r in want.items():
        mins[r] = min(mins.get(r, v), v)
    want = {v: mins[find(v)] for v in verts}

    assert got == want
    ref = {
        r["doc_id"]: r["component"] for r in connected_components(df).collect()
    }
    assert got == ref


def test_star_cc_matches_local_union_find_on_real_pair_graph(spark, sf_dir):
    """Output-identical on the engine's actual near-dup pair graph: the
    distributed star solver against connected_components at its default
    threshold, which solves this graph with the driver-side union-find."""
    from news_categorization_big_data_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from news_categorization_big_data_spark.operators.graph import (
        CC_LOCAL_THRESHOLD,
        connected_components,
        connected_components_star,
    )
    from news_categorization_big_data_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    pairs = lsh_candidate_pairs(minhash_signatures(docs)).select(
        "doc_a", "doc_b"
    ).localCheckpoint(eager=True)
    assert pairs.count() <= CC_LOCAL_THRESHOLD  # the local path runs
    star = {
        r["doc_id"]: r["component"]
        for r in connected_components_star(pairs).collect()
    }
    local = {
        r["doc_id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert star == local and star, "star CC diverged from union-find CC"


def test_star_cc_self_pair_and_string_contracts(spark):
    """The advisor-flagged contract gaps: vertices appearing ONLY in
    self-pairs are singletons in every CC path, the empty-edge return
    derives its schema from the input id type (string ids supported),
    and connected_components forwards max_iter to the star path."""
    from news_categorization_big_data_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    # self-pairs only: no real edge, both solvers emit singletons
    selfs = spark.createDataFrame(
        [(7, 7), (3, 3), (3, 3)], "doc_a long, doc_b long"
    )
    star = {
        (r["doc_id"], r["component"])
        for r in connected_components_star(selfs).collect()
    }
    assert star == {(7, 7), (3, 3)}
    local = {
        (r["doc_id"], r["component"])
        for r in connected_components(selfs).collect()
    }
    assert star == local

    # mixed: a self-pair-only vertex rides along a real component
    mixed = spark.createDataFrame(
        [(1, 2), (2, 5), (9, 9), (1, 1)], "doc_a long, doc_b long"
    )
    star = {
        (r["doc_id"], r["component"])
        for r in connected_components_star(mixed).collect()
    }
    assert star == {(1, 1), (2, 1), (5, 1), (9, 9)}

    # string ids: lexicographic min labels, schema derived from input
    sdf = spark.createDataFrame(
        [("b", "c"), ("c", "a"), ("x", "x")], "doc_a string, doc_b string"
    )
    out = connected_components_star(sdf)
    assert dict(out.dtypes) == {"doc_id": "string", "component": "string"}
    assert {
        (r["doc_id"], r["component"]) for r in out.collect()
    } == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x")}


def test_cc_forwards_max_iter_to_star(spark):
    """max_iter=1 cannot observe a stable signature (the first round
    has nothing to compare against), so the star path must raise —
    proving connected_components passes max_iter through."""
    import pytest

    from news_categorization_big_data_spark.operators.graph import connected_components

    df = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    spark.conf.set("spark.graft.cc.localThreshold", "0")
    try:
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(df, max_iter=1).collect()
    finally:
        spark.conf.unset("spark.graft.cc.localThreshold")


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet="ab cXY9.",  # mixed-case + digits + punctuation: the
            min_size=0,           # tokenizer must strip all non-[a-z]
            max_size=40,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_token_rarity_matches_python_brute_force(spark, texts):
    """The shuffle-hash vocab join + integer floor arithmetic must equal
    a Python brute force over the same corpus: a rarity drifting
    through the div chain or a token lost to the join would surface."""
    import re
    from collections import Counter

    from news_categorization_big_data_spark.plans.text import (
        RARITY_CAP_MILLI,
        token_rarity_frame,
    )

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_rarity_milli"])
        for r in token_rarity_frame(df).collect()
    }

    tok_by_doc = {
        i: [t for t in re.split(r"[^a-z]+", t.lower()) if t]
        for i, t in docs
    }
    vocab = Counter(t for ts in tok_by_doc.values() for t in ts)
    n = sum(vocab.values())
    want = {}
    for i, ts in tok_by_doc.items():
        if not ts:
            continue
        s = sum(min(RARITY_CAP_MILLI, (n * 1000) // vocab[t]) for t in ts)
        want[i] = (len(ts), s // len(ts))
    assert got == want
