"""Tier-C dedup queries over `documents` (SURVEY.md §2.12): exact dedup
lives in plans/relational.py (q_dedup_exact); here are the near-dup
family — n-gram Jaccard, MinHash signatures, banded-LSH candidates,
SimHash, and the MLlib MinHashLSH variant.

Oracle SQL for the hash-based ops is generated from the same (k, bands,
bit-width) constants as the Spark operators, so the two can't drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from news_categorization_big_data_spark.functions.cachepin import pin
from news_categorization_big_data_spark.functions.groupcollapse import (
    expand_group_pairs,
    grouped_ids,
    member_pairs,
)
from news_categorization_big_data_spark.operators.dedup import (
    MINHASH_BANDS,
    MINHASH_K,
    MINHASH_PRIME,
    containment_pairs,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
    simhash_hamming_pairs,
)

#: DuckDB mirror of the double-hashed MinHash family in
#: operators/dedup.py:minhash_signatures (same constants, can't drift):
#: h1/h2 are the two halves of ONE md5 digest (hash60_pair), and the
#: family is (h1 + j·(h2 % P)) % P — see MINHASH_PRIME for why the
#: wrap is load-bearing.
_O_H1 = "('0x' || substr(md5(shingle), 1, 15))::BIGINT"
_O_H2M = f"(('0x' || substr(md5(shingle), 16, 15))::BIGINT % {MINHASH_PRIME})"


def _o_minhash(j: int) -> str:
    return f"min(({_O_H1} + {j} * {_O_H2M}) % {MINHASH_PRIME}) AS mh{j}"
from news_categorization_big_data_spark.plans.registry import register
from news_categorization_big_data_spark.sources.tables import load_table

def _shingles_cte(src: str = "documents WHERE text <> ''") -> str:
    """CTE chain producing (doc_id, shingle) from a (doc_id, text)
    relation — parameterized so composed pipelines (q_pipeline_curate)
    can shingle an intermediate CTE instead of the raw table."""
    # list_zip + relational DISTINCT, not list lambdas: the original
    # list_transform(range(..), i -> t[i:i+2]) indexes the captured
    # list per element — quadratic in DuckDB on /tmp/skew3's 1.5M-token
    # rows — and list_distinct was a single-threaded giant-cell op.
    # zip(t[1:n-2], t[2:n-1], t[3:n]) builds the same 3-token windows
    # linearly; len(t) >= 3 guards the n=1 edge where len(t)-2 = -1
    # would hit DuckDB's from-end slice semantics (n<3 docs produce no
    # shingles in either form).
    return f"""
    toks AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
             FROM {src}),
    sh AS (SELECT DISTINCT doc_id,
                  u[1] || ' ' || u[2] || ' ' || u[3] AS shingle
           FROM (SELECT doc_id,
                        unnest(list_zip(t[1:len(t)-2], t[2:len(t)-1],
                                        t[3:len(t)])) AS u
                 FROM toks WHERE len(t) >= 3))
"""


# Shared CTE: distinct 3-word shingles per non-empty document (DuckDB).
_SHINGLES_CTE = _shingles_cte()


#: Skew cap for shingle buckets: a shingle present in more documents than
#: this carries no near-dup signal and would create an O(df²) pair blowup
#: on one reducer at corpus scale. Shared Spark/oracle constant.
JACCARD_MAX_DF = 1000


#: Relational verify, NOT per-doc sorted-list cells: the original
#: built a 200k-element hsorted list per /tmp/skew3 giant doc and ran
#: len(list_intersect(..)) per candidate pair — single-cell ops that
#: ground for 10+ minutes at fixture scale. The prefix is the
#: row_number-by-hash window (identical to slicing the ascending
#: sorted list), |A∩B| is the h-equijoin of the (doc, h) rows grouped
#: per pair — Σ df² work, the same bound the Spark prefix filter is
#: designed around (the pair-driven form fanned out Σ_pairs |A| and
#: spilled 47 GB on the skew3 candidate-dense regime) — and
#: zero-intersection pairs dropping out of the GROUP BY is harmless
#: (they can never pass a ≥0.8 threshold with sz ≥ 1).
_NGRAM_JACCARD_ORACLE = f"""
    WITH {_SHINGLES_CTE},
    hh AS (SELECT DISTINCT doc_id,
                  ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
           FROM sh),
    rnk AS (SELECT doc_id, h,
                   row_number() OVER (PARTITION BY doc_id ORDER BY h) AS r,
                   COUNT(*) OVER (PARTITION BY doc_id) AS sz
            FROM hh),
    pref AS (SELECT doc_id, h FROM rnk
             WHERE r <= sz - floor(0.8 * sz) + 1),
    capped AS (SELECT h FROM pref GROUP BY h HAVING COUNT(*) <= {JACCARD_MAX_DF}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM pref a JOIN pref b USING (h) JOIN capped USING (h)
             WHERE a.doc_id < b.doc_id),
    szs AS (SELECT doc_id, COUNT(*) AS sz FROM hh GROUP BY doc_id),
    iv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
           FROM hh a JOIN hh b ON b.h = a.h AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
    v AS (SELECT c.doc_a, c.doc_b, i.inter, sa.sz AS sza, sb.sz AS szb
          FROM cand c
          JOIN iv i USING (doc_a, doc_b)
          JOIN szs sa ON sa.doc_id = c.doc_a
          JOIN szs sb ON sb.doc_id = c.doc_b)
    SELECT doc_a, doc_b,
           round(CAST(inter AS DOUBLE) / (sza + szb - inter), 4) AS jaccard
    FROM v WHERE CAST(inter AS DOUBLE) / (sza + szb - inter) >= 0.8
    """


@register(
    "q_dedup_ngram_jaccard",
    oracle=_NGRAM_JACCARD_ORACLE,
    tier="C",
    doc="n-gram Jaccard near-duplicate pairs (3-word shingles, threshold "
    "0.8 — the testdata's planted near-dups sit at ~0.98, clean "
    "separation). Candidates come from PREFIX FILTERING over sorted "
    "shingle-hashes (AllPairs/PPJoin: only the first sz-floor(0.8·sz)+1 "
    "hashes are bucketed — exact recall by the prefix lemma, ~4% of the "
    "naive in-bucket pair work), verified by exact set intersection. "
    f"Prefix buckets are capped at df ≤ {JACCARD_MAX_DF} (identical cap "
    "in the oracle CTE) so no reducer ever sees a quadratic bucket; see "
    "operators/dedup.py:jaccard_pairs. persist_sets=True: the shingle "
    "table feeds three consumers whose downstream shuffles key "
    "differently (so ReusedExchange cannot share them); materializing "
    "it once (MEMORY_AND_DISK — spills, never OOMs) measured ~1.7x on "
    "COLD executions at the sf1 decade, wash at sf0.1, "
    "output-identical (tests/test_scale_ops.py asserts the "
    "equivalence; SCALE.md records the cache-cleared methodology).",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    return jaccard_pairs(
        docs, threshold=0.8, max_df=JACCARD_MAX_DF, persist_sets=True
    )


def _minhash_oracle() -> str:
    mins = ",\n           ".join(_o_minhash(j) for j in range(MINHASH_K))
    return f"""
    WITH {_SHINGLES_CTE}
    SELECT doc_id,
           {mins}
    FROM sh GROUP BY doc_id
    """


@register(
    "q_dedup_minhash",
    oracle=_minhash_oracle(),
    tier="C",
    doc=f"MinHash signatures ({MINHASH_K} md5-seeded min-hashes per doc): the "
    "fixed-size sketch that replaces pairwise comparison at scale. One "
    "explode + one groupBy; all hashes computed as parallel aggregates "
    "over the same shuffled rows.",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    return minhash_signatures(docs)


def _lsh_cand_ctes(src: str = "documents WHERE text <> ''") -> str:
    """CTE chain ending in ``cand(doc_a, doc_b)`` — the banded-LSH
    candidate pairs, shared by q_dedup_near, q_dedup_cluster and
    q_pipeline_curate so the oracles cannot drift. Mirrors the engine's
    bucket form exactly, including the LSH_MAX_DF skew cap (buckets
    larger than the cap are dropped whole before pair generation)."""
    from news_categorization_big_data_spark.operators.dedup import LSH_MAX_DF

    rows = MINHASH_K // MINHASH_BANDS
    mins = ",\n           ".join(_o_minhash(j) for j in range(MINHASH_K))
    band_keys = []
    for b in range(MINHASH_BANDS):
        cols = " || '-' || ".join(f"CAST(mh{j} AS VARCHAR)" for j in range(b * rows, (b + 1) * rows))
        band_keys.append(f"({cols})")
    bexp = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, {k} AS band_key FROM mh"
        for b, k in enumerate(band_keys)
    )
    return f"""{_shingles_cte(src)},
    mh AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bexp AS ({bexp}),
    bok AS (SELECT band_idx, band_key FROM bexp
            GROUP BY band_idx, band_key
            HAVING COUNT(*) <= {LSH_MAX_DF}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bexp a
             JOIN bexp b ON a.band_idx = b.band_idx
                        AND a.band_key = b.band_key
                        AND a.doc_id < b.doc_id
             JOIN bok o ON o.band_idx = a.band_idx
                       AND o.band_key = a.band_key)"""


def _lsh_oracle() -> str:
    return f"""
    WITH {_lsh_cand_ctes()}
    SELECT doc_a, doc_b FROM cand
    """


@register(
    "q_dedup_near",
    oracle=_lsh_oracle(),
    tier="C",
    doc=f"Banded-LSH near-duplicate candidate pairs: {MINHASH_BANDS} bands of "
    f"{MINHASH_K // MINHASH_BANDS} minhashes; a pair is a candidate iff some band's hashes all "
    "agree. Spark side is a union of per-band equi-joins on a compact band "
    "key — linear shuffle, no cross-join anywhere (the 100-TB dedup path).",
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    return lsh_candidate_pairs(minhash_signatures(docs))


def _cluster_oracle() -> str:
    return f"""
    WITH RECURSIVE {_lsh_cand_ctes()},
    edges AS (SELECT doc_a AS s, doc_b AS d FROM cand
              UNION ALL
              SELECT doc_b AS s, doc_a AS d FROM cand),
    verts AS (SELECT DISTINCT s AS id FROM edges),
    reach(id, lbl) AS (
        SELECT id, id FROM verts
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id
    )
    SELECT id AS doc_id, MIN(lbl) AS component FROM reach GROUP BY id
    """


@register(
    "q_dedup_cluster",
    oracle=_cluster_oracle(),
    tier="C",
    doc="Near-duplicate CLUSTERS from the banded-LSH candidate pairs: "
    "connected components (operators/graph.py: driver union-find under "
    "spark.graft.cc.localThreshold edges, large-star/small-star above), "
    "component label = min doc id — the canonical survivor a dedup pass "
    "keeps. Oracle = recursive-CTE "
    "min-reachable-label over the same candidate CTE as q_dedup_near.",
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    return connected_components(pairs)


def _simhash_oracle(bits: int = 16) -> str:
    lanes = ",\n             ".join(
        f"SUM(CASE WHEN (('0x' || substr(md5(token), 1, 4))::BIGINT & {1 << b}) > 0 "
        f"THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    sketch = " + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits))
    return f"""
    WITH tok AS (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(text, '\\s+'))) AS token
                 FROM documents WHERE text <> ''),
    lanes AS (SELECT doc_id,
             {lanes}
              FROM tok WHERE token <> '' GROUP BY doc_id)
    SELECT doc_id, CAST({sketch} AS BIGINT) AS simhash FROM lanes
    """


@register(
    "q_dedup_simhash",
    oracle=_simhash_oracle(),
    tier="C",
    doc="SimHash 16-bit sketches: each distinct token votes ±1 per bit lane "
    "by its md5 bit pattern; positive lanes set the sketch bit. Hamming-"
    "close sketches ≈ near-duplicate token multisets.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    return simhash(docs)


@register(
    "q_dedup_mllib_lsh",
    oracle=f"""
    SELECT doc_a, doc_b, jaccard, TRUE AS mllib_recalled
    FROM ({_NGRAM_JACCARD_ORACLE}) t
    """,
    tier="C",
    doc="MLlib MinHashLSH variant: HashingTF shingle vectors → MinHashLSH → "
    "approxSimilarityJoin at Jaccard distance ≤ 0.3; kept alongside the "
    "hand-rolled LSH to exercise the MLlib estimator surface. "
    "SEMI-ORACLE (round-7 upgrade from rows-only): the hash family is "
    "Spark-internal, so the driver-hashed output is the EXACT n-gram "
    "Jaccard ≥ 0.8 pair table (the q_dedup_ngram_jaccard machinery and "
    "oracle, value-checked) plus a per-pair boolean pinning that the "
    "MLlib join RECALLED it (measured 25/25 at sf0.01, seed 42 — the "
    "joins runs at distance ≤ 0.3, leaving a 0.7→0.8 margin, and a "
    "broken index fails the hash). The raw MLlib pair list remains "
    "available from approxSimilarityJoin; set equality on planted dups "
    "is also asserted in tests/test_dedup.py.",
)
def q_dedup_mllib_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from news_categorization_big_data_spark.functions.partitioning import fan_out

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    from news_categorization_big_data_spark.functions.text_exprs import word_shingles

    # r15 (guide §8): run MLlib's approxSimilarityJoin over DISTINCT
    # TEXTS, not doc rows. The recall flag for a pair is a deterministic
    # function of the two TEXTS alone — HashingTF features are a
    # function of the shingles, MinHashLSH's hash coefficients come from
    # the seed (fit never looks at the data values), bucket co-occurrence
    # and the exact distance both depend only on the feature vectors —
    # so every doc pair inherits its flag from its text pair.
    # Exact-duplicate texts make the per-row MLlib self-join quadratic
    # in the duplicated count (the shipped fixtures carry few: 80 of
    # 50,000 docs at sf1 are redundant copies); identical texts share
    # all hashes, so their rep self-pair (r, r) is in the join output
    # (distance 0) and flags every intra-text pair True — exactly what
    # the per-row join produced.
    # Proven row-for-row equal to the per-row plan at sf0.1 and sf1, and
    # oracle-MATCH.
    # r16 (r15 ADVICE): reps and the doc→rep map both derive from ONE
    # text-partitioned pass. The previous two groupBy("text") aggregates
    # (min for reps; min + collect_list for rep_map) had different
    # partial aggregates, so ReuseExchange could not dedupe them — a
    # second full scan+shuffle of documents. A window min over the same
    # partitioning computes _rep per doc directly: rep_map needs no
    # member ARRAY at all (the collect_list+explode round-trip — and its
    # unbounded-cluster row — is gone), reps filter to doc_id == _rep,
    # and pin() materializes the pass once for its three consumers.
    w_text = Window.partitionBy("text")
    base = pin(
        fan_out(docs, by=("text",))
        .select("doc_id", "text")
        .withColumn("_rep", F.min("doc_id").over(w_text))
    )
    reps = (
        base.where(F.col("doc_id") == F.col("_rep"))
        .select("doc_id", word_shingles("text").alias("shingles"))
        .where(F.size("shingles") > 0)
    )
    # Lazy plan barrier: Catalyst merges the guards above with the
    # LSH model's hash UDF into ONE predicate and may evaluate the
    # (failing) UDF subexpression FIRST — a NULL-text row then reaches
    # MinHashLSH's hashFunction as a zero-entry vector and kills the
    # job ("Must have at least 1 non zero entry", measured on the
    # skew4 null fixture). The checkpoint cuts the lineage so the
    # filters materialize before any LSH evaluation; the rep shingle
    # table is distinct-text-sized and column-pruned (id + shingles).
    reps = reps.localCheckpoint(eager=False)
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(reps)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    # r16 (guide §8 + r15 VERDICT item 5): the MLlib estimator surface
    # is kept — HashingTF features, the seed-42 fit, and
    # model.transform's hash evaluation define the recalled set — but
    # approxSimilarityJoin itself is replaced by the engine's own
    # banded join over the model's OUTPUTS, read natively via
    # unwrap_udt (no Python boundary, no vector-UDT shuffle):
    # - candidates: posexplode the 8 per-table minhash values and
    #   equi-join on (table_idx, value) — exactly the bucket
    #   co-occurrence approxSimilarityJoin's double explode computed,
    #   minus shipping (features, hashes) vector payloads through the
    #   shuffle and the per-candidate-row UDF. Ordered pairs, distinct
    #   BEFORE the verify (one distance per distinct rep pair; the
    #   MLlib path verified per bucket-occurrence).
    # - verify: MinHashLSHModel.keyDistance is 1 − |A∩B|/|A∪B| over
    #   the sparse-feature index sets in double arithmetic with a
    #   STRICT < threshold filter — reproduced expression-for-
    #   expression on unwrap_udt(features).indices (same ints, same
    #   single double division ⇒ identical booleans).
    # - the rep SELF-pair (r, r): every rep shares all its buckets
    #   with itself at distance 0, so approxSimilarityJoin emitted one
    #   per rep unconditionally — appended directly.
    # Proven SET-EQUAL to approxSimilarityJoin's <=-filtered distinct
    # output (exceptAll both ways = 0) at sf0.01 AND sf0.1, and
    # oracle-MATCH; pinned by tests/test_mllib_native_join.py.
    # Measured at sf1: the join stage 14.0 s → see OPTIMIZATION_r16.md.
    u = model.transform(feats).select(
        "doc_id",
        F.unwrap_udt("features").getField("indices").alias("_idx"),
        F.transform(
            F.col("hashes"), lambda v: F.unwrap_udt(v).getField("values").getItem(0)
        ).alias("_h8"),
    )
    # Checkpoint: u feeds the two band-join sides, both verify sides
    # and the self-pair list; sizes become REAL statistics, so AQE
    # picks join strategies from facts instead of widened-frame
    # garbage estimates.
    u = u.localCheckpoint(eager=False)
    bands = u.select("doc_id", F.posexplode("_h8").alias("_j", "_h"))
    ba = bands.select(F.col("doc_id").alias("_ra"), "_j", "_h")
    bb = bands.select(F.col("doc_id").alias("_rb"), "_j", "_h")
    cand = (
        ba.join(bb, ["_j", "_h"])
        .where(F.col("_ra") < F.col("_rb"))
        .select("_ra", "_rb")
        .distinct()
    )
    sa = u.select(F.col("doc_id").alias("_ra"), F.col("_idx").alias("_ia"))
    sb = u.select(F.col("doc_id").alias("_rb"), F.col("_idx").alias("_ib"))
    inter = F.size(F.array_intersect("_ia", "_ib")).cast("double")
    union = (F.size("_ia") + F.size("_ib")).cast("double") - inter
    mll = (
        cand.join(sa, "_ra")
        .join(sb, "_rb")
        .where(F.lit(1.0) - inter / union < F.lit(0.3))
        .select("_ra", "_rb")
        .unionByName(
            u.select(F.col("doc_id").alias("_ra"), F.col("doc_id").alias("_rb"))
        )
        .withColumn("_found", F.lit(True))
    )
    # Map every doc to its text's rep, translate truth pairs to rep
    # pairs (unordered: reps are min-member ids but a truth pair's reps
    # aren't necessarily ordered the same way), and look the flag up.
    rep_map = base.select(F.col("_rep"), "doc_id")
    truth = jaccard_pairs(docs, threshold=0.8, max_df=JACCARD_MAX_DF)
    ma = rep_map.select(F.col("doc_id").alias("doc_a"), F.col("_rep").alias("_repa"))
    mb = rep_map.select(F.col("doc_id").alias("doc_b"), F.col("_rep").alias("_repb"))
    return (
        truth.join(ma.hint("shuffle_hash"), "doc_a")
        .join(mb.hint("shuffle_hash"), "doc_b")
        .withColumn("_ra", F.least("_repa", "_repb"))
        .withColumn("_rb", F.greatest("_repa", "_repb"))
        .join(mll.hint("shuffle_hash"), ["_ra", "_rb"], "left_outer")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.coalesce(F.col("_found"), F.lit(False)).alias("mllib_recalled"),
        )
    )


def _keep_best_oracle() -> str:
    return f"""
    WITH RECURSIVE {_lsh_cand_ctes()},
    edges AS (SELECT doc_a AS s, doc_b AS d FROM cand
              UNION ALL
              SELECT doc_b AS s, doc_a AS d FROM cand),
    verts AS (SELECT DISTINCT s AS id FROM edges),
    reach(id, lbl) AS (
        SELECT id, id FROM verts
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id
    ),
    comp AS (SELECT id AS doc_id, MIN(lbl) AS component FROM reach GROUP BY id),
    qual AS (SELECT doc_id,
                    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)
                      AS n_tokens
             FROM documents WHERE text <> ''),
    ranked AS (SELECT c.component, c.doc_id, q.n_tokens,
                      row_number() OVER (PARTITION BY c.component
                                         ORDER BY q.n_tokens DESC, c.doc_id)
                        AS rk,
                      COUNT(*) OVER (PARTITION BY c.component) AS n_members
               FROM comp c JOIN qual q ON c.doc_id = q.doc_id)
    SELECT component, doc_id AS best_doc, n_tokens AS best_tokens, n_members
    FROM ranked WHERE rk = 1
    """


@register(
    "q_dedup_keep_best",
    oracle=_keep_best_oracle(),
    tier="C",
    doc="Near-duplicate cluster dedup with a QUALITY survivor policy: "
    "instead of q_dedup_cluster's min-id canonical label, keep each "
    "cluster's longest document (token count desc, doc_id tie-break) — "
    "the curation-real policy, since near-dup clusters usually contain "
    "one full article plus truncated/boilerplate copies. Composes the "
    "same banded-LSH candidates + connected components, sort-merge-"
    "joins the component table against per-doc token counts (declared "
    "strategy: BOTH sides scale with the corpus — qual is one row per "
    "doc and the static estimator was broadcasting it), and "
    "takes the per-component argmax with one ranked window "
    "(WindowGroupLimit prunes to the top row per component). Oracle = "
    "the q_dedup_cluster recursive CTE + the same ranked argmax.",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from news_categorization_big_data_spark.functions.text_exprs import tokens
    from news_categorization_big_data_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    comp = connected_components(pairs)
    qual = docs.select("doc_id", F.size(tokens("text")).cast("long").alias("n_tokens"))
    w = Window.partitionBy("component").orderBy(F.desc("n_tokens"), "doc_id")
    # shuffle_merge: qual is one row PER DOC (corpus-scale) but descends
    # from a (doc_id, text) scan through a tokens() widening the size
    # estimator can't see, so the static planner was broadcasting QUAL
    # as the build side (found by the round-11 skew-fixture plan sweep).
    # comp isn't reliably broadcastable either — on a crawl corpus a
    # large fraction of docs sit in near-dup clusters — so declare the
    # spill-safe strategy instead of betting on either side.
    return (
        comp.join(qual.hint("shuffle_merge"), "doc_id")
        .select(
            "component",
            "doc_id",
            "n_tokens",
            F.row_number().over(w).alias("_rk"),
            F.count("*").over(Window.partitionBy("component")).alias("n_members"),
        )
        .where(F.col("_rk") == 1)
        .select(
            "component",
            F.col("doc_id").alias("best_doc"),
            F.col("n_tokens").alias("best_tokens"),
            "n_members",
        )
    )


@register(
    "q_dedup_fuzzy",
    oracle="""
    WITH d AS (SELECT doc_id,
                      trim(regexp_replace(regexp_replace(lower(text),
                           '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
               FROM documents),
    b AS (SELECT doc_id, substr(norm, 1, 24) AS blk, len(norm) AS l,
                 substr(norm, 1, 120) AS pfx
          FROM d WHERE len(norm) >= 24)
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           CAST(levenshtein(a.pfx, c.pfx) AS BIGINT) AS edit_dist
    FROM b a JOIN b c
      ON a.blk = c.blk AND a.doc_id < c.doc_id
    WHERE abs(a.l - c.l) <= 10
      AND levenshtein(a.pfx, c.pfx) <= 20
    """,
    tier="C",
    doc="Edit-distance near-dup pairs — the character-level complement "
    "to the token-level families (Jaccard/MinHash/SimHash catch "
    "reorderings; levenshtein catches small in-place edits they "
    "dilute): candidates BLOCK on the 24-char normalized prefix "
    "(equi-join buckets, linear shuffle — never all-pairs), an integer "
    "length filter discards impossible pairs before any distance is "
    "computed (|len gap| bounds the edit distance from below), and the "
    "O(n·m) levenshtein verify runs only inside blocks, on the 120-"
    "char prefix, JVM-side (built-in levenshtein, codegen — no UDF). "
    "At 100 TB the recall lever is multiple shifted blocking keys (or "
    "the MinHash families) feeding this same verify stage; Spark's "
    "threshold-bounded levenshtein(l, r, t) caps the DP early-exit.",
)
def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.functions.partitioning import fan_out
    from news_categorization_big_data_spark.functions.text_exprs import normalize_text

    # r15 (guide §8: decide on a lightweight proxy, multiply heavy rows
    # out once): block-join DISTINCT normalized texts, not doc rows.
    # Every predicate and the output edit distance are functions of
    # `norm` alone, and exact-duplicate documents (boilerplate at corpus
    # scale) share a norm — so a per-doc block join pays the
    # duplication factor SQUARED in levenshtein calls (120x120 DP each).
    # The sf1 fixture holds few of them (tools/fixtures.py sf1 suffixes each
    # replica's text: 80 redundant copies in 50,000 documents), so the
    # per-doc join's measured 80 s at sf1 is not exact-dup cost.
    # Grouping by norm first runs the join + levenshtein once per
    # distinct pair: intra-group pairs are edit_dist 0 BY IDENTITY
    # (lev(x,x) = 0, |l-l| = 0 — always qualifying), inter-group pairs
    # expand the member lists (disjoint groups + min-member group ids
    # ordered like the per-doc doc_a < doc_b filter, so each unordered
    # pair is emitted exactly once). Proven pair-for-pair equal to the
    # per-doc join (exceptAll both ways = 0) at sf0.1 and sf1, and
    # oracle-MATCH. fan_out: the normalize+group runs above a
    # single-row-group bench scan.
    docs = fan_out(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", normalize_text("text").alias("norm")
        ),
        by=("doc_id",),
    )
    # Length filter AFTER the groupBy: as a pre-group row filter it was
    # pushed into the SCAN as a DataFilter, re-running the two-regexp
    # normalize chain once in the filter and again in the projection;
    # on the group output the regex runs once per doc (map side) and
    # the length check once per DISTINCT norm. Equivalent: norm is the
    # group key, so filtering groups == filtering rows (null norms drop
    # either way). pin(): g
    # feeds THREE consumers (both block-join sides + the intra
    # expansion), and ReuseExchange shares only shuffle files, not the
    # per-consumer re-run of the final collect_list + substring
    # projections — measured 3 FileScans / 3 normalize+group subtrees
    # in the un-pinned plan.
    g = pin(
        grouped_ids(docs, ("norm",), "doc_id")
        .where(F.length("norm") >= 24)
        .select(
            F.col("_ids"),
            F.col("_ids")[0].alias("_gid"),
            F.substring("norm", 1, 24).alias("blk"),
            F.length("norm").alias("l"),
            F.substring("norm", 1, 120).alias("pfx"),
        )
    )
    a = g.select(
        F.col("_gid").alias("gid_a"),
        F.col("_ids").alias("_idsa"),
        F.col("blk"),
        F.col("l").alias("l_a"),
        F.col("pfx").alias("pfx_a"),
    )
    c = g.select(
        F.col("_gid").alias("gid_b"),
        F.col("_ids").alias("_idsb"),
        F.col("blk"),
        F.col("l").alias("l_b"),
        F.col("pfx").alias("pfx_b"),
    )
    # NOTE — bag-distance prefilter: a measured NEGATIVE result, kept
    # out deliberately. A per-group 37-char histogram + per-pair
    # multiset lower bound (bag ≤ levenshtein) filtered 0 of 248,640
    # sf1 candidates — same-block, length-banded survivors share
    # near-identical character bags on this (and any templated) corpus
    # — while its fold inlined into the join condition. The bounded DP
    # below is the effective per-pair filter.
    # r16 (guide §1.2 per-task work): THRESHOLD-BOUNDED levenshtein,
    # computed ONCE. The unbounded form ran the full 120x120 DP per
    # candidate pair — twice (filter + output; Catalyst does not CSE
    # across a Filter/Project boundary). levenshtein(l, r, 20) runs the
    # banded O(threshold·len) DP (~6x fewer cells) and returns -1 above
    # the bound, so `_d >= 0` IS the old `lev <= 20` and the returned
    # value is the exact distance for every emitted pair.
    # shuffle_merge: the distinct-norm frame scales with the corpus and
    # descends from a groupBy whose static size estimate is garbage —
    # the planner was BROADCASTING the whole (norm, ids, pfx) side,
    # the q18/widened-frame class.
    # SMJ is spill-safe; AQE may still demote to shuffled-hash at
    # runtime via the r15 maxShuffledHashJoinLocalMapThreshold conf.
    cand = (
        a.join(c.hint("shuffle_merge"), ["blk"])
        .where(
            (F.col("gid_a") < F.col("gid_b"))
            & (F.abs(F.col("l_a") - F.col("l_b")) <= 10)
        )
        .select(
            "_idsa",
            "_idsb",
            F.levenshtein("pfx_a", "pfx_b", 20).cast("long").alias("edit_dist"),
        )
        .where(F.col("edit_dist") >= 0)
    )
    inter = expand_group_pairs(cand, "doc_a", "doc_b", "edit_dist")
    intra = member_pairs(g, "_ids", "doc_a", "doc_b").select(
        "doc_a", "doc_b", F.lit(0).cast("long").alias("edit_dist")
    )
    return inter.unionByName(intra)


#: Containment threshold (percent) and index-side df cap.
CONTAIN_PCT = 90
CONTAIN_MAX_DF = 1000


@register(
    "q_dedup_containment",
    oracle=f"""
    -- relational verify (see _NGRAM_JACCARD_ORACLE's note): prefix =
    -- row_number-by-hash window, |A∩B| = hash-match join per pair —
    -- no giant per-doc sorted-list cells, no per-pair list_intersect.
    WITH {_SHINGLES_CTE},
    hh AS (SELECT DISTINCT doc_id,
                  ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
           FROM sh),
    rnk AS (SELECT doc_id, h,
                   row_number() OVER (PARTITION BY doc_id ORDER BY h) AS r,
                   COUNT(*) OVER (PARTITION BY doc_id) AS sz
            FROM hh),
    pref AS (SELECT doc_id, h FROM rnk
             WHERE r <= sz - floor((sz * {CONTAIN_PCT} + 99) / 100) + 1),
    capped AS (SELECT h FROM hh GROUP BY h
               HAVING COUNT(*) <= {CONTAIN_MAX_DF}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM pref a
             JOIN (SELECT hh.doc_id, hh.h FROM hh JOIN capped USING (h)) b
               ON a.h = b.h
             WHERE a.doc_id <> b.doc_id),
    szs AS (SELECT doc_id, COUNT(*) AS sz FROM hh GROUP BY doc_id),
    iv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
           FROM hh a JOIN hh b ON b.h = a.h AND a.doc_id <> b.doc_id
           GROUP BY 1, 2),
    v AS (SELECT c.doc_a, c.doc_b, i.inter, sa.sz AS sza
          FROM cand c
          JOIN iv i USING (doc_a, doc_b)
          JOIN szs sa ON sa.doc_id = c.doc_a)
    SELECT doc_a, doc_b,
           round(CAST(inter AS DOUBLE) / sza, 4) AS containment
    FROM v WHERE inter * 100 >= sza * {CONTAIN_PCT}
    """,
    tier="C",
    doc=f"Asymmetric shingle containment |A∩B|/|A| ≥ {CONTAIN_PCT}% — "
    "near-SUPERSET detection, the predicate Jaccard structurally "
    "misses (a passage quoted whole inside a long page has J ≈ 0 but "
    "C ≈ 1): how a curation pipeline catches boilerplate wrappers and "
    "quote inflation. Probe side explodes only the containment-prefix "
    "(sz − ⌈t·sz⌉ + 1 sorted hashes — exact recall by the pigeonhole "
    "lemma), index side explodes all hashes under a df ≤ "
    f"{CONTAIN_MAX_DF} skew cap (identical cap in the oracle); "
    "verification is exact set intersection with an integer threshold "
    "(inter·100 ≥ t·sz — no float boundary). See "
    "operators/dedup.py:containment_pairs.",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    return containment_pairs(
        docs, CONTAIN_PCT, max_df=CONTAIN_MAX_DF, persist_sets=True
    )


@register(
    "q_graph_degree_dist",
    oracle=f"""
    WITH {_lsh_cand_ctes()},
    deg AS (SELECT id, COUNT(*) AS degree
            FROM (SELECT doc_a AS id FROM cand
                  UNION ALL
                  SELECT doc_b AS id FROM cand)
            GROUP BY id)
    SELECT CAST(degree AS BIGINT) AS degree,
           COUNT(*) AS n_docs
    FROM deg GROUP BY degree
    """,
    tier="C",
    doc="Degree distribution of the near-duplicate candidate graph — "
    "the shape diagnostic a dedup pass reads BEFORE clustering: a "
    "heavy right tail means a stopword-ish band key is bucketing "
    "unrelated docs together (fix the banding or cap df) and the CC "
    "stage is about to inherit a quadratic cluster. Two partial-"
    "aggregating shuffles over the (tiny) pair list: degrees, then "
    "the histogram; the corpus itself is touched only by the shared "
    "signature lineage. Oracle rides the same candidate CTE as "
    "q_dedup_near, so the graph being profiled is provably the same "
    "graph.",
)
def q_graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    deg = (
        pairs.select(F.col("doc_a").alias("id"))
        .unionAll(pairs.select(F.col("doc_b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_docs"))


@register(
    "q_minhash_jaccard_est",
    oracle=f"""
    WITH {_lsh_cand_ctes()}
    SELECT c.doc_a, c.doc_b,
           CAST(({" + ".join(f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)" for j in range(MINHASH_K))}) AS BIGINT)
             AS n_agree,
           CAST(({" + ".join(f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)" for j in range(MINHASH_K))}) AS DOUBLE)
             / {MINHASH_K} AS jaccard_est
    FROM cand c
    JOIN mh a ON a.doc_id = c.doc_a
    JOIN mh b ON b.doc_id = c.doc_b
    """,
    tier="C",
    doc=f"Sketch-space Jaccard estimation: for every banded-LSH candidate "
    "pair, the fraction of agreeing minhash coordinates — an unbiased "
    f"estimator of true Jaccard (E[agree/k] = J), here k={MINHASH_K}. "
    "This is the triage step between candidate generation and exact "
    "verification at corpus scale: ranking/thresholding on the "
    "signatures costs O(k) per pair on fixed-size sketches ALREADY in "
    "hand, with no second pass over document text (the exact verify "
    "re-reads both shingle sets). Plan: signature table computed once, "
    "joined to both pair sides; agreement count is integer-exact, and "
    "the estimate is one division of identical integers on both "
    "engines. The oracle recomputes signatures through the shared "
    "double-hash CTE, so estimator and candidate graph provably match "
    "the Spark operators'.",
)
def q_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    sig = minhash_signatures(docs)
    pairs = lsh_candidate_pairs(sig)
    agree = sum(
        F.when(F.col(f"_a.mh{j}") == F.col(f"_b.mh{j}"), 1).otherwise(0)
        for j in range(MINHASH_K)
    )
    sa = sig.alias("_a")
    sb = sig.alias("_b")
    # shuffle_hash on the SIGNATURE side: the candidate pair table is a
    # structurally widened frame (bucket-list explode) whose static
    # estimate undercuts the per-doc signatures — the round-14 sf1
    # probe caught the planner broadcasting the PAIR side here, the
    # exact q_simhash_hamming crash class (AQE never demotes a
    # statically-chosen broadcast join).
    return (
        pairs.join(sa.hint("shuffle_hash"), pairs["doc_a"] == F.col("_a.doc_id"))
        .join(sb.hint("shuffle_hash"), pairs["doc_b"] == F.col("_b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            agree.cast("bigint").alias("n_agree"),
            (agree.cast("double") / F.lit(MINHASH_K)).alias("jaccard_est"),
        )
    )


@register(
    "q_component_sizes",
    oracle=f"""
    WITH RECURSIVE {_lsh_cand_ctes()},
    edges AS (SELECT doc_a AS s, doc_b AS d FROM cand
              UNION ALL
              SELECT doc_b AS s, doc_a AS d FROM cand),
    verts AS (SELECT DISTINCT s AS id FROM edges),
    reach(id, lbl) AS (
        SELECT id, id FROM verts
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id
    ),
    cc AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
    sizes AS (SELECT component, COUNT(*) AS csize FROM cc GROUP BY component)
    SELECT CAST(csize AS BIGINT) AS cluster_size, COUNT(*) AS n_clusters
    FROM sizes GROUP BY csize
    """,
    tier="C",
    doc="Near-duplicate cluster-size histogram: how many clusters of "
    "each size the LSH pair graph collapses into — the number a "
    "curation run reports next to its dedup rate (many 2-clusters = "
    "routine near-dups; one giant component = a banding bug or "
    "boilerplate storm, and the CC loop's convergence bound is about "
    "to matter). Two dimension-sized aggregates over the connected-"
    "components output; the corpus is touched only by the shared "
    "signature lineage. Oracle: recursive-CTE min-label reachability "
    "over the same candidate CTE as q_dedup_cluster.",
)
def q_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.operators.graph import (
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    cc = connected_components(pairs)
    sizes = cc.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(F.count("*").alias("n_clusters"))


def _simhash_sketch_ctes(bits: int = 16) -> str:
    """The tok/lanes/sk CTE chain computing the SimHash sketch in DuckDB
    — the same bit-lane construction as q_dedup_simhash's oracle
    (_simhash_oracle), parameterized by sketch width: lane b reads bit
    b of the first bits/4 md5 hex chars (functions/hashing.py
    hash_bits), so the two engines cannot drift at any width."""
    lanes = ",\n             ".join(
        f"SUM(CASE WHEN (('0x' || substr(md5(token), 1, {bits // 4}))::BIGINT"
        f" & {1 << b}) > 0 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    sketch = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
    tok AS (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(text, '\\s+'))) AS token
            FROM documents WHERE text <> ''),
    lanes AS (SELECT doc_id,
             {lanes}
              FROM tok WHERE token <> '' GROUP BY doc_id),
    sk AS (SELECT doc_id, CAST({sketch} AS BIGINT) AS simhash FROM lanes)
    """


#: Hamming radius for q_simhash_hamming (pigeonhole-banded, 4 blocks).
SIMHASH_HAMMING_D = 3
#: Sketch width for the Hamming join: wider than q_dedup_simhash's
#: 16-bit profile sketch because BANDED candidate generation needs
#: block width ≈ log2(corpus): 8-bit blocks keep expected bucket sizes
#: at n/256 (16-bit sketches put every doc in one of 16 buckets per
#: block — measured 112M candidate pairs at sf0.1 vs ~0.5M here).
SIMHASH_HAMMING_BITS = 32

#: Emergency bucket-df cap for q_simhash_hamming (round-12 skew-fixture
#: finding). Default "0" = UNCAPPED — the registered, oracle-stamped
#: contract ("recall is total": pigeonhole banding is proven lossless
#: against the brute-force oracle). On a boilerplate-DEGENERATE corpus,
#: though, the true answer itself is quadratic: /tmp/skew1's 24-rep hot
#: suffix drags every sketch toward one point, the d<=3 output
#: approaches all-pairs, and the uncapped bucket collect_list cell
#: killed the JVM (measured, round 12). Setting this conf to a positive
#: df drops over-cap band buckets BEFORE aggregation (banded_pairs'
#: spill-safe window count) — a recall trade, never a wrong pair: every
#: emitted pair still passes the exact bit_count verify, so soundness
#: is structural and only completeness is traded. The principled scale
#: answer remains a wider sketch (block width ~ log2 corpus, Manku's
#: 64-bit crawl config); the cap is for corpora where the ANSWER is
#: degenerate, not the banding.
SIMHASH_MAXDF_CONF = "spark.graft.simhash.maxdf"

#: Sketch-width valve for q_simhash_hamming. Default "" = the stamped
#: 32-bit plan above (the oracle is brute-force at THIS width). "auto"
#: derives the width from a corpus count via the r14-measured log2(n)
#: sizing law (operators/dedup.py auto_simhash_bits) — the setting a
#: corpus-scale deployment should run, because a fixed 32-bit sketch
#: re-hits the single-task hot-bucket cliff around 2^8 docs per band
#: value. Flipping this CHANGES THE ANSWER: the pair set is defined
#: over the sketch, so a wider sketch is a different (finer) query and
#: the stamped oracle no longer applies.
SIMHASH_BITS_CONF = "spark.graft.simhash.bits"


@register(
    "q_simhash_hamming",
    oracle=f"""
    WITH {_simhash_sketch_ctes(SIMHASH_HAMMING_BITS)}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sk a JOIN sk b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_D}
    """,
    tier="C",
    doc="Hamming-distance self-join over SimHash sketches: every document "
    f"pair within Hamming distance {SIMHASH_HAMMING_D} of each other's "
    f"{SIMHASH_HAMMING_BITS}-bit sketch, with the exact distance — the "
    "Manku/Jain/Sarma (WWW'07) near-duplicate web-crawl operator. "
    "Candidates come from PIGEONHOLE BANDING "
    "(operators/dedup.py:simhash_hamming_pairs): 4 bit-blocks, so "
    f"≤{SIMHASH_HAMMING_D} flips must leave ≥1 block intact — pairs "
    "are generated only inside (block, value) buckets and verified "
    "with one bit_count(xor); the oracle is the BRUTE-FORCE all-pairs "
    "join, so the hash match proves the banding is lossless at this "
    "radius. Scale: expected bucket width is n/2^(bits/bands) — block "
    "width must track log2(corpus), which is why this sketch is wider "
    "than q_dedup_simhash's 16-bit profile sketch (SIMHASH_HAMMING_BITS "
    "note) and why Manku's crawl setting is 64-bit sketches with "
    "4×16-bit blocks at the same d≤3. Runtime on dense corpora is "
    "OUTPUT-bound, not candidate-bound: the synthetic testdata's "
    "31-word vocabulary makes sketches cluster, and the TRUE d≤3 "
    "answer at sf0.1 is ~1.6M pairs from ~9.5M candidates (16% "
    "precision — banding is doing its job; the answer is just big). "
    "The consumer that compresses this is connected components "
    "(q_dedup_cluster), which never materializes all pairs per "
    "cluster. On a boilerplate-DEGENERATE corpus the TRUE answer is "
    "quadratic (every sketch collapses toward the template's — the "
    "round-12 skew fixture killed the uncapped run); "
    "spark.graft.simhash.maxdf (default off — this stamped plan is "
    "uncapped) is the emergency bucket cap for that regime, a recall "
    "trade that can never emit a wrong pair because every candidate "
    "still passes the exact bit_count verify. Determinism: integer "
    "sketches, integer distances; the only float anywhere is the ±1 "
    "vote sums' sign.",
)
def q_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.operators.dedup import (
        simhash_hamming_auto,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    cap = int(spark.conf.get(SIMHASH_MAXDF_CONF, "0")) or None
    if spark.conf.get(SIMHASH_BITS_CONF, "") == "auto":
        return simhash_hamming_auto(
            docs, max_distance=SIMHASH_HAMMING_D, max_df=cap
        )
    return simhash_hamming_pairs(
        simhash(docs, bits=SIMHASH_HAMMING_BITS),
        max_distance=SIMHASH_HAMMING_D,
        bits=SIMHASH_HAMMING_BITS,
        max_df=cap,
    )


#: k for the q_graph_kcore decomposition and the oracle's unroll depth.
#: Peeling is idempotent at its fixpoint, so the unroll only needs to
#: be ≥ the true convergence depth (asserted ≤ KCORE_UNROLL in
#: tests/test_robust_linkage.py); extra unrolled rounds are no-ops.
KCORE_K = 2
KCORE_UNROLL = 10


def _kcore_oracle(k: int = KCORE_K, rounds: int = KCORE_UNROLL) -> str:
    """Fixed-depth unrolled peeling over the shared LSH candidate CTE
    chain — the q_graph_pagerank strategy (unroll the iteration into
    SQL) applied to a NON-MONOTONE fixpoint: each round recomputes
    degrees over the previous round's edge set and drops sub-k
    vertices."""
    # AS MATERIALIZED is load-bearing: every round references the
    # previous edge CTE three times (the join source and both sides of
    # the survivor filter), so DuckDB's default CTE INLINING would
    # expand e0 ~3^rounds times — observed as "Too many open files"
    # from tens of thousands of parquet re-opens. Materializing each
    # round evaluates it once, mirroring the engine's per-round persist.
    parts = [
        "e0 AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM cand "
        "UNION ALL SELECT doc_b AS s, doc_a AS d FROM cand)"
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT s FROM (SELECT s, COUNT(*) AS c "
            f"FROM e{i-1} GROUP BY s) WHERE c >= {k})"
        )
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT e.s, e.d FROM e{i-1} e "
            f"JOIN k{i} a ON e.s = a.s JOIN k{i} b ON e.d = b.s)"
        )
    return (
        f"WITH {_lsh_cand_ctes()},\n"
        + ",\n    ".join(parts)
        + f"\n    SELECT s AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree"
        f" FROM e{rounds} GROUP BY s"
    )


@register(
    "q_graph_kcore",
    oracle=_kcore_oracle(),
    tier="C",
    doc=f"k-core decomposition (k={KCORE_K}) of the near-dup pair graph: "
    "the maximal subgraph where every vertex keeps degree ≥ k, with "
    "each survivor's core degree — the graph-robustness cut that "
    "separates genuinely dense duplicate clusters from pendant "
    "chance-collision edges (a vertex pair-connected once peels off; "
    "a clique member stays). Iterative PEELING run to its fixpoint "
    "(operators/graph.py kcore): per round one degree aggregate + two "
    "semi-joins against the shrinking survivor set, the distributed-CC "
    "loop's persist/convergence discipline. The oracle UNROLLS "
    f"{KCORE_UNROLL} peeling rounds over the same shared candidate CTE "
    "chain — sound because peeling is monotone-shrinking and idempotent "
    "at the fixpoint, so any unroll ≥ the true depth (asserted in "
    "tests) yields the identical core; the green hash thus proves the "
    "run-to-convergence loop against a closed-form SQL derivation of "
    "a NON-monotone iterative algorithm. Scale: rounds ≈ degeneracy "
    "depth (small for LSH graphs); each round's joins shuffle the "
    "(tiny) pair graph, never the corpus.",
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.operators.graph import kcore

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    return kcore(pairs, k=KCORE_K)


# --------------------------------------------------------------------------
# Prefix-truncation dedup
# --------------------------------------------------------------------------

#: Normalized-prefix length (chars) for q_dedup_prefix.
PREFIX_DUP_LEN = 64


@register(
    "q_dedup_prefix",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             md5(substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                        1, {PREFIX_DUP_LEN})) AS pk
      FROM documents WHERE text <> ''),
    g AS (SELECT doc_id, pk,
                 CAST(COUNT(*) OVER (PARTITION BY pk) AS BIGINT) AS group_size,
                 CAST(MIN(doc_id) OVER (PARTITION BY pk) AS BIGINT) AS canonical_id
          FROM keyed)
    SELECT doc_id, canonical_id, group_size
    FROM g WHERE group_size > 1
    """,
    tier="C",
    doc=f"Prefix-truncation duplicates: documents whose first "
    f"{PREFIX_DUP_LEN} NORMALIZED characters (lowercased, whitespace "
    "collapsed) coincide, each tagged with its group's minimum doc_id "
    "as canonical. Catches the truncation family exact-hash dedup "
    "misses (the same article cut at different lengths by scrapers "
    "shares a prefix but not a full-text hash) without the cost of "
    "the near-dup stack — in a curation DAG this runs between exact "
    "and MinHash stages. Scale: the shuffle key is a 16-byte md5 of "
    "a 64-char prefix, never the document; one hash-partitioned "
    "window, map-side nothing else.",
)
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    pk = F.md5(
        F.substring(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")),
            1,
            PREFIX_DUP_LEN,
        )
    )
    w = Window.partitionBy("pk")
    return (
        docs.select("doc_id", pk.alias("pk"))
        .select(
            "doc_id",
            F.min("doc_id").over(w).cast("long").alias("canonical_id"),
            F.count("*").over(w).cast("long").alias("group_size"),
        )
        .where(F.col("group_size") > 1)
    )


def _lsh_recall_oracle() -> str:
    """Compose the LSH candidate CTE chain with the exact-Jaccard
    prefix-filter chain (renamed to avoid CTE collisions) — one source
    of truth for both sides, the ann_recall pattern for text dedup."""
    return f"""
    WITH {_lsh_cand_ctes()},
    hh2 AS (SELECT DISTINCT doc_id,
                   ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
            FROM sh),
    rnk2 AS (SELECT doc_id, h,
                    row_number() OVER (PARTITION BY doc_id ORDER BY h) AS r,
                    COUNT(*) OVER (PARTITION BY doc_id) AS sz
             FROM hh2),
    pref2 AS (SELECT doc_id, h FROM rnk2
              WHERE r <= sz - floor(0.8 * sz) + 1),
    capped2 AS (SELECT h FROM pref2 GROUP BY h HAVING COUNT(*) <= {JACCARD_MAX_DF}),
    cand2 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM pref2 a JOIN pref2 b USING (h) JOIN capped2 USING (h)
              WHERE a.doc_id < b.doc_id),
    szs2 AS (SELECT doc_id, COUNT(*) AS sz FROM hh2 GROUP BY doc_id),
    iv2 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM hh2 a JOIN hh2 b ON b.h = a.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
    truth AS (SELECT c.doc_a, c.doc_b
              FROM cand2 c
              JOIN iv2 i USING (doc_a, doc_b)
              JOIN szs2 sa ON sa.doc_id = c.doc_a
              JOIN szs2 sb ON sb.doc_id = c.doc_b
              WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) >= 0.8),
    hit AS (SELECT COUNT(*) AS n_hit
            FROM truth JOIN cand USING (doc_a, doc_b)),
    tot AS (SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
                   CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_cand,
                   CAST((SELECT n_hit FROM hit) AS BIGINT) AS n_hit)
    SELECT n_truth, n_cand, n_hit,
           CAST(n_hit * 1000000 // nullif(n_truth, 0) AS BIGINT) AS recall_ppm,
           CAST(n_hit * 1000000 // nullif(n_cand, 0) AS BIGINT) AS precision_ppm
    FROM tot
    """


@register(
    "q_lsh_recall",
    oracle=_lsh_recall_oracle(),
    tier="C",
    doc="LSH dedup-index quality report: recall and precision of the "
    "banded-MinHash candidate pairs against the exact n-gram-Jaccard "
    "ground truth (threshold 0.8, same df cap) — the text-dedup twin "
    "of q_ann_recall, answering 'is the cheap index actually finding "
    "the duplicates the exact pass would?'. Both sides are the "
    "REGISTERED operators' own machinery (lsh_candidate_pairs, "
    "jaccard_pairs) and the oracle composes both queries' own CTE "
    "chains, so the report cannot drift from what the pipeline runs. "
    "Exact integer ppm; degenerate empty sides NULL via nullif. "
    "Scale: the expensive side is the exact truth pass — which is the "
    "point: production runs this on a SAMPLE to tune (k, bands), then "
    "trusts the index.",
)
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    # Both pair lists feed two consumers each (the hit join and their
    # own count). Persisting them measured WORSE steady-state — and
    # unlike the round-6 tfidf conclusion this one SURVIVED the
    # round-8 interleaved protocol (2.76 vs 3.45 s best-of-4, SCALE.md):
    # at 2 consumers the materialization barrier costs more than one
    # saved recompute, exactly the consumer-coefficient rule's
    # prediction. Left unpersisted deliberately.
    truth = jaccard_pairs(docs, threshold=0.8, max_df=JACCARD_MAX_DF).select(
        "doc_a", "doc_b", F.lit(1).alias("_t")
    )
    cand = lsh_candidate_pairs(minhash_signatures(docs)).select(
        "doc_a", "doc_b", F.lit(1).alias("_c")
    )
    # r16: ONE full-outer join + ONE aggregate replaces the hit join +
    # three per-side count aggregates — the old shape evaluated the
    # whole truth chain twice and the whole cand chain twice; now both
    # sides run once, without a persist. Both pair lists are DISTINCT by
    # construction, so the outer join's row set is the pair-set union
    # and the three counts are conditional sums of the marker columns
    # — output identical.
    # merge (SMJ) hint: BOTH sides are corpus-dependent pair tables
    # behind widening explodes with blind static estimates — the
    # round-14 sf1 probe caught the planner statically broadcasting
    # the cand side (the q_simhash_hamming crash class). SMJ is fully
    # spillable with no build-side memory on either side.
    joined = truth.join(cand.hint("merge"), ["doc_a", "doc_b"], "full_outer")
    tot = joined.agg(
        F.count("_t").cast("long").alias("n_truth"),
        F.count("_c").cast("long").alias("n_cand"),
        F.count(F.when(F.col("_t").isNotNull() & F.col("_c").isNotNull(), 1))
        .cast("long")
        .alias("n_hit"),
    )
    return tot.select(
        "n_truth",
        "n_cand",
        "n_hit",
        F.expr("n_hit * 1000000 div nullif(n_truth, 0)")
        .cast("long")
        .alias("recall_ppm"),
        F.expr("n_hit * 1000000 div nullif(n_cand, 0)")
        .cast("long")
        .alias("precision_ppm"),
    )


#: Probe-set rule for q_dedup_incremental: every 10th doc is the "new
#: crawl batch" being checked against the corpus.
INCR_PROBE_MOD = 10


@register(
    "q_dedup_incremental",
    oracle=f"""
    WITH {_lsh_cand_ctes()}
    SELECT doc_a, doc_b FROM cand
    WHERE doc_a % {INCR_PROBE_MOD} = 0 OR doc_b % {INCR_PROBE_MOD} = 0
    """,
    tier="C",
    doc="Incremental near-dup detection — the PRODUCTION dedup shape: "
    f"a new crawl batch (every {INCR_PROBE_MOD}th doc here) is probed "
    "against the WHOLE corpus's banded-LSH signature index, emitting "
    "only pairs that touch the batch (delta-vs-base and internal "
    "delta dups), never regenerating corpus-internal pairs. At 100 TB "
    "the index side is the persisted signature table and only the "
    "delta pays the shingle/minhash cost; probe work is "
    "|delta bands| x bucket width regardless of corpus pair count. "
    "The oracle filters the full-corpus candidate CTE down to "
    "probe-touching rows, proving the probe join finds EXACTLY the "
    "pairs a full recompute would.",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.operators.dedup import lsh_probe_pairs

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    sigs = minhash_signatures(docs).withColumn(
        "is_probe", F.col("doc_id") % INCR_PROBE_MOD == 0
    )
    return lsh_probe_pairs(sigs)
