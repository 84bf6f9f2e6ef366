"""Feature-engineering & model-evaluation tier (round 5, late batch 2).

The operators a training-data platform runs between "curated corpus"
and "model": leakage-free target encoding, score-band lift/capture
tables, TF-IDF pairwise similarity, a one-pass correlation matrix,
Benford first-digit data-quality profiling, exact largest-remainder
budget allocation, multi-source BFS over the near-duplicate graph, and
a salted two-phase aggregation that demonstrates the skew-mitigation
rewrite is result-identical.

House determinism rules (plans/analytics.py / plans/registry.py):
exact integer counts everywhere they fit; double chains written with
identical association on both engines; every cross-row double sum
quantized to a decimal grid first (decimal addition is associative,
double addition is not); md5-derived orderings for data-derived
"random" choices; ties broken on ids.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from news_categorization_big_data_spark.functions.cachepin import pin
from news_categorization_big_data_spark.functions.hashing import hash60
from news_categorization_big_data_spark.functions.partitioning import fan_out
from news_categorization_big_data_spark.functions.exact import (
    dec_to_double,
    o_dec_to_double,
)
from news_categorization_big_data_spark.plans.relational import (
    dsum,
    o_dsum_fin,
    poisoned_flag,
)
from news_categorization_big_data_spark.plans.registry import register
from news_categorization_big_data_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Out-of-fold target encoding
# --------------------------------------------------------------------------

#: K folds for out-of-fold encoding and the Laplace smoothing weight
#: pulling small categories toward the global prior.
TE_FOLDS = 5
TE_ALPHA = 10.0


@register(
    "q_target_encode",
    oracle=f"""
    WITH lab AS (
      SELECT o_orderpriority AS category,
             ('0x' || substr(md5('fold:' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
               % {TE_FOLDS} AS fold,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
      FROM orders),
    cf AS (SELECT category, fold,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(label) AS BIGINT) AS pos
           FROM lab GROUP BY category, fold),
    tot AS (SELECT *,
                   SUM(n) OVER (PARTITION BY category) AS n_c,
                   SUM(pos) OVER (PARTITION BY category) AS pos_c,
                   SUM(n) OVER () AS n_g,
                   SUM(pos) OVER () AS pos_g
            FROM cf)
    SELECT category, CAST(fold AS INT) AS fold, n,
           (CAST(pos_c - pos AS DOUBLE)
              + {TE_ALPHA!r} * (CAST(pos_g AS DOUBLE) / CAST(n_g AS DOUBLE)))
             / (CAST(n_c - n AS DOUBLE) + {TE_ALPHA!r}) AS te
    FROM tot
    """,
    tier="C",
    doc=f"Leakage-free out-of-fold target encoding — the standard way "
    "to turn a high-cardinality categorical into a numeric feature "
    "without letting a row see its own label: rows in fold f of "
    "category c receive the smoothed positive rate of c computed from "
    f"the OTHER {TE_FOLDS - 1} folds (Laplace weight {TE_ALPHA} toward "
    "the global prior, the Micci-Barreca 2001 scheme). Fold "
    "assignment is the engine's portable md5 hash — identical to the "
    "q_split_train_eval machinery, so folds are stable across runs "
    "and engines. Plan: one partial-aggregating shuffle to "
    "(category, fold) cells, then window sums over the CELL table "
    "(|categories|x|folds| rows — tiny at any corpus size; the raw "
    "rows are never windowed). Determinism: counts are exact "
    "integers; the encoding is one identical IEEE divide/multiply "
    "chain per cell on both engines.",
)
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("category"),
        (hash60(F.col("o_orderkey").cast("string"), seed="fold") % TE_FOLDS).alias(
            "fold"
        ),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
    )
    cf = lab.groupBy("category", "fold").agg(
        F.count("*").alias("n"), F.sum("label").cast("long").alias("pos")
    )
    w_c = Window.partitionBy("category")
    w_g = Window.partitionBy()
    tot = cf.select(
        "category",
        "fold",
        "n",
        "pos",
        F.sum("n").over(w_c).alias("n_c"),
        F.sum("pos").over(w_c).alias("pos_c"),
        F.sum("n").over(w_g).alias("n_g"),
        F.sum("pos").over(w_g).alias("pos_g"),
    )
    prior = F.col("pos_g").cast("double") / F.col("n_g").cast("double")
    te = (
        (F.col("pos_c") - F.col("pos")).cast("double") + F.lit(TE_ALPHA) * prior
    ) / ((F.col("n_c") - F.col("n")).cast("double") + F.lit(TE_ALPHA))
    return tot.select(
        "category", F.col("fold").cast("int").alias("fold"), "n", te.alias("te")
    )


# --------------------------------------------------------------------------
# Score-band lift / capture table
# --------------------------------------------------------------------------

#: Number of score bands and the positive-class event type (shared with
#: q_ml_auc so the two evaluation queries grade the same "model").
LIFT_BANDS = 10
LIFT_POSITIVE_TYPE = "purchase"


@register(
    "q_lift_bands",
    oracle=f"""
    WITH s AS (SELECT value AS score,
                      CASE WHEN event_type = '{LIFT_POSITIVE_TYPE}'
                           THEN 1 ELSE 0 END AS label
               FROM events),
    by_score AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(label) AS BIGINT) AS pos
                 FROM s GROUP BY score),
    cum AS (SELECT *,
                   SUM(n) OVER (ORDER BY score DESC) AS cum_n,
                   SUM(n) OVER () AS n_g,
                   SUM(pos) OVER () AS pos_g
            FROM by_score),
    banded AS (SELECT ({LIFT_BANDS} * cum_n + n_g - 1) // n_g AS band,
                      n, pos, n_g, pos_g
               FROM cum),
    per_band AS (SELECT band, n_g, pos_g,
                        CAST(SUM(n) AS BIGINT) AS n,
                        CAST(SUM(pos) AS BIGINT) AS positives
                 FROM banded GROUP BY band, n_g, pos_g)
    SELECT CAST(band AS INT) AS band, n, positives,
           CAST(positives AS DOUBLE) / CAST(n AS DOUBLE) AS resp_rate,
           (CAST(positives AS DOUBLE) / CAST(n AS DOUBLE))
             / nullif(CAST(pos_g AS DOUBLE) / CAST(n_g AS DOUBLE), 0.0) AS lift,
           CAST(SUM(positives) OVER (ORDER BY band) AS DOUBLE)
             / nullif(CAST(pos_g AS DOUBLE), 0.0) AS cum_capture
    FROM per_band
    """,
    tier="C",
    doc=f"Score-band lift/capture table — the campaign-targeting twin "
    "of q_ml_auc: rank the population by model score, cut it into "
    f"{LIFT_BANDS} equal-population bands (ties stay together: a "
    "band boundary never splits rows with identical scores, so the "
    "table is deterministic under any sort order), and report each "
    "band's response rate, lift over the base rate, and cumulative "
    "capture of all positives. Band id is pure integer arithmetic "
    "ceil(B*cum_n/N) via (B*cum_n + N - 1) DIV N — no float "
    "boundary can misplace a row. Plan (the q_ml_auc shape): "
    "aggregate to DISTINCT SCORES first — the only ordered window "
    "runs over the distinct-score table, which is orders of "
    "magnitude smaller than the events and bounded in practice by "
    "score quantization, not corpus size; the band regroup is "
    f"{LIFT_BANDS} rows. Determinism: counts exact integers; rates "
    "are identical IEEE division chains.",
)
def q_lift_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "events").select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == LIFT_POSITIVE_TYPE, 1).otherwise(0).alias("label"),
    )
    by_score = s.groupBy("score").agg(
        F.count("*").alias("n"), F.sum("label").cast("long").alias("pos")
    )
    # score is unique after the groupBy, so the one-task cumulative
    # and full-frame windows run over the pre-aggregated value domain
    w_all = Window.partitionBy()
    cum = (
        by_score.withColumn(
            "cum_n",
            F.sum("n").over(
                Window.orderBy(F.col("score").desc()).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        .withColumn("n_g", F.sum("n").over(w_all))
        .withColumn("pos_g", F.sum("pos").over(w_all))
        .select("n", "pos", "cum_n", "n_g", "pos_g")
    )
    banded = cum.select(
        F.expr(f"({LIFT_BANDS} * cum_n + n_g - 1) div n_g").alias("band"),
        "n",
        "pos",
        "n_g",
        "pos_g",
    )
    per_band = banded.groupBy("band", "n_g", "pos_g").agg(
        F.sum("n").alias("n"), F.sum("pos").alias("positives")
    )
    rate = F.col("positives").cast("double") / F.col("n").cast("double")
    # nullif-guard the base rate / total positives: a population with
    # ZERO positives would divide by zero, which Spark (non-ANSI)
    # renders NULL and DuckDB renders inf — the cross-engine hazard
    # q_grouped_moments documented; guard BOTH engines to NULL.
    base = F.nullif(
        F.col("pos_g").cast("double") / F.col("n_g").cast("double"), F.lit(0.0)
    )
    w_band = Window.orderBy("band")
    return per_band.select(
        F.col("band").cast("int").alias("band"),
        "n",
        "positives",
        rate.alias("resp_rate"),
        (rate / base).alias("lift"),
        (
            F.sum("positives").over(w_band).cast("double")
            / F.nullif(F.col("pos_g").cast("double"), F.lit(0.0))
        ).alias("cum_capture"),
    )


# --------------------------------------------------------------------------
# Multi-source BFS over the near-duplicate pair graph
# --------------------------------------------------------------------------

#: BFS depth (statically unrolled — both engines run the identical
#: K rounds) and seed count (md5-smallest vertices: deterministic).
BFS_HOPS = 4
BFS_SEEDS = 3


def _bfs_oracle() -> str:
    from news_categorization_big_data_spark.plans.dedup import _lsh_cand_ctes

    step = """
    d{K} AS (SELECT doc_id, MIN(hop) AS hop FROM (
               SELECT doc_id, hop FROM d{P}
               UNION ALL
               SELECT e.dst AS doc_id, d.hop + 1 AS hop
               FROM d{P} d JOIN ed e ON e.src = d.doc_id)
             GROUP BY doc_id)"""
    steps = ",".join(step.format(K=k, P=k - 1) for k in range(1, BFS_HOPS + 1))
    return f"""
    WITH {_lsh_cand_ctes()},
    ed AS (SELECT doc_a AS src, doc_b AS dst FROM cand
           UNION ALL SELECT doc_b, doc_a FROM cand),
    seeds AS (SELECT s AS doc_id FROM (SELECT DISTINCT src AS s FROM ed)
              ORDER BY md5(CAST(s AS VARCHAR)), s LIMIT {BFS_SEEDS}),
    d0 AS (SELECT doc_id, 0 AS hop FROM seeds),
    {steps}
    SELECT doc_id, CAST(hop AS INT) AS hops FROM d{BFS_HOPS}
    """


@register(
    "q_graph_bfs",
    oracle=_bfs_oracle(),
    tier="C",
    doc=f"Multi-source BFS hop distance (≤{BFS_HOPS} hops, statically "
    f"unrolled) from the {BFS_SEEDS} md5-smallest vertices of the "
    "banded-LSH near-duplicate pair graph — the reachability "
    "primitive behind contamination tracing ('which documents are "
    "within k near-dup hops of a known bad seed?'). Each round is "
    "frontier-join + min-hop regroup over the DISTANCE TABLE, never "
    "path enumeration — intermediate cardinality is bounded by |E| "
    "per round regardless of how many paths exist (a clique explodes "
    "path counts but not the distance table), which is what makes "
    "the unrolled plan safe on boilerplate hub clusters. Oracle "
    "reuses the SAME candidate CTE chain as q_dedup_near/"
    "q_graph_pagerank, so the graphs cannot drift. All-integer "
    "arithmetic — exact on both engines. At 100 TB the unrolled lazy "
    "plan swaps into the connected_components persist-per-round loop "
    "skeleton (operators/graph.py) unchanged.",
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    pairs = lsh_candidate_pairs(minhash_signatures(docs)).select("doc_a", "doc_b")
    ed = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # The edge table feeds BFS_HOPS frontier joins plus the seed scan; a
    # lazy localCheckpoint materializes the (expensive) shingle→MinHash→
    # band lineage once instead of once per unrolled round — measured
    # 10.3 s → ~3 s at sf0.1. Values are unchanged; at 100 TB this is
    # the persist the CC-loop skeleton already mandates.
    ed = ed.localCheckpoint(eager=False)
    verts = ed.select(F.col("src").alias("doc_id")).distinct()
    seeds = (
        verts.select("doc_id", F.md5(F.col("doc_id").cast("string")).alias("_h"))
        .orderBy("_h", "doc_id")
        .limit(BFS_SEEDS)
        .select("doc_id")
    )
    from news_categorization_big_data_spark.operators.graph import bfs_hops

    dist = bfs_hops(ed, seeds, BFS_HOPS)
    return dist.select("doc_id", F.col("hop").cast("int").alias("hops"))


# --------------------------------------------------------------------------
# TF-IDF pairwise cosine (sparse, postings-join)
# --------------------------------------------------------------------------

#: Stop-term cut: terms present in more than 1/TFIDF_DF_FRAC of the
#: corpus are dropped from the vector space (their idf weight is ~0
#: anyway, and their postings lists are what makes a term join
#: quadratic). Integer compare df * TFIDF_DF_FRAC <= N on both engines.
#: The RELATIVE cut alone is not enough: a term sitting exactly at the
#: cap still yields (N/TFIDF_DF_FRAC)² /2 pairs — quadratic in corpus
#: size (measured: 10x docs → 300x runtime on the synthetic corpus,
#: whose replica markers land exactly at df = N/10). The ABSOLUTE
#: bound TFIDF_DF_MAX caps any term's pair fan-out at DF_MAX²/2
#: independent of N — the AllPairs/PPJoin max_df discipline used by
#: the jaccard family; lower it for planet-scale corpora (pairing on
#: rarer terms is also where the cosine signal lives).
TFIDF_DF_FRAC = 10
TFIDF_DF_MAX = 1000
TFIDF_TOP_PAIRS = 20


@register(
    "q_tfidf_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
                  FROM documents WHERE text <> ''),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks WHERE tok <> '' GROUP BY doc_id, tok),
    n_docs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
               FROM documents WHERE text <> ''),
    dft AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    post AS (SELECT tf.doc_id, tf.tok,
                    CAST(tf.tf AS DOUBLE)
                      * ((CAST(n.n - dft.df AS DOUBLE) + 0.5)
                         / (CAST(dft.df AS DOUBLE) + 0.5)) AS w
             FROM tf JOIN dft USING (tok), n_docs n
             WHERE dft.df * {TFIDF_DF_FRAC} <= n.n
               AND dft.df <= {TFIDF_DF_MAX}),
    nrm AS (SELECT doc_id,
                   sqrt({o_dec_to_double("SUM(CAST(w * w AS DECIMAL(30,9)))", 9)}) AS nn
            FROM post GROUP BY doc_id),
    dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    {o_dec_to_double("SUM(CAST(a.w * b.w AS DECIMAL(30,9)))", 9)} AS dot
             FROM post a JOIN post b
               ON a.tok = b.tok AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, cos FROM (
      SELECT d.doc_a, d.doc_b, d.dot / (na.nn * nb.nn) AS cos
      FROM dots d JOIN nrm na ON d.doc_a = na.doc_id
                  JOIN nrm nb ON d.doc_b = nb.doc_id)
    ORDER BY cos DESC, doc_a, doc_b LIMIT {TFIDF_TOP_PAIRS}
    """,
    tier="C",
    doc=f"Sparse TF-IDF pairwise cosine, top-{TFIDF_TOP_PAIRS} most "
    "similar document pairs — the lexical-vector complement to the "
    "shingle-Jaccard and embedding near-dup families (catches "
    "paraphrase-by-reordering that ordered shingles miss, without "
    "needing embeddings). Idf uses the log-free monotone surrogate "
    "(N-df+0.5)/(df+0.5) (the q_bm25_rank precedent — native log "
    "differs cross-engine in the last ulp). Scale shape: pairs come "
    "ONLY from the term-postings self-join, and terms appearing in "
    f"more than 1/{TFIDF_DF_FRAC} of the corpus OR more than "
    f"{TFIDF_DF_MAX} documents are cut from the vector space first "
    "(integer compares df*K<=N and df<=MAX) — the relative cut "
    "drops stop terms, and the ABSOLUTE cap bounds any term's pair "
    "fan-out at MAX²/2 independent of corpus size (without it a "
    "term at the relative cap contributes (N/K)² pairs — measured "
    "quadratic at the 10x point); the join is sum-of-df², never "
    "|docs|²; norms are computed over the same "
    "cut vocabulary, so the cosine is exact IN that space, not an "
    "approximation of the uncut one. Determinism: tf/df/N exact "
    "integers; weights are identical IEEE chains; every cross-term "
    "sum (norms and dots) quantizes to a 10⁻⁹ decimal grid first; "
    "top-k ties break on (doc_a, doc_b).",
)
def q_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.functions.text_exprs import tokens

    # Keyed fan_out before the token explode (guide §2.5): the single-
    # row-group bench fixture makes the scan 1 task, serializing the
    # tokenize+explode+tf partial agg that everything downstream hangs
    # off. No-op on cluster-width scans. Measured (interleaved toggle):
    # sf1 4.13->2.43 s, sf0.1 neutral (1.68 vs 1.75 — noise), oracle-
    # MATCH.
    docs = fan_out(
        load_table(spark, sf_dir, "documents")
        .where(F.col("text") != "")
        .select("doc_id", tokens("text").alias("toks")),
        by=("doc_id",),
    )
    tf = (
        docs.select("doc_id", F.explode("toks").alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = docs.agg(F.count("*").alias("n"))
    dft = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = ((F.col("n") - F.col("df")).cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    post = (
        tf.join(dft, "tok")
        .crossJoin(F.broadcast(n_docs))
        .where(
            (F.col("df") * TFIDF_DF_FRAC <= F.col("n"))
            & (F.col("df") <= TFIDF_DF_MAX)
        )
        .select("doc_id", "tok", (F.col("tf").cast("double") * idf).alias("w"))
    )
    # `post` feeds four consumers (norm aggregate via both rename
    # sides + both self-join sides) — 4 evaluations of the
    # tokenize+explode+two-shuffle subtree, 12 compiled scans. The
    # round-6 "persist is a wash-to-worse" note was re-tested with the
    # INTERLEAVED protocol (SCALE.md round 8) and reversed: pinning
    # post is ~8% faster steady-state and 2.2x faster cold at sf0.1;
    # the old comparison crossed measurement windows.
    post = pin(post)
    nrm = post.groupBy("doc_id").agg(
        F.sqrt(
            dec_to_double(
                F.sum((F.col("w") * F.col("w")).cast("decimal(30,9)")), 9
            )
        ).alias("nn")
    )
    a = post.select(
        F.col("doc_id").alias("doc_a"), "tok", F.col("w").alias("wa")
    )
    b = post.select(
        F.col("doc_id").alias("doc_b"), "tok", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "tok")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            dec_to_double(
                F.sum((F.col("wa") * F.col("wb")).cast("decimal(30,9)")), 9
            ).alias("dot")
        )
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nn").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nn").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cos"))
        .orderBy(F.desc("cos"), "doc_a", "doc_b")
        .limit(TFIDF_TOP_PAIRS)
    )


# --------------------------------------------------------------------------
# One-pass correlation matrix
# --------------------------------------------------------------------------

#: The lineitem measure columns correlated pairwise.
CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

#: Exact sums WITHOUT the decimal tax — the limb-split trick. A decimal
#: aggregate is exact but ~60x slower than a native long sum (measured
#: at sf1: 35 s vs 0.6 s for these 15 moments). Instead each per-row
#: moment quantizes to integer MICRO-UNITS (round(e*1e6) as BIGINT —
#: exact for |e| < 9.2e12, identical on both engines for non-negative
#: e), splits into three 20-bit limbs, and each limb sums as a plain
#: long: limb < 2^20 and the hi limb < 2^16 here, so sums stay inside
#: int64 up to 2^42 (~4.4e12) rows — Spark would wrap and DuckDB would
#: promote past that, so the bound is part of the contract. The exact
#: total reassembles in DECIMAL on the 1-ROW result (hi*2^40 +
#: mid*2^20 + lo, then /1e6) — decimal arithmetic priced per-query,
#: not per-row. Requires non-negative inputs (shift/mask limbs; a
#: signed variant offsets per-row and subtracts n*offset at the end).
_LIMB_MASK = (1 << 20) - 1


def _o_limb_sums(expr: str, name: str) -> list[str]:
    # floor, not round: Spark's round() on doubles allocates a
    # BigDecimal per row (measured 10x the whole aggregate's cost);
    # floor is one codegen instruction and IEEE-identical on both
    # engines. The grid shifts by at most one micro-unit — immaterial,
    # and identical cross-engine, which is the actual requirement.
    q = f"CAST(floor(({expr}) * 1000000) AS BIGINT)"
    return [
        f"SUM({q} >> 40) AS {name}_hi",
        f"SUM(({q} >> 20) & {_LIMB_MASK}) AS {name}_mid",
        f"SUM({q} & {_LIMB_MASK}) AS {name}_lo",
    ]


def _o_limb_total(name: str) -> str:
    return (
        f"CAST(CAST({name}_hi AS DECIMAL(38,0)) * 1099511627776"
        f" + CAST({name}_mid AS DECIMAL(38,0)) * 1048576"
        f" + CAST({name}_lo AS DECIMAL(38,0)) AS DOUBLE) / 1000000.0"
    )


def _corr_moments() -> list[tuple[str, str]]:
    """(moment_name, sql_expr) for every needed moment."""
    out = []
    for c in CORR_COLS:
        out.append((f"s_{c}", c))
        out.append((f"s_{c}_{c}", f"{c} * {c}"))
    for i, x in enumerate(CORR_COLS):
        for y in CORR_COLS[i + 1 :]:
            out.append((f"s_{x}_{y}", f"{x} * {y}"))
    return out


def _corr_oracle() -> str:
    moments = _corr_moments()
    limb_sums = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    rebuilt = ["n"]
    for name, expr in moments:
        limb_sums.extend(_o_limb_sums(expr, name))
        rebuilt.append(f"{_o_limb_total(name)} AS {name}")
    pairs = []
    for i, x in enumerate(CORR_COLS):
        for y in CORR_COLS[i + 1 :]:
            pairs.append(
                f"""SELECT '{x}' AS col_x, '{y}' AS col_y,
                 (n * s_{x}_{y} - s_{x} * s_{y})
                   / nullif(sqrt(n * s_{x}_{x} - s_{x} * s_{x})
                            * sqrt(n * s_{y}_{y} - s_{y} * s_{y}), 0.0) AS corr
                 FROM m"""
            )
    union = " UNION ALL ".join(pairs)
    return (
        f"WITH m0 AS (SELECT {', '.join(limb_sums)} FROM lineitem), "
        f"m AS (SELECT {', '.join(rebuilt)} FROM m0) {union}"
    )


@register(
    "q_corr_matrix",
    oracle=_corr_oracle(),
    tier="C",
    doc=f"Pairwise Pearson correlation matrix of the {len(CORR_COLS)} "
    "lineitem measures in ONE pass (long format, upper triangle) — "
    "the feature-selection screen run before training ('which "
    "columns are redundant?'). A naive engine runs corr() once per "
    "pair = C(k,2) scans; here every moment (k sums, k sums of "
    "squares, C(k,2) cross-products) accumulates in a single "
    "partial-aggregating pass over the table, and the matrix "
    "assembles from the 1-row moment tuple — the only shuffle "
    "carries ~3k² longs. Determinism: each moment quantizes "
    "per-row to integer micro-units and sums via the LIMB-SPLIT "
    "trick (see _o_limb_sums: three 20-bit limbs summed as plain "
    "longs, reassembled exactly in decimal on the 1-row result) — "
    "reduction-order-free like a decimal aggregate but at native "
    "long-sum speed (measured 35 s → ~1 s for these 15 moments at "
    "sf1); the corr formula is one identical "
    "multiply/divide/sqrt chain (sqrt is exactly rounded per "
    "IEEE 754), degenerate zero-variance columns nullif-guarded "
    "symmetrically.",
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    moments = _corr_moments()
    aggs = [F.count("*").cast("double").alias("n")]
    for name, expr in moments:
        q = F.floor(F.expr(expr) * 1_000_000).cast("long")
        aggs.append(F.sum(F.shiftright(q, 40)).alias(f"{name}_hi"))
        aggs.append(
            F.sum(F.shiftright(q, 20).bitwiseAND(F.lit(_LIMB_MASK))).alias(
                f"{name}_mid"
            )
        )
        aggs.append(F.sum(q.bitwiseAND(F.lit(_LIMB_MASK))).alias(f"{name}_lo"))
    m0 = li.agg(*aggs)
    m = m0.select(
        "n", *[F.expr(_o_limb_total(name)).alias(name) for name, _ in moments]
    )
    pair_names = [
        (x, y) for i, x in enumerate(CORR_COLS) for y in CORR_COLS[i + 1 :]
    ]

    def corr_expr(x: str, y: str):
        num = F.col("n") * F.col(f"s_{x}_{y}") - F.col(f"s_{x}") * F.col(f"s_{y}")
        den = F.sqrt(
            F.col("n") * F.col(f"s_{x}_{x}") - F.col(f"s_{x}") * F.col(f"s_{x}")
        ) * F.sqrt(
            F.col("n") * F.col(f"s_{y}_{y}") - F.col(f"s_{y}") * F.col(f"s_{y}")
        )
        return num / F.nullif(den, F.lit(0.0))

    rows = F.array(
        *[
            F.struct(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                corr_expr(x, y).alias("corr"),
            )
            for x, y in pair_names
        ]
    )
    return m.select(F.explode(rows).alias("r")).select("r.col_x", "r.col_y", "r.corr")


# --------------------------------------------------------------------------
# Benford first-digit data-quality profile
# --------------------------------------------------------------------------

#: Benford expected first-digit shares log10(1 + 1/d), precomputed
#: HOST-side so both engines parse the same double literals (native
#: log10 differs cross-engine in the last ulp).
BENFORD_EXPECTED = tuple(math.log10(1.0 + 1.0 / d) for d in range(1, 10))


def _benford_case(col: str) -> str:
    # e0-typed literals so DuckDB parses DOUBLE, not DECIMAL(18,17)
    # (the q_graph_pagerank precedent); repr() of these magnitudes never
    # contains an exponent, so the suffix is well-formed.
    assert all("e" not in repr(v) for v in BENFORD_EXPECTED)
    arms = " ".join(
        f"WHEN {d} THEN {BENFORD_EXPECTED[d - 1]!r}e0" for d in range(1, 10)
    )
    return f"CASE {col} {arms} END"


@register(
    "q_benford_digits",
    oracle=f"""
    WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                       AS VARCHAR), 1, 1) AS INT) AS digit
               FROM orders),
    c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(COUNT(*)) OVER () AS n_g
          FROM d GROUP BY digit)
    SELECT digit, n,
           CAST(n AS DOUBLE) / CAST(n_g AS DOUBLE) AS obs_share,
           {_benford_case('digit')} AS exp_share,
           abs(CAST(n AS DOUBLE) / CAST(n_g AS DOUBLE)
               - {_benford_case('digit')}) AS abs_dev
    FROM c
    """,
    tier="C",
    doc="Benford's-law first-digit profile of the order totals — the "
    "classic data-quality screen for fabricated or truncated numeric "
    "columns (natural multi-scale amounts follow P(d)=log10(1+1/d); "
    "uniform synthetic data, capped fields, or unit-conversion bugs "
    "show up as flat or spiked digit histograms). First digit is "
    "extracted via EXACT integer arithmetic: cents = round(x*100) as "
    "BIGINT, then the first character of the INTEGER's string form — "
    "never double-to-string formatting (engine-dependent) and never "
    "log10 binning (ulp-dependent); the expected shares are host-"
    "precomputed double literals, identical to both engines. "
    "Map-only + one 9-group aggregate: trivially 100-TB-safe.",
)
def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    d = load_table(spark, sf_dir, "orders").select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    )
    c = d.groupBy("digit").agg(F.count("*").alias("n"))
    w = Window.partitionBy()
    c = c.withColumn("n_g", F.sum("n").over(w))
    # Explicit null guard on the lookup index: a NULL digit (null
    # o_totalprice) must yield NULL exp_share on both engines — Spark's
    # element_at is unreliable under a NULL ordinal (the /tmp/skew5
    # fixture observed it returning the LAST element, not NULL), while
    # the oracle's CASE yields NULL by falling through.
    exp_share = F.when(
        F.col("digit").isNotNull(),
        F.element_at(F.array(*[F.lit(v) for v in BENFORD_EXPECTED]), F.col("digit")),
    )
    obs = F.col("n").cast("double") / F.col("n_g").cast("double")
    return c.select(
        "digit",
        "n",
        obs.alias("obs_share"),
        exp_share.alias("exp_share"),
        F.abs(obs - exp_share).alias("abs_dev"),
    )


# --------------------------------------------------------------------------
# Largest-remainder budget allocation
# --------------------------------------------------------------------------

#: Total sampling budget allocated across nations proportional to
#: customer counts (the Hamilton / largest-remainder method).
ALLOC_BUDGET = 1000


def alloc_largest_remainder(
    counts: DataFrame, budget: int, key: str, n: str
) -> DataFrame:
    """Hamilton allocation over a (key, n) stratum table (shared with
    the property tests, which brute-force it in Python on generated
    inputs). Windows run over the stratum table only."""
    w_all = Window.partitionBy()
    c = counts.withColumn("n_g", F.sum(n).over(w_all))
    q = c.select(
        key,
        n,
        F.expr(f"({budget} * {n}) div n_g").alias("base"),
        (F.lit(budget) * F.col(n) % F.col("n_g")).alias("rem"),
    ).withColumn("extra", F.lit(budget) - F.sum("base").over(w_all))
    # Null placement pinned on BOTH rank keys: a NULL stratum id (the
    # /tmp/skew5 null-key fixture) must tie-break identically across
    # engines — Spark's DESC default is NULLS LAST but DuckDB's is
    # NULLS FIRST, and vice versa for ASC.
    w_rk = Window.orderBy(
        F.col("rem").desc_nulls_last(), F.col(key).asc_nulls_first()
    )
    r = q.withColumn("rk", F.row_number().over(w_rk))
    return r.select(
        key,
        n,
        (
            F.col("base") + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
    )


@register(
    "q_alloc_budget",
    oracle=f"""
    WITH c AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
                      SUM(COUNT(*)) OVER () AS n_g
               FROM customer GROUP BY c_nationkey),
    q AS (SELECT c_nationkey, n_customers,
                 ({ALLOC_BUDGET} * n_customers) // n_g AS base,
                 ({ALLOC_BUDGET} * n_customers) % n_g AS rem,
                 {ALLOC_BUDGET} - SUM(({ALLOC_BUDGET} * n_customers) // n_g)
                                    OVER () AS extra
          FROM c),
    r AS (SELECT *, row_number() OVER (ORDER BY rem DESC NULLS LAST,
                                                c_nationkey NULLS FIRST) AS rk
          FROM q)
    SELECT c_nationkey, n_customers,
           CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM r
    """,
    tier="C",
    doc=f"Exact largest-remainder (Hamilton) allocation of a fixed "
    f"sampling budget ({ALLOC_BUDGET}) across strata proportional to "
    "their sizes — the curation step that turns 'sample 0.1% "
    "stratified' into INTEGER per-stratum quotas that provably sum "
    "to the budget (floor everyone's exact quota, then hand the "
    "leftover units to the largest fractional remainders; ties break "
    "on stratum id). Pure integer arithmetic throughout — B*n is "
    "exact BIGINT, quotient/remainder via integer DIV/% — so no "
    "float rounding can make the quotas sum to B±1, the classic bug "
    "in naive round(B*share) allocators. Plan: one count aggregate, "
    "then windows over the STRATUM table (|strata| rows — tiny); at "
    "100 TB the raw table is touched once.",
)
def q_alloc_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )
    return alloc_largest_remainder(c, ALLOC_BUDGET, "c_nationkey", "n_customers")


# --------------------------------------------------------------------------
# Salted two-phase aggregation
# --------------------------------------------------------------------------

#: Salt fan-out for the skew-mitigation rewrite.
SALT_BUCKETS = 16


@register(
    "q_salted_agg",
    oracle=f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           -- poison -> NULL exact sum; the flag is itself a mergeable
           -- partial (bool OR across salts; /tmp/skew7)
           {o_dsum_fin('value')} AS total_value
    FROM events GROUP BY event_type
    """,
    tier="C",
    doc=f"Salted two-phase aggregation, PROVEN result-identical to the "
    "plain GROUP BY by the oracle hash: phase 1 groups by "
    f"(event_type, xxhash64(event_id) % {SALT_BUCKETS}) so one hot "
    "key's rows land on up to 16 reducers; phase 2 merges the "
    "per-salt partials. This is the skew-mitigation rewrite for the "
    "case AQE skew-join handling cannot reach (a single hot GROUP BY "
    "key inside one partition), and the query exists to pin the "
    "invariant that makes it legal: the partial states must be "
    "MERGEABLE EXACTLY — counts are integers, and the value sum "
    "stays DECIMAL through both phases (decimal addition is "
    "associative; casting partials to double between phases would "
    "reintroduce order dependence across the 16 merges). The salt "
    "uses Spark-native xxhash64 — no md5 parity needed, since the "
    "salt cancels out of the result by construction. Note Spark's "
    "hash aggregate already does map-side partials for sum/count; "
    "the explicit salt matters for the operators partial-agg can't "
    "split (collect_list, exact distinct) and is demonstrated here "
    "on the cheapest possible carrier.",
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    partial = (
        ev.select(
            "event_type",
            F.pmod(F.xxhash64("event_id"), F.lit(SALT_BUCKETS)).alias("salt"),
            F.col("value").alias("raw"),
            F.col("value").cast("decimal(30,6)").alias("v"),
        )
        .groupBy("event_type", "salt")
        .agg(
            F.count("*").alias("pn"),
            poisoned_flag("raw").alias("pp"),
            F.sum("v").alias("pv"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        # poison -> NULL merged total; the per-salt flags OR together —
        # poison is itself exactly-mergeable partial state (/tmp/skew7)
        F.when(~F.max("pp"), dsum("pv", 6)).alias("total_value"),
    )


# --------------------------------------------------------------------------
# Rank (quantile) normalization
# --------------------------------------------------------------------------


@register(
    "q_rank_normalize",
    oracle="""
    WITH dv AS (
      -- value IS NOT NULL: a NULL feature has no rank — it stays NULL
      -- downstream instead of occupying a CDF position (and the
      -- cumulative window would otherwise inherit each engine's
      -- different default null placement — /tmp/skew4).
      SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events WHERE event_type IN ('click', 'purchase')
        AND value IS NOT NULL
      GROUP BY 1, 2),
    rk AS (
      SELECT event_type, value, cnt,
             CAST(COALESCE(SUM(cnt) OVER (PARTITION BY event_type ORDER BY value
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_below,
             CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM dv)
    SELECT event_type, value, cnt, n_below,
           CAST(CASE WHEN n > 1 THEN (n_below * 1000000) // (n - 1) ELSE 0 END
                AS BIGINT) AS norm_ppm
    FROM rk
    """,
    tier="C",
    doc="Rank (quantile) normalization of a per-group feature: each "
    "distinct value maps to its group's empirical CDF position in "
    "exact ppm — the distribution-free standardization robust to "
    "outliers and scale (z-scores blow up on heavy tails; rank "
    "normalization is invariant to any monotone transform). The "
    "q_gini/q_lift distinct-value discipline: the ordered window "
    "rides the DISTINCT (type, value) table with per-value counts, "
    "never the raw events, so the sort is bounded by cardinality, "
    "not corpus size; ties collapse to one row and by construction "
    "share a rank. norm_ppm = floor(n_below·1e6 / (n−1)) is "
    "all-integer (min value -> 0, max -> 1e6). Join the output back "
    "to events on (type, value) to materialize per-row features — "
    "kept separate here so the oracle pins the rank table itself.",
)
def q_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # value IS NOT NULL — see the oracle note (/tmp/skew4 null policy).
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    )
    dv = ev.groupBy("event_type", "value").agg(
        F.count("*").cast("long").alias("cnt")
    )
    below = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rk = dv.select(
        "event_type",
        "value",
        "cnt",
        F.coalesce(F.sum("cnt").over(below), F.lit(0)).cast("long").alias("n_below"),
        F.sum("cnt").over(Window.partitionBy("event_type")).cast("long").alias("n"),
    )
    return rk.select(
        "event_type",
        "value",
        "cnt",
        "n_below",
        F.when(F.col("n") > 1, F.expr("(n_below * 1000000) div (n - 1)"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("norm_ppm"),
    )
