"""ML surface queries (SURVEY.md §2.12 "(ml)" rows): classification
pipeline and extractive summarization as registered queries.

Model internals are engine-specific (hash-TF feature spaces, LBFGS fit),
so the oracles of the model queries pin what is engine-independent:
exact counts plus booleans over the fitted model (accuracy floor,
objective bound). Accuracy on a separable fixture and the fallback
contract are asserted in tests/test_operators.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from news_categorization_big_data_spark.operators import classify as clf
from news_categorization_big_data_spark.operators.summarize import extractive_summarize
from news_categorization_big_data_spark.functions.exact import (
    dec_to_double,
    o_dec_to_double,
)
from news_categorization_big_data_spark.plans.relational import dsum
from news_categorization_big_data_spark.plans.registry import register
from news_categorization_big_data_spark.plans.relational import (
    nonfinite,
    poisoned_flag,
)
from news_categorization_big_data_spark.sources.tables import load_table

#: Fixed digest date: the reference stamps the digest with the wall-clock
#: date (news_summarization_batch.py:108-111) — nondeterministic across
#: runs/engines, so the registered query pins a constant.
DIGEST_DATE = "2026-01-01"

#: Max documents per category digest. The reference's per-category
#: collect is UNBOUNDED (news_summarization_batch.py:105-107) — a defect
#: at corpus scale (one hot category = one giant reducer string, and a
#: Telegram message is size-capped anyway). A row_number window bounds
#: the per-category collect_list to a constant.
DIGEST_MAX_ITEMS = 100


def _kw_entries_sql(toks_col: str) -> str:
    """DuckDB struct-list literal mirroring classify_keywords' scoring,
    generated from the SAME KEYWORD_CATEGORIES constant as the Spark plan
    (the minhash-oracle pattern: one source of truth for both engines)."""
    return ", ".join(
        "{{'s': len(list_filter({toks}, x -> list_contains([{kws}], x))), 'c': '{cat}'}}".format(
            toks=toks_col,
            kws=", ".join(f"'{k}'" for k in kws),
            cat=cat,
        )
        for cat, kws in sorted(clf.KEYWORD_CATEGORIES.items())
    )


#: Train-accuracy floor for the q_ml_classify semi-oracle: measured
#: 0.468 at sf0.01 (chance ≈ 1/#langs ≈ 0.2); 0.30 leaves a wide
#: margin over both chance and last-ulp LBFGS wobble while still
#: failing on a broken pipeline (untrained model ≈ majority share).
CLF_ACC_FLOOR = 0.30


@register(
    "q_ml_classify",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, TRUE AS acc_ok
    FROM documents
    """,
    tier="C",
    doc="MLlib classification pipeline (RegexTokenizer → HashingTF → IDF → "
    "LogisticRegression), the engine-native replacement for the "
    "reference's zero-shot model (news_categorization_streaming.py:59-112)."
    " Trained on documents labeled by lang; predictions keep the "
    "(id, category, confidence) contract with ('unknown', 0.0) "
    "fallbacks. SEMI-ORACLE (round-7 upgrade from rows-only): model "
    "coefficients are engine-internal, so the driver-hashed output is "
    "the exact doc count plus a boolean pinning train accuracy ≥ "
    f"{CLF_ACC_FLOOR} (measured 0.468 at sf0.01, chance ≈ 0.2) — a "
    "broken pipeline fails the hash; per-row predictions remain "
    "available from clf.classify for production use.",
)
def q_ml_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Empty-shard guard: estimators cannot fit on zero rows (MLlib
    # raises deep in the JVM) and a 100-TB pipeline must not die on a
    # legitimately empty partition of the corpus — return the report
    # row the oracle pins for an empty input (0 docs, vacuous pass;
    # the /tmp/skew6 empty-input finding). isEmpty() is a limit-1
    # probe, not a count.
    if docs.isEmpty():
        return spark.createDataFrame([(0, True)], "n_docs bigint, acc_ok boolean")
    model = clf.fit(docs, text_col="text", label_col="lang")
    pred = clf.classify(model, docs, id_col="doc_id", text_col="text")
    j = pred.join(docs.select("doc_id", "lang"), "doc_id")
    return j.agg(
        F.count("*").cast("long").alias("n_docs"),
        (
            F.avg((F.col("category") == F.col("lang")).cast("int"))
            >= F.lit(CLF_ACC_FLOOR)
        ).alias("acc_ok"),
    )


@register(
    "q_ml_kmeans",
    oracle="""
    -- counts only FINITE vectors: the engine drops NaN/Inf-poisoned
    -- embeddings before training (MLlib refuses them; see plan)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors, TRUE AS k_ok,
           TRUE AS fitted_beats_fixed_init
    FROM embeddings
    WHERE len(list_filter(embedding,
                          x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0
    """,
    tier="C",
    doc="MLlib KMeans over the embeddings table (k=8, fixed seed): the "
    "clustering estimator that builds a REAL IVF index at scale — "
    "q_sim_ann_ivf's deterministic first-8-vectors centroids are the "
    "oracle-checkable stand-in; production replaces them with these "
    "fitted centroids (fit on a sample, broadcast, assign map-side). "
    "SEMI-ORACLE (round-7 upgrade from rows-only): Lloyd's fit is "
    "engine-internal, so the driver-hashed output is the exact vector "
    "count plus two booleans the oracle pins TRUE — all 8 clusters "
    "used, and the fitted objective (trainingCost) BEATS the WSS of "
    "the deterministic first-8-vectors centroids (measured 463 vs 811 "
    "at sf0.01 — a degenerate fit fails the hash). The fixed-init WSS "
    "is computed distributed: 8 literal centers, per-vector least "
    "squared distance via array zip_with, one aggregate. Per-vector "
    "assignments remain available from model.transform for "
    "production; structural properties also in tests/test_curation.py.",
)
def q_ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from news_categorization_big_data_spark.operators.similarity import l2_sq
    from news_categorization_big_data_spark.plans.similarity import IVF_N_CENTS

    raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # Curation guard: MLlib refuses NaN/Inf vector components
    # (fit raises), and a poisoned embedding is a data defect, not a
    # cluster member — drop non-finite vectors BEFORE training, the
    # same posture a production IVF build takes (the /tmp/skew7
    # finding). Map-only filter, whole-stage codegen.
    raw = raw.where(
        F.size(
            F.filter(
                "e", lambda x: F.isnan(x) | (F.abs(x) == float("inf"))
            )
        )
        == 0
    )
    # empty-shard guard — see q_ml_classify: no vectors, vacuous pass
    if raw.isEmpty():
        return spark.createDataFrame(
            [(0, True, True)],
            "n_vectors bigint, k_ok boolean, fitted_beats_fixed_init boolean",
        )
    emb = raw.select(
        "vec_id", array_to_vector(F.col("e")).alias("features")
    )
    model = KMeans(
        k=IVF_N_CENTS, seed=42, featuresCol="features", predictionCol="cluster"
    ).fit(emb)
    fitted_wss = float(model.summary.trainingCost)
    # the fixed-init reference is q_sim_ann_ivf's deterministic
    # geometry — same IVF_N_CENTS constant, same l2_sq fold
    first_c = [r.e for r in raw.orderBy("vec_id").limit(IVF_N_CENTS).collect()]
    dists = [
        l2_sq(F.col("e"), F.array(*[F.lit(float(x)) for x in c]))
        for c in first_c
    ]
    per_vec = raw.select("vec_id", F.least(*dists).alias("_d"))
    assigned = model.transform(emb).select("cluster")
    k_found = assigned.agg(F.countDistinct("cluster").alias("_k"))
    return (
        per_vec.agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.sum("_d").alias("_fixed_wss"),
        )
        .crossJoin(F.broadcast(k_found))
        .select(
            "n_vectors",
            (F.col("_k") == IVF_N_CENTS).alias("k_ok"),
            (F.lit(fitted_wss) <= F.col("_fixed_wss")).alias(
                "fitted_beats_fixed_init"
            ),
        )
    )


@register(
    "q_classify_keywords",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  x -> x <> '') AS toks
               FROM documents),
    b AS (SELECT doc_id, len(toks) AS n_toks,
                 list_max([{_kw_entries_sql('toks')}]) AS e
          FROM t)
    SELECT doc_id,
           CASE WHEN (e).s > 0 THEN (e).c ELSE 'unknown' END AS category,
           CASE WHEN (e).s > 0 THEN CAST((e).s AS DOUBLE) / n_toks
                ELSE 0.0 END AS confidence
    FROM b
    """,
    tier="C",
    doc="Deterministic keyword-score categorization over the reference's "
    "7-label set (news_categorization_streaming.py:59), the "
    "oracle-verifiable counterpart to q_ml_classify: same "
    "(id, category, confidence) contract and ('unknown', 0.0) fallback "
    "(news_categorization_streaming.py:74-81), scored as a pure per-row "
    "column expression — no explode, no join, NO shuffle; embarrassingly "
    "parallel at 100 TB.",
)
def q_classify_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return clf.classify_keywords(docs, id_col="doc_id", text_col="text")


@register(
    "q_summarize_extractive",
    oracle="""
    WITH base AS (SELECT doc_id, left(text, 5000) AS text
                  FROM documents WHERE text <> ''),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM base),
    toks AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM base),
    units AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
                     array_to_string(t[u.i * 12 + 1 : (u.i + 1) * 12], ' ') AS unit
              FROM toks,
                   UNNEST(range(0, CAST(ceil(len(t) / 12.0) AS BIGINT))) AS u(i)),
    units_f AS (SELECT * FROM units WHERE unit <> ''),
    tok AS (SELECT doc_id, pos, unit,
                   unnest(regexp_split_to_array(unit, '\\s+')) AS token
            FROM units_f),
    dfreqs AS (SELECT token, COUNT(*) AS dfreq
               FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token),
    scored AS (SELECT t.doc_id, t.pos, t.unit,
                      SUM(CAST(floor((1000000.0 * n.n_docs) / dfreqs.dfreq) AS BIGINT))
                        AS score
               FROM tok t JOIN dfreqs USING (token), n
               GROUP BY t.doc_id, t.pos, t.unit),
    top AS (SELECT doc_id, pos, unit FROM (
              SELECT doc_id, pos, unit,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, pos) AS rn
              FROM scored) WHERE rn <= 2)
    SELECT doc_id,
           '- ' || string_agg(unit, E'\n- ' ORDER BY pos) AS summary,
           COUNT(*) AS n_units
    FROM top GROUP BY doc_id
    """,
    tier="C",
    doc="Extractive summarization in pure DataFrame ops (unit split → "
    "integer corpus-rarity scoring → top-2 units per doc in document "
    "order), the deterministic replacement for the reference's t5-small "
    "UDF (news_summarization_batch.py:52-73). The '- ' bullet format "
    "matches news_summarization_batch.py:102-104. Integer unit scores "
    "(floor(1e6·n_docs/df) summed in BIGINT) make the whole pipeline — "
    "chunking, scoring, ranking, rejoin — oracle-exact; the previous "
    "float log-idf scoring was reduction-order/libm-sensitive and "
    "therefore rows-only.",
)
def q_summarize_extractive(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    return extractive_summarize(docs, id_col="doc_id", text_col="text", top_k=2)


@register(
    "q_pipeline_digest",
    oracle=f"""
    WITH base AS (SELECT doc_id, left(text, 5000) AS text
                  FROM documents WHERE text <> ''),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM base),
    stoks AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM base),
    units AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
                     array_to_string(t[u.i * 12 + 1 : (u.i + 1) * 12], ' ') AS unit
              FROM stoks,
                   UNNEST(range(0, CAST(ceil(len(t) / 12.0) AS BIGINT))) AS u(i)),
    units_f AS (SELECT * FROM units WHERE unit <> ''),
    tok AS (SELECT doc_id, pos, unit,
                   unnest(regexp_split_to_array(unit, '\\s+')) AS token
            FROM units_f),
    dfreqs AS (SELECT token, COUNT(*) AS dfreq
               FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token),
    scored AS (SELECT t.doc_id, t.pos, t.unit,
                      SUM(CAST(floor((1000000.0 * n.n_docs) / dfreqs.dfreq) AS BIGINT))
                        AS score
               FROM tok t JOIN dfreqs USING (token), n
               GROUP BY t.doc_id, t.pos, t.unit),
    topu AS (SELECT doc_id, pos, unit FROM (
               SELECT doc_id, pos, unit,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, pos) AS rn
               FROM scored) WHERE rn <= 2),
    summ AS (SELECT doc_id, '- ' || string_agg(unit, E'\\n- ' ORDER BY pos) AS summary
             FROM topu GROUP BY doc_id),
    ct AS (SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              x -> x <> '') AS ctoks
           FROM documents WHERE text <> ''),
    cb AS (SELECT doc_id, list_max([{_kw_entries_sql('ctoks')}]) AS e FROM ct),
    cat AS (SELECT doc_id,
                   CASE WHEN (e).s > 0 THEN (e).c ELSE 'unknown' END AS category
            FROM cb),
    items AS (SELECT s.doc_id, c.category, s.summary,
                     row_number() OVER (PARTITION BY c.category
                                        ORDER BY s.doc_id) AS rn
              FROM summ s JOIN cat c USING (doc_id))
    SELECT category,
           string_agg(summary, E'\\n' ORDER BY doc_id)
             || E'\\nDate: {DIGEST_DATE}' AS content,
           COUNT(*) AS n_items
    FROM items WHERE rn <= {DIGEST_MAX_ITEMS}
    GROUP BY category
    """,
    tier="C",
    doc="The reference's COMPLETE batch workload as one oracle-verified "
    "query: truncate to 5000 chars → extractive summarization → keyword "
    "categorization → per-category bulleted digest with a date stamp "
    "(news_summarization_batch.py:91-111 end-to-end, with the zero-shot "
    "category assignment of news_categorization_streaming.py:84-85 "
    "replaced by the deterministic keyword scorer). Two scale fixes over "
    "the reference: the per-category collect is bounded by a row_number "
    "window (DIGEST_MAX_ITEMS — the reference's unbounded collect_list "
    "is a one-hot-reducer defect), and the date stamp is a pinned "
    "constant instead of wall-clock.",
)
def q_pipeline_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    summaries = extractive_summarize(docs, id_col="doc_id", text_col="text", top_k=2)
    cats = clf.classify_keywords(docs, id_col="doc_id", text_col="text").select(
        "doc_id", "category"
    )
    items = summaries.join(cats, "doc_id").select("doc_id", "category", "summary")
    w = Window.partitionBy("category").orderBy("doc_id")
    top = items.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= DIGEST_MAX_ITEMS
    )
    return (
        top.groupBy("category")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "summary"))),
                    lambda x: x["summary"],
                ),
            ).alias("_body"),
            F.count("*").alias("n_items"),
        )
        .select(
            "category",
            F.concat("_body", F.lit("\nDate: " + DIGEST_DATE)).alias("content"),
            "n_items",
        )
    )


#: Positive-class label for q_ml_auc: does the event's value "score"
#: predict a purchase?
AUC_POSITIVE_TYPE = "purchase"


@register(
    "q_ml_auc",
    oracle=f"""
    -- value IS NOT NULL: an unscored row cannot be ranked — AUC is
    -- defined over scored examples only (and a NULL in the rank's
    -- ORDER BY would inherit each engine's different default null
    -- placement — /tmp/skew4).
    WITH s AS (SELECT value AS score,
                      CASE WHEN event_type = '{AUC_POSITIVE_TYPE}'
                           THEN 1 ELSE 0 END AS label
               FROM events WHERE value IS NOT NULL),
    r AS (SELECT label,
                 RANK() OVER (ORDER BY score) AS r_lo,
                 CAST(COUNT(*) OVER (PARTITION BY score) AS BIGINT) AS ties
          FROM s),
    a AS (SELECT CAST(SUM(CASE WHEN label = 1
                               THEN 2 * r_lo + ties - 1 END) AS BIGINT)
                   AS sum_ar2,
                 CAST(SUM(label) AS BIGINT) AS n_pos,
                 CAST(COUNT(*) - SUM(label) AS BIGINT) AS n_neg
          FROM r)
    SELECT n_pos, n_neg,
           CAST(sum_ar2 - n_pos * (n_pos + 1) AS DOUBLE)
             / (2 * n_pos * n_neg) AS auc
    FROM a
    """,
    tier="C",
    doc="Exact ROC-AUC of `value` as a purchase-propensity score — the "
    "model-evaluation primitive every training pipeline runs, computed "
    "via the Mann-Whitney U identity (AUC = U / (n_pos · n_neg)) with "
    "EXACT tie handling: ties at a score share the average rank, "
    "carried as the INTEGER 2·rank_lo + ties − 1 (twice the average), "
    "so the whole statistic stays in integers until the single final "
    "division — no per-threshold ROC sweep, no float accumulation, "
    "engine-identical by construction. Plan (round-7 rewrite): "
    "pre-aggregate to the DISTINCT-score table (n, positives per "
    "score) with one map-side-combinable shuffle, then r_lo(s) = "
    "1 + Σ_{s'<s} n(s') via a running sum over that value-domain "
    "table — the fact table is never globally sorted (the previous "
    "plan ranked raw rows through one single-task sort, the exact "
    "100-TB trap). The residual ordered window runs over distinct "
    "scores, a pre-aggregated value-domain table. Per-GROUP AUC "
    "(the production shape) partitions the same plan by the group "
    "key. Identical integers to the rank formulation: a score with "
    "n ties starting at rank r contributes n·(2r + n − 1) rank units.",
)
def q_ml_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # value IS NOT NULL — see the oracle note (/tmp/skew4 null policy).
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    s = ev.select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == AUC_POSITIVE_TYPE, 1).otherwise(0).alias(
            "label"
        ),
    )
    by = s.groupBy("score").agg(
        F.count("*").cast("long").alias("ties"),
        F.sum("label").cast("long").alias("pos"),
    )
    cum = by.withColumn(
        "_cum",
        F.sum("ties").over(
            Window.orderBy("score").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    r_lo = F.col("_cum") - F.col("ties") + 1
    a = cum.agg(
        F.sum(F.col("pos") * (F.lit(2) * r_lo + F.col("ties") - F.lit(1)))
        .cast("long")
        .alias("sum_ar2"),
        F.sum("pos").cast("long").alias("n_pos"),
        (F.sum("ties") - F.sum("pos")).cast("long").alias("n_neg"),
    )
    return a.select(
        "n_pos",
        "n_neg",
        (
            (F.col("sum_ar2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (F.lit(2) * F.col("n_pos") * F.col("n_neg"))
        ).alias("auc"),
    )


#: Decision threshold for q_ml_eval's value→purchase predictor (the
#: operating point; AUC above is the threshold-free view).
EVAL_THRESHOLD = 10.0


@register(
    "q_ml_eval",
    oracle=f"""
    WITH s AS (SELECT CASE WHEN event_type = '{AUC_POSITIVE_TYPE}'
                           THEN 1 ELSE 0 END AS label,
                      CASE WHEN value >= {EVAL_THRESHOLD} THEN 1 ELSE 0 END
                        AS pred
               FROM events),
    c AS (SELECT CAST(SUM(label * pred) AS BIGINT) AS tp,
                 CAST(SUM((1 - label) * pred) AS BIGINT) AS fp,
                 CAST(SUM(label * (1 - pred)) AS BIGINT) AS fn,
                 CAST(SUM((1 - label) * (1 - pred)) AS BIGINT) AS tn
          FROM s)
    SELECT tp, fp, fn, tn,
           CAST(tp AS DOUBLE) / (tp + fp) AS precision_,
           CAST(tp AS DOUBLE) / (tp + fn) AS recall_,
           CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) AS f1
    FROM c
    """,
    tier="C",
    doc="Classifier evaluation at an operating point — confusion matrix "
    "plus precision / recall / F1 for the thresholded value→purchase "
    "predictor (the fixed-threshold companion to q_ml_auc's "
    "threshold-free ranking view; together they are the evaluation "
    "readout every model-training pipeline emits). Plan: ONE "
    "conditional-aggregate scan produces all four exact integer cells "
    "— never one pass per cell — and each metric is a single division "
    "of integers (F1 computed directly as 2tp/(2tp+fp+fn), not from "
    "the already-divided precision/recall, so there is exactly one "
    "rounding per metric, identical in both engines). Scale: state is "
    "four counters, map-side combinable; the per-segment variant "
    "groups the same scan by the segment key.",
)
def q_ml_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    label = F.when(F.col("event_type") == AUC_POSITIVE_TYPE, 1).otherwise(0)
    pred = F.when(F.col("value") >= EVAL_THRESHOLD, 1).otherwise(0)
    c = ev.select(label.alias("label"), pred.alias("pred")).agg(
        F.sum(F.col("label") * F.col("pred")).cast("long").alias("tp"),
        F.sum((1 - F.col("label")) * F.col("pred")).cast("long").alias("fp"),
        F.sum(F.col("label") * (1 - F.col("pred"))).cast("long").alias("fn"),
        F.sum((1 - F.col("label")) * (1 - F.col("pred"))).cast("long").alias("tn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        (tp.cast("double") / (tp + fp)).alias("precision_"),
        (tp.cast("double") / (tp + fn)).alias("recall_"),
        ((F.lit(2) * tp).cast("double") / (F.lit(2) * tp + fp + fn)).alias("f1"),
    )


# --------------------------------------------------------------------------
# Expected calibration error
# --------------------------------------------------------------------------

#: Fixed-width probability bins for the reliability diagram.
ECE_BINS = 10


@register(
    "q_calibration_ece",
    oracle=f"""
    -- the normalizer ranges over FINITE scores only, and a
    -- non-finite score lands in the NULL bin (visible row, not the
    -- top bin: both engines' least() IGNORES a NULL floor, so the
    -- bin is pinned NULL explicitly) — /tmp/skew7
    WITH m AS (SELECT MAX(CASE WHEN isfinite(value) THEN value END) AS vmax
               FROM events),
    s AS (SELECT (CASE WHEN isfinite(value) THEN value END) / m.vmax AS conf,
                 CASE WHEN event_type = '{AUC_POSITIVE_TYPE}'
                      THEN 1 ELSE 0 END AS label
          FROM events, m),
    b AS (SELECT CASE WHEN conf IS NOT NULL THEN
                 least(CAST(floor(conf * {ECE_BINS}) AS BIGINT),
                       {ECE_BINS - 1}) END AS bin,
                 conf, label
          FROM s),
    g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(label) AS BIGINT) AS pos,
                 {o_dec_to_double("SUM(CAST(conf AS DECIMAL(30,9)))", 9)} AS sum_conf,
                 SUM(COUNT(*)) OVER () AS n_g
          FROM b GROUP BY bin)
    SELECT CAST(bin AS INT) AS bin, n,
           sum_conf / CAST(n AS DOUBLE) AS avg_conf,
           CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS obs_rate,
           (CAST(n AS DOUBLE) / CAST(n_g AS DOUBLE))
             * abs(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                   - sum_conf / CAST(n AS DOUBLE)) AS w_abs_gap
    FROM g
    """,
    tier="C",
    doc=f"Reliability diagram + expected-calibration-error terms for "
    "the value-score pseudo-model graded by q_ml_auc: scores "
    f"normalize to [0,1], land in {ECE_BINS} fixed-width bins "
    "(boundary values clamp into the top bin via integer floor — no "
    "float bin edges), and each bin reports mean confidence vs "
    "observed positive rate plus its population-weighted absolute "
    "gap — ECE is the sum of the w_abs_gap column, the number that "
    "says whether scores can be TRUSTED as probabilities (AUC alone "
    "cannot: a perfectly-ranked, badly-calibrated model aces AUC and "
    "fails here). One pass + one {ECE_BINS}-group aggregate; "
    "per-row confidences quantize to a 10⁻⁹ decimal grid before the "
    "bin sum; every rate is one IEEE division on exact integers. "
    "The normalizing max broadcasts from a 1-row aggregate.",
)
def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    fin_val = F.when(~nonfinite("value"), F.col("value"))
    m = ev.agg(F.max(fin_val).alias("vmax"))
    s = ev.crossJoin(F.broadcast(m)).select(
        (fin_val / F.col("vmax")).alias("conf"),
        F.when(F.col("event_type") == AUC_POSITIVE_TYPE, 1).otherwise(0).alias("label"),
    )
    b = s.select(
        # NULL bin pinned for a NULL conf: least() would IGNORE the
        # NULL floor and clamp the row into the top bin (/tmp/skew7)
        F.when(
            F.col("conf").isNotNull(),
            F.least(
                F.floor(F.col("conf") * ECE_BINS).cast("long"),
                F.lit(ECE_BINS - 1),
            ),
        ).alias("bin"),
        "conf",
        "label",
    )
    g = b.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("label").cast("long").alias("pos"),
        dsum(F.col("conf").cast("decimal(30,9)"), 9).alias("sum_conf"),
    )
    w_all = Window.partitionBy()
    g = g.withColumn("n_g", F.sum("n").over(w_all))
    avg_conf = F.col("sum_conf") / F.col("n").cast("double")
    obs = F.col("pos").cast("double") / F.col("n").cast("double")
    return g.select(
        F.col("bin").cast("int").alias("bin"),
        "n",
        avg_conf.alias("avg_conf"),
        obs.alias("obs_rate"),
        (
            (F.col("n").cast("double") / F.col("n_g").cast("double"))
            * F.abs(obs - avg_conf)
        ).alias("w_abs_gap"),
    )


# --------------------------------------------------------------------------
# Exact per-label embedding centroids
# --------------------------------------------------------------------------


@register(
    "q_label_centroids",
    oracle="""
    WITH px AS (
      SELECT label,
             unnest(embedding) AS val,
             unnest(range(len(embedding))) AS pos
      FROM embeddings)
    -- poison -> NULL centroid component for a (label, dim) cell with
    -- any non-finite value (Spark's floor(NaN) is Long.MIN, silent;
    -- DuckDB refuses the cast); n_vecs stays (/tmp/skew7)
    SELECT label,
           CAST(pos AS INT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CASE WHEN NOT BOOL_OR(NOT isfinite(CAST(val AS DOUBLE))) THEN
           CAST(SUM(CAST(FLOOR(CAST((CASE WHEN isfinite(CAST(val AS DOUBLE))
                                          THEN val END) AS DOUBLE) * 1000000)
                         AS BIGINT))
                  // COUNT(*) AS BIGINT) END AS mean_micro
    FROM px
    GROUP BY label, pos
    """,
    tier="C",
    doc="Exact per-label embedding centroid, one row per (label, "
    "dimension) with the mean component in floor-quantized micro-units "
    "— the class-prototype table behind nearest-centroid classification "
    "and per-class drift monitoring. Components quantize to longs "
    "BEFORE summing (float32 -> double is exact, the double multiply "
    "is correctly rounded identically in both engines, floor makes it "
    "an integer), so the mean survives any reduction order — a naive "
    "float avg() would hash-differ between Spark's tree aggregation "
    "and DuckDB's sequential fold. Scale: posexplode fans D rows per "
    "vector but each is 20 bytes; the groupBy carries labels x D cells "
    "with map-side partial aggregation, so shuffle volume is "
    "O(partitions x labels x D), independent of corpus size.",
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode("embedding").alias("dim", "val")
        )
        .groupBy("label", F.col("dim").cast("int").alias("dim"))
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            # poison -> NULL centroid component (see the oracle note)
            F.when(
                ~poisoned_flag("val"),
                F.expr(
                    "sum(cast(floor(cast("
                    "case when not (isnan(cast(val as double))"
                    " or abs(cast(val as double)) = double('inf'))"
                    " then val end as double) * 1000000) as bigint))"
                    " div count(*)"
                ).cast("long"),
            ).alias("mean_micro"),
        )
    )


#: Segment count for the per-slice AUC (q_grouped_auc).
AUC_SEGMENTS = 4


@register(
    "q_grouped_auc",
    oracle=f"""
    -- Explicit null policy (/tmp/skew4): unscored rows cannot be
    -- ranked, and an anonymous (null-user) row has no segment — both
    -- excluded, same as q_ml_auc/q_funnel.
    WITH s AS (SELECT CAST(user_id % {AUC_SEGMENTS} AS BIGINT) AS segment,
                      value AS score,
                      CASE WHEN event_type = '{AUC_POSITIVE_TYPE}'
                           THEN 1 ELSE 0 END AS label
               FROM events
               WHERE value IS NOT NULL AND user_id IS NOT NULL),
    r AS (SELECT segment, label,
                 RANK() OVER (PARTITION BY segment ORDER BY score) AS r_lo,
                 CAST(COUNT(*) OVER (PARTITION BY segment, score) AS BIGINT)
                   AS ties
          FROM s),
    a AS (SELECT segment,
                 CAST(SUM(CASE WHEN label = 1
                               THEN 2 * r_lo + ties - 1 END) AS BIGINT)
                   AS sum_ar2,
                 CAST(SUM(label) AS BIGINT) AS n_pos,
                 CAST(COUNT(*) - SUM(label) AS BIGINT) AS n_neg
          FROM r GROUP BY segment)
    SELECT segment, n_pos, n_neg,
           CAST(sum_ar2 - n_pos * (n_pos + 1) AS DOUBLE)
             / nullif(2 * n_pos * n_neg, 0) AS auc
    FROM a
    """,
    tier="C",
    doc="Per-slice exact ROC-AUC — the production shape q_ml_auc's "
    "docstring points to: model quality is never reported as one "
    "number, it is reported per segment/cohort/model-version, because "
    "an aggregate AUC hides a slice where the model inverted. Same "
    "all-integer Mann-Whitney machinery (tie-averaged ranks carried "
    "as 2·rank_lo + ties − 1), with BOTH windows partitioned by the "
    "segment key so they share ONE (segment, score) sort and the "
    "global-sort cost disappears: each slice sorts independently — "
    "embarrassingly parallel across segments at any scale. Degenerate "
    "slices (no positives or no negatives) surface as NULL auc via "
    "nullif, never a division error.",
)
def q_grouped_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # Null policy — see the oracle note (/tmp/skew4).
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    s = ev.select(
        (F.col("user_id") % AUC_SEGMENTS).cast("long").alias("segment"),
        F.col("value").alias("score"),
        F.when(F.col("event_type") == AUC_POSITIVE_TYPE, 1).otherwise(0).alias(
            "label"
        ),
    )
    r = s.select(
        "segment",
        "label",
        F.rank().over(Window.partitionBy("segment").orderBy("score")).alias("r_lo"),
        F.count("*").over(Window.partitionBy("segment", "score")).alias("ties"),
    )
    a = r.groupBy("segment").agg(
        F.sum(
            F.when(
                F.col("label") == 1,
                F.lit(2) * F.col("r_lo") + F.col("ties") - F.lit(1),
            )
        )
        .cast("long")
        .alias("sum_ar2"),
        F.sum("label").cast("long").alias("n_pos"),
        (F.count("*") - F.sum("label")).cast("long").alias("n_neg"),
    )
    return a.select(
        "segment",
        "n_pos",
        "n_neg",
        (
            (F.col("sum_ar2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / F.nullif(
                (F.lit(2) * F.col("n_pos") * F.col("n_neg")).cast("double"),
                F.lit(0.0),
            )
        ).alias("auc"),
    )


@register(
    "q_embedding_dim_stats",
    oracle="""
    WITH px AS (
      SELECT unnest(embedding) AS val,
             unnest(range(len(embedding))) AS pos
      FROM embeddings),
    q AS (SELECT pos,
                 NOT isfinite(CAST(val AS DOUBLE)) AS rpois,
                 CAST(FLOOR(CAST((CASE WHEN isfinite(CAST(val AS DOUBLE))
                                       THEN val END) AS DOUBLE) * 1000000)
                      AS BIGINT) AS vm
          FROM px),
    s AS (SELECT pos,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 BOOL_OR(rpois) AS pois,
                 SUM(vm) AS sx,
                 SUM(CAST(vm AS HUGEINT) * vm) AS sxx,
                 CAST(MIN(vm) AS BIGINT) AS min_micro,
                 CAST(MAX(vm) AS BIGINT) AS max_micro
          FROM q GROUP BY pos)
    -- poison -> NULL stats for a dimension holding any non-finite
    -- component (Spark's floor(NaN) is Long.MIN — silent garbage —
    -- and DuckDB refuses the cast); n stays (/tmp/skew7)
    SELECT CAST(pos AS INT) AS dim, n,
           CASE WHEN NOT pois THEN CAST(sx // n AS BIGINT) END AS mean_micro,
           CASE WHEN NOT pois THEN
           CAST((n * sxx - CAST(sx AS HUGEINT) * sx) // (n * (n - 1))
                AS BIGINT) END AS var_micro2,
           CASE WHEN NOT pois THEN min_micro END AS min_micro,
           CASE WHEN NOT pois THEN max_micro END AS max_micro,
           CASE WHEN NOT pois THEN
           sqrt(CAST(CAST((n * sxx - CAST(sx AS HUGEINT) * sx)
                          // (n * (n - 1)) AS BIGINT) AS DOUBLE)) / 1000000
           END AS std
    FROM s
    """,
    tier="C",
    doc="Per-dimension embedding standardization stats (mean, sample "
    "variance, min, max per coordinate) — the whitening/scaling prep "
    "every vector pipeline runs before distance math, and the drift "
    "monitor for embedding-model upgrades (a dimension whose std "
    "collapses is dead; one whose range explodes breaks quantizers — "
    "pair with q_embedding_quantize's int8 ranges). Complements "
    "q_label_centroids (per-LABEL first moments): this is the GLOBAL "
    "first+second moment table. Determinism: components floor-quantize "
    "to integer micro-units before any aggregation (the "
    "q_label_centroids technique), second moments accumulate as "
    "128-bit integers (HUGEINT / Spark decimal sums), and the "
    "variance combination (n*Sxx - Sx^2, >= 0 by Cauchy-Schwarz) is "
    "integer-divided back to an integer BELOW 2^53 before the only "
    "double ops (sqrt, /1e6) — integer division truncates toward zero "
    "IDENTICALLY in both engines (Spark div == DuckDB //), which "
    "matters because components go negative — "
    "never casting a >2^53 accumulator to double (the q_twap "
    "double-rounding lesson). Scale: posexplode fans D rows per "
    "vector at 20 bytes each; the aggregate carries D cells with "
    "map-side partials — shuffle volume independent of corpus size.",
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    val_d = F.col("val").cast("double")
    fin = ~F.isnan(val_d) & (F.abs(val_d) != float("inf"))
    q = emb.select(F.posexplode("embedding").alias("pos", "val")).select(
        "pos",
        (~fin).alias("rpois"),
        # finite guard: floor(NaN) is Long.MIN under the long cast —
        # silent garbage, not an error (/tmp/skew7)
        F.floor(F.when(fin, val_d) * 1_000_000).cast("long").alias("vm"),
    )
    s = q.groupBy("pos").agg(
        F.count("*").cast("long").alias("n"),
        F.max("rpois").alias("pois"),
        F.sum("vm").cast("long").alias("sx"),
        F.sum(F.col("vm").cast("decimal(38,0)") * F.col("vm")).alias("sxx"),
        F.min("vm").cast("long").alias("min_micro"),
        F.max("vm").cast("long").alias("max_micro"),
    )
    var_micro2 = F.expr(
        "(n * sxx - cast(sx as decimal(38,0)) * sx) div (n * (n - 1))"
    ).cast("long")
    ok = ~F.col("pois")
    return s.select(
        F.col("pos").cast("int").alias("dim"),
        "n",
        F.when(ok, F.expr("sx div n").cast("long")).alias("mean_micro"),
        F.when(ok, var_micro2).alias("var_micro2"),
        F.when(ok, F.col("min_micro")).alias("min_micro"),
        F.when(ok, F.col("max_micro")).alias("max_micro"),
        F.when(ok, F.sqrt(var_micro2.cast("double")) / F.lit(1_000_000)).alias("std"),
    )
