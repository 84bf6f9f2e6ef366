"""Retrieval tier (round 5): BM25 keyword ranking over the document
corpus, SemDeDup-style semantic deduplication over embeddings, and
product-quantization (PQ) code assignment — the three operators that
turn the corpus + embedding tables into a searchable/curatable index.

House determinism rules apply (plans/analytics.py): exact integer
counts, division chains written with identical association on both
engines, per-term double scores quantized to a decimal grid before any
cross-term sum (double addition is not associative; decimal addition
is), md5-derived orderings for any data-derived "random" choice so the
DuckDB oracle can reproduce it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from news_categorization_big_data_spark.functions.cachepin import pin
from news_categorization_big_data_spark.functions.groupcollapse import grouped_ids
from news_categorization_big_data_spark.functions.text_exprs import tokens
from news_categorization_big_data_spark.functions.exact import (
    dec_to_double,
    o_dec_to_double,
)
from news_categorization_big_data_spark.plans.relational import dsum, nonfinite
from news_categorization_big_data_spark.plans.registry import register
from news_categorization_big_data_spark.sources.tables import load_table

#: q_rrf_fusion's idf-weighted score sum (hoisted for o_dec_to_double).
_O_BM25ISH_W = (
    "SUM(CAST(CAST(tf.tf AS DOUBLE)"
    " * ((CAST(n.n - dft.df AS DOUBLE) + 0.5)"
    " / (CAST(dft.df AS DOUBLE) + 0.5)) AS DECIMAL(30,9)))"
)

# --------------------------------------------------------------------------
# BM25
# --------------------------------------------------------------------------

#: The fixed keyword query for q_bm25_rank (terms present in the corpus
#: with distinct document frequencies — a frequent, a mid, a rare-ish).
BM25_TERMS = ("customer", "slow", "merge")

#: Okapi BM25 parameters. K1P1 is precomputed HOST-side so both engines
#: receive the same double literal (folding 1.2 + 1.0 inside each engine
#: could round differently from parsing "2.2").
BM25_K1 = 1.2
BM25_B = 0.75
BM25_K1P1 = BM25_K1 + 1.0


@register(
    "q_bm25_rank",
    oracle=f"""
    WITH docs AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
                  FROM documents WHERE text <> ''),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM docs),
    corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                      CAST(SUM(dl) AS BIGINT) AS total_dl
               FROM dl),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(toks) AS token FROM docs)
           WHERE token IN ('{BM25_TERMS[0]}', '{BM25_TERMS[1]}', '{BM25_TERMS[2]}')
           GROUP BY doc_id, token),
    dft AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
    scored AS (
      SELECT tf.doc_id,
             CAST(((CAST(corpus.n_docs - dft.df AS DOUBLE) + 0.5)
                     / (CAST(dft.df AS DOUBLE) + 0.5))
                  * ((CAST(tf.tf AS DOUBLE) * {BM25_K1P1!r})
                     / (CAST(tf.tf AS DOUBLE)
                        + {BM25_K1!r} * (1.0 - {BM25_B!r}
                           + {BM25_B!r} * (CAST(dl.dl AS DOUBLE)
                              / (CAST(corpus.total_dl AS DOUBLE)
                                 / CAST(corpus.n_docs AS DOUBLE))))))
                  AS DECIMAL(28,9)) AS term_score
      FROM tf JOIN dl USING (doc_id) JOIN dft USING (token), corpus),
    ranked AS (SELECT doc_id, CAST(SUM(term_score) AS DOUBLE) AS score
               FROM scored GROUP BY doc_id)
    SELECT doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
    FROM ranked ORDER BY score DESC, doc_id LIMIT 20
    """,
    tier="C",
    doc="Okapi BM25 top-20 for a fixed keyword query — the lexical "
    "retrieval baseline every RAG/search stack keeps next to its "
    "vector index. The idf factor uses the log-free monotone surrogate "
    "(N-df+0.5)/(df+0.5) (same rank order as Robertson idf; native log "
    "differs cross-engine in the last ulp — the q_collocations "
    "lift-not-PMI precedent). Plan: doc length is map-only size(); "
    "tokens are FILTERED to the query terms BEFORE the (doc,term) "
    "count, so the shuffle carries only query-term postings — at "
    "100 TB the tf aggregate is |postings|, not |tokens|; df (3 rows) "
    "and the corpus stats (1 row) broadcast back. Determinism: tf/df/"
    "dl/N are exact integers; each term score is one identical IEEE "
    "division/multiply chain on bit-identical doubles, quantized to a "
    "10⁻⁹ DECIMAL grid before the per-doc sum (double addition across "
    "shuffle order is not associative; decimal addition is). Top-20 "
    "via TakeOrderedAndProject with doc_id tie-break.",
)
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text") != "")
        .select("doc_id", tokens("text").alias("toks"))
    )
    dl = docs.select("doc_id", F.size("toks").cast("long").alias("dl"))
    corpus = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    tf = (
        docs.select("doc_id", F.explode("toks").alias("token"))
        .where(F.col("token").isin(*BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf.groupBy("token").agg(F.count("*").alias("df"))

    avgdl = F.col("total_dl").cast("double") / F.col("n_docs").cast("double")
    idf = ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    tf_d = F.col("tf").cast("double")
    norm = F.lit(BM25_K1) * (
        F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl)
    )
    term_score = (idf * ((tf_d * F.lit(BM25_K1P1)) / (tf_d + norm))).cast(
        "decimal(28,9)"
    )

    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dft), "token")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", term_score.alias("term_score"))
    )
    ranked = scored.groupBy("doc_id").agg(
        F.sum("term_score").cast("double").alias("score")
    )
    top = ranked.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))  # 20 rows — safe
    return top.select(
        "doc_id", "score", F.row_number().over(w).cast("int").alias("rank")
    )


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup) + product quantization
# --------------------------------------------------------------------------

#: Number of semantic-dedup clusters and the within-cluster cosine
#: threshold (matches the SRP near-dup threshold in plans/similarity.py
#: so the two operators agree on what "near-duplicate" means).
SEMDEDUP_K = 8
SEMDEDUP_TAU = 0.35

from news_categorization_big_data_spark.operators.similarity import (  # noqa: E402
    O_MEASURABLE,
)

_O_MEAS = O_MEASURABLE.format(v="embedding")


def _o_dot(a: str, b: str) -> str:
    """DuckDB sequential-fold dot product (mirrors operators/similarity
    `dot`: same element order → bit-identical doubles)."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )


def _o_cos(a: str, b: str) -> str:
    return f"({_o_dot(a, b)} / (sqrt({_o_dot(a, a)}) * sqrt({_o_dot(b, b)})))"


def _pivot_sql(k: int, where: str = "") -> str:
    """The k md5-smallest vectors, ranked — the deterministic
    'random sample' both engines can reproduce. ``where`` prepends a
    domain filter (q_semantic_dedup's measurable-vector guard); the
    default keeps every other caller's SQL byte-identical."""
    w = f"WHERE {where} " if where else ""
    return f"""(SELECT vec_id AS pid, embedding AS pemb,
                       CAST(row_number() OVER (
                            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                            AS INT) AS prank
                FROM (SELECT vec_id, embedding FROM embeddings {w}
                      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                      LIMIT {k}))"""


def _pivots(emb: DataFrame, k: int) -> DataFrame:
    """Spark side of _pivot_sql: TakeOrderedAndProject for the k-head
    (scalable — never a global window over the corpus), then a
    row_number over the k-row result."""
    head = (
        emb.select(
            F.col("vec_id").alias("pid"),
            F.col("embedding").alias("pemb"),
            F.md5(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "pid")
        .limit(k)
    )
    w = Window.orderBy("_h", "pid")  # k rows only — safe
    return head.select(
        "pid", "pemb", F.row_number().over(w).cast("int").alias("prank")
    )


@register(
    "q_semantic_dedup",
    oracle=f"""
    -- measurable-vector guard (operators/similarity.py:measurable):
    -- zero-norm or non-finite embeddings have no cosine geometry; both
    -- engines drop them up front (a zero-norm DUPLICATE was a hard
    -- ANSI DIVIDE_BY_ZERO on the Spark side, NULL-cosine on this side
    -- — silently divergent either way).
    WITH pivots AS {_pivot_sql(SEMDEDUP_K, where=_O_MEAS)},
    assign AS (
      SELECT vec_id, cluster, c_cos FROM (
        SELECT e.vec_id, p.prank AS cluster,
               {_o_cos('e.embedding', 'p.pemb')} AS c_cos,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_o_cos('e.embedding', 'p.pemb')} DESC,
                                           p.prank) AS rn
        FROM (SELECT vec_id, embedding FROM embeddings WHERE {_O_MEAS}) e,
             pivots p) WHERE rn = 1),
    ranked AS (SELECT a.*, e.embedding,
                      row_number() OVER (PARTITION BY cluster
                                         ORDER BY c_cos DESC, vec_id) AS krank
               FROM assign a JOIN embeddings e USING (vec_id)),
    dups AS (SELECT DISTINCT b.vec_id
             FROM ranked a JOIN ranked b
               ON a.cluster = b.cluster AND a.krank < b.krank
             WHERE {_o_cos('a.embedding', 'b.embedding')} >= {SEMDEDUP_TAU!r})
    SELECT r.vec_id, CAST(r.cluster AS INT) AS cluster,
           d.vec_id IS NOT NULL AS is_dup
    FROM ranked r LEFT JOIN dups d ON r.vec_id = d.vec_id
    """,
    tier="C",
    doc="SemDeDup-style semantic deduplication (Abbas et al. 2023, "
    "arXiv:2303.09540): cluster the embedding space, then mark as "
    "duplicates the within-cluster vectors that sit above a cosine "
    "threshold to a better-ranked member (keeper rank = closer to the "
    "centroid, ties to smaller id) — the curation step that removes "
    "semantically redundant training documents exact/MinHash dedup "
    "cannot see. Centroids here are the K md5-smallest vectors "
    "(deterministic, oracle-reproducible; production would k-means "
    "them — q_ml_kmeans — which changes the centroids, not the "
    "pipeline shape). Plan: assignment is a broadcast of K pivot rows "
    "against the corpus (map-only + one per-vec_id argmax window on "
    "K rows); the pairwise stage joins each cluster only against "
    "itself — never all-pairs — and compares ranked-worse members "
    "against ranked-better ones. Scale: SemDeDup fixes EXPECTED "
    "CLUSTER SIZE (K grows with N), so within-cluster work stays "
    "linear in N; the assignment stage is embarrassingly parallel. "
    "Determinism: cosine folds are element-ordered (bit-identical "
    "doubles), ranks break ties on vec_id, and the threshold compare "
    "uses the same double literal on both engines.",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.functions.partitioning import fan_out
    from news_categorization_big_data_spark.operators.similarity import (
        dot,
        measurable,
        norm,
    )

    # measurable-vector guard: see the oracle header note. Applied
    # BEFORE pivot selection so both engines pick pivots from the same
    # filtered corpus.
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .where(measurable("embedding"))
    )
    pivots = _pivots(emb, SEMDEDUP_K).withColumn("pn", norm("pemb"))

    # r15 (guide §8): the within-cluster pairwise stage runs on DISTINCT
    # VECTORS, not vector rows. Exact-duplicate embeddings share the
    # pivot assignment AND every pairwise cosine, so the per-row theta
    # join paid the duplication factor squared in 64-double folds
    # (measured 139 s at sf1, whose fixture carries ~10x exact dups).
    # SemDeDup's is_dup flag is rank-ORDER dependent (krank = c_cos
    # desc, vec_id asc within the cluster), so the group rewrite keeps
    # it exact rather than approximating:
    #   member i of group G is a dup  ⇔
    #     (self-cos(G) ≥ τ AND i is not G's first member)       -- an
    #       earlier COPY precedes it (same value, smaller vec_id)
    #   OR (∃ group G' ≠ G in the cluster with cos(G,G') ≥ τ whose
    #       first member precedes i in krank order, i.e. the
    #       lexicographic key (−c_cos', min_id') < (−c_cos_G, i)).
    # The second condition is an EXISTS over qualifying partners ⇔ the
    # MINIMUM partner key < the member key, so one group-pair pass plus
    # a per-group min suffices. Cosines use the identical fold
    # expressions (self-cos is dot(v,v)/(vn·vn), never a synthetic 1).
    # Proven row-for-row equal to the per-row plan (exceptAll both
    # ways = 0) at sf0.1 and sf1, and oracle-MATCH.
    groups = (
        grouped_ids(fan_out(emb, by=("vec_id",)), ("embedding",), "vec_id")
        .withColumn("_gid", F.col("_ids")[0])
        .withColumn("vn", norm("embedding"))
    )
    c = dot("embedding", "pemb") / (F.col("vn") * F.col("pn"))
    w_assign = Window.partitionBy("_gid").orderBy(F.desc("c_cos"), F.asc("cluster"))
    assign = (
        groups.crossJoin(F.broadcast(pivots))
        .select(
            "_gid",
            "_ids",
            "embedding",
            "vn",
            F.col("prank").alias("cluster"),
            c.alias("c_cos"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    # ranked feeds three consumers (both pair sides + the final member
    # expansion); un-pinned, each re-evaluates the K-pivot crossJoin.
    ranked = pin(assign)

    a = ranked.select(
        F.col("cluster").alias("a_cluster"),
        F.col("_gid").alias("a_gid"),
        F.col("c_cos").alias("a_ccos"),
        F.col("embedding").alias("a_emb"),
        F.col("vn").alias("a_vn"),
    )
    pair_cos = dot("a_emb", "embedding") / (F.col("a_vn") * F.col("vn"))
    best = (
        ranked.join(
            a,
            (F.col("cluster") == F.col("a_cluster"))
            & (F.col("a_gid") != F.col("_gid")),
        )
        .where(pair_cos >= F.lit(SEMDEDUP_TAU))
        .select(
            "_gid",
            # NaN-faithful krank key: both engines sort c_cos DESC with
            # NaN GREATEST (Spark and DuckDB alike), so a NaN-cosine
            # partner (zero-norm / poisoned embedding) precedes every
            # finite member. Negating c_cos alone would invert that
            # (NaN is also the LARGEST ascending), so a leading
            # finiteness rank pins NaN partners to the minimum instead:
            # fin=0 (NaN) < fin=1 (finite), then -c_cos asc = c_cos
            # desc, then the partner group's first-member id.
            F.struct(
                (~F.isnan("a_ccos")).cast("int").alias("fin"),
                (-F.col("a_ccos")).alias("nc"),
                F.col("a_gid").alias("pid"),
            ).alias("_pk"),
        )
        .groupBy("_gid")
        .agg(F.min("_pk").alias("_best"))
    )
    self_cos = dot("embedding", "embedding") / (F.col("vn") * F.col("vn"))
    lab = (
        ranked.join(best, "_gid", "left")
        .withColumn("_selfdup", self_cos >= F.lit(SEMDEDUP_TAU))
    )
    # Member's own krank key, same shape/field names as _pk; "the best
    # qualifying partner's first member precedes this member in krank
    # order" is then a single struct comparison (field-wise, NaN=NaN and
    # NaN-greatest inside each double field — the same total order both
    # windows used).
    member_key = F.struct(
        (~F.isnan("c_cos")).cast("int").alias("fin"),
        (-F.col("c_cos")).alias("nc"),
        F.col("vec_id").alias("pid"),
    )
    dup = (F.col("_selfdup") & (F.col("vec_id") > F.col("_ids")[0])) | (
        F.col("_best").isNotNull() & (F.col("_best") < member_key)
    )
    return (
        lab.select(
            F.explode("_ids").alias("vec_id"),
            "cluster",
            "c_cos",
            "_ids",
            "_best",
            "_selfdup",
        )
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.coalesce(dup, F.lit(False)).alias("is_dup"),
        )
    )


#: PQ geometry: M subspaces of SUBDIM dims each (M × SUBDIM = 64, the
#: embedding width), K codes per subspace. The codebook is the
#: md5-smallest PQ_CODES vectors' subvectors — deterministic, so the
#: oracle reproduces it (production trains per-subspace k-means).
PQ_M = 8
PQ_SUBDIM = 8
PQ_CODES = 16


def _pq_d2(a: str, b: str):
    """Element-ordered L2² fold between two float-array columns —
    bit-identical doubles on both engines."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_book_and_best(
    spark: SparkSession, emb: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(codebook, per-(vec, subspace) nearest-code assignment) — the
    shared PQ chain behind q_pq_assign (pack) and q_pq_search (ADC)."""
    pivots = _pivots(emb, PQ_CODES)
    subs = spark.range(PQ_M).select(F.col("id").cast("int").alias("s"))
    book = pivots.crossJoin(F.broadcast(subs)).select(
        "s",
        (F.col("prank") - 1).alias("code"),
        F.slice("pemb", F.col("s") * PQ_SUBDIM + 1, PQ_SUBDIM).alias("cvec"),
    )
    vsub = emb.crossJoin(F.broadcast(subs)).select(
        "vec_id",
        "s",
        F.slice("embedding", F.col("s") * PQ_SUBDIM + 1, PQ_SUBDIM).alias("vvec"),
    )
    dist = vsub.join(F.broadcast(book), "s").select(
        "vec_id", "s", "code", _pq_d2("vvec", "cvec").alias("d2")
    )
    w = Window.partitionBy("vec_id", "s").orderBy("d2", "code")
    best = dist.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return book, best


@register(
    "q_pq_assign",
    oracle=f"""
    WITH pivots AS {_pivot_sql(PQ_CODES)},
    subs AS (SELECT s FROM range({PQ_M}) t(s)),
    book AS (SELECT s, prank - 1 AS code,
                    pemb[s * {PQ_SUBDIM} + 1 : s * {PQ_SUBDIM} + {PQ_SUBDIM}] AS cvec
             FROM pivots, subs),
    vsub AS (SELECT vec_id, s,
                    embedding[s * {PQ_SUBDIM} + 1 : s * {PQ_SUBDIM} + {PQ_SUBDIM}] AS vvec
             FROM embeddings, subs),
    dist AS (SELECT v.vec_id, v.s, b.code,
                    list_sum(list_transform(list_zip(v.vvec, b.cvec),
                      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                           * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS d2
             FROM vsub v JOIN book b USING (s)),
    best AS (SELECT vec_id, s, code, d2 FROM (
               SELECT vec_id, s, code, d2,
                      row_number() OVER (PARTITION BY vec_id, s
                                         ORDER BY d2, code) AS rn
               FROM dist) WHERE rn = 1),
    pz AS (SELECT vec_id,
                  len(list_filter(embedding,
                      x -> NOT isfinite(CAST(x AS DOUBLE)))) > 0 AS pois
           FROM embeddings)
    -- poison -> NULL codes/error for a vector with any non-finite
    -- component (its subspace distances are NaN — garbage codes; the
    -- o_fin guard keeps DuckDB's decimal cast reachable) — /tmp/skew7
    SELECT b.vec_id,
           CASE WHEN NOT pz.pois THEN
           string_agg(CAST(code AS VARCHAR), ',' ORDER BY s) END AS codes,
           CASE WHEN NOT pz.pois THEN
           {o_dec_to_double(
               "SUM(CAST((CASE WHEN isfinite(d2) THEN d2 END)"
               " AS DECIMAL(28,9)))", 9)} END AS recon_err
    FROM best b JOIN pz ON b.vec_id = pz.vec_id
    GROUP BY b.vec_id, pz.pois
    """,
    tier="C",
    doc=f"Product-quantization code assignment (Jégou et al. 2011): "
    f"each 64-d embedding splits into {PQ_M} subvectors of "
    f"{PQ_SUBDIM} dims; each subvector is replaced by the index of "
    f"its nearest of {PQ_CODES} codebook entries — 64 floats become "
    f"{PQ_M} nibbles, the memory step that makes billion-scale ANN "
    "(IVF-PQ) fit in RAM. Codebook = subvectors of the md5-smallest "
    f"{PQ_CODES} vectors (deterministic; production k-means trains "
    "it, same assignment plan). Plan: the codebook "
    f"({PQ_M}×{PQ_CODES} rows) broadcasts; assignment is map-shaped "
    "work per vector (explode to subvectors, join broadcast book, "
    "argmin window on K rows per (vec,subspace)) — zero corpus "
    "shuffle except the final per-vec regroup, which carries one "
    "integer code per subspace, not the floats. Determinism: L2² "
    "folds are element-ordered (bit-identical doubles), argmin ties "
    "break on code index, codes reassemble ORDERED BY subspace, and "
    "the reconstruction error sums on a 10⁻⁹ decimal grid.",
)
def q_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _book, best = _pq_book_and_best(spark, emb)
    # poison -> NULL codes/error for a vector with any non-finite
    # component: its subspace distances are NaN, so the "codes" would
    # be tie-break artifacts, not nearest centroids (/tmp/skew7). The
    # per-vector flag rides the same regroup (d2 is NaN exactly for
    # the poisoned subspaces).
    pois = F.max(F.coalesce(nonfinite("d2"), F.lit(False)))
    packed = best.groupBy("vec_id").agg(
        F.when(
            ~pois,
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "code"))),
                    lambda x: x["code"].cast("string"),
                ),
                ",",
            ),
        ).alias("codes"),
        F.when(~pois, dsum(F.col("d2").cast("decimal(28,9)"), 9)).alias(
            "recon_err"
        ),
    )
    return packed


#: ADC top-k size for q_pq_search.
PQ_TOPK = 10


@register(
    "q_pq_search",
    oracle=f"""
    WITH pivots AS {_pivot_sql(PQ_CODES)},
    subs AS (SELECT s FROM range({PQ_M}) t(s)),
    book AS (SELECT s, prank - 1 AS code,
                    pemb[s * {PQ_SUBDIM} + 1 : s * {PQ_SUBDIM} + {PQ_SUBDIM}] AS cvec
             FROM pivots, subs),
    qsub AS (SELECT s, pemb[s * {PQ_SUBDIM} + 1 : s * {PQ_SUBDIM} + {PQ_SUBDIM}] AS qvec
             FROM pivots, subs WHERE prank = 1),
    lut AS (SELECT b.s, b.code,
                   list_sum(list_transform(list_zip(q.qvec, b.cvec),
                     x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                          * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS qd2
            FROM book b JOIN qsub q USING (s)),
    vsub AS (SELECT vec_id, s,
                    embedding[s * {PQ_SUBDIM} + 1 : s * {PQ_SUBDIM} + {PQ_SUBDIM}] AS vvec
             FROM embeddings, subs),
    dist AS (SELECT v.vec_id, v.s, b.code,
                    list_sum(list_transform(list_zip(v.vvec, b.cvec),
                      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                           * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS d2
             FROM vsub v JOIN book b USING (s)),
    best AS (SELECT vec_id, s, code FROM (
               SELECT vec_id, s, code,
                      row_number() OVER (PARTITION BY vec_id, s
                                         ORDER BY d2, code) AS rn
               FROM dist) WHERE rn = 1),
    adc AS (SELECT best.vec_id,
                   SUM(CAST(lut.qd2 AS DECIMAL(28,9))) AS adc
            FROM best JOIN lut USING (s, code)
            GROUP BY best.vec_id)
    SELECT vec_id, CAST(adc AS DOUBLE) AS adc_dist
    FROM adc ORDER BY adc, vec_id LIMIT {PQ_TOPK}
    """,
    tier="C",
    doc=f"PQ asymmetric-distance (ADC) top-{PQ_TOPK} search (Jégou et "
    "al. 2011) — the QUERY step that completes the IVF-PQ story "
    "q_pq_assign's codes exist for: the query vector (the "
    "md5-smallest, i.e. the first deterministic pivot) precomputes "
    f"an exact {PQ_M}x{PQ_CODES} lookup table of subspace L2² "
    "distances to every codebook entry, and each database vector's "
    "approximate distance is just the SUM of its codes' LUT entries "
    "— no float math ever touches the corpus vectors at query time, "
    "which is the entire point of PQ at billion scale. Plan: LUT "
    "and codebook broadcast; per-vector work is a code lookup + an "
    f"{PQ_M}-term decimal sum; TakeOrdered for the top-{PQ_TOPK} "
    "with a vec_id tiebreak so the boundary of the k-set is total-"
    "ordered (hash-safe). Determinism: the LUT folds element-"
    "ordered, the per-vector sum runs on a 10⁻⁹ decimal grid over "
    f"exactly {PQ_M} terms, ordering compares the DECIMAL.",
)
def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    book, best = _pq_book_and_best(spark, emb)
    pivots = _pivots(emb, PQ_CODES)
    subs = spark.range(PQ_M).select(F.col("id").cast("int").alias("s"))
    qsub = (
        pivots.where(F.col("prank") == 1)
        .crossJoin(F.broadcast(subs))
        .select(
            "s",
            F.slice("pemb", F.col("s") * PQ_SUBDIM + 1, PQ_SUBDIM).alias("qvec"),
        )
    )
    lut = book.join(F.broadcast(qsub), "s").select(
        "s", "code", _pq_d2("qvec", "cvec").alias("qd2")
    )
    adc = (
        best.join(F.broadcast(lut), ["s", "code"])
        .groupBy("vec_id")
        .agg(F.sum(F.col("qd2").cast("decimal(28,9)")).alias("adc"))
    )
    return (
        adc.orderBy("adc", "vec_id")
        .limit(PQ_TOPK)
        .select("vec_id", F.col("adc").cast("double").alias("adc_dist"))
    )


# --------------------------------------------------------------------------
# Reciprocal-rank fusion
# --------------------------------------------------------------------------

#: RRF smoothing constant (Cormack et al. 2009 use 60) and result size.
RRF_K = 60
RRF_TOP = 20


@register(
    "q_rrf_fusion",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
                  FROM documents WHERE text <> ''),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks
           WHERE tok IN ('{BM25_TERMS[0]}', '{BM25_TERMS[1]}', '{BM25_TERMS[2]}')
           GROUP BY doc_id, tok),
    n_docs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
               FROM documents WHERE text <> ''),
    dft AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    scored AS (SELECT tf.doc_id,
                      {o_dec_to_double(_O_BM25ISH_W, 9)} AS score_a
               FROM tf JOIN dft USING (tok), n_docs n
               GROUP BY tf.doc_id),
    cand AS (SELECT s.doc_id, s.score_a, d.n_chars
             FROM scored s JOIN documents d USING (doc_id)),
    ranked AS (SELECT doc_id,
                      CAST(row_number() OVER (ORDER BY score_a DESC, doc_id)
                           AS INT) AS rank_a,
                      CAST(row_number() OVER (ORDER BY n_chars, doc_id)
                           AS INT) AS rank_b
               FROM cand)
    SELECT doc_id, rank_a, rank_b,
           1.0 / ({RRF_K}.0 + CAST(rank_a AS DOUBLE))
             + 1.0 / ({RRF_K}.0 + CAST(rank_b AS DOUBLE)) AS rrf
    FROM ranked ORDER BY rrf DESC, doc_id LIMIT {RRF_TOP}
    """,
    tier="C",
    doc=f"Reciprocal-rank fusion (Cormack et al. SIGIR 2009, k={RRF_K}) "
    "of two retrieval signals over the SAME candidate set: an "
    "idf-weighted lexical score (the q_bm25_rank term machinery) and "
    "a brevity prior (n_chars ascending) — the standard way a RAG "
    "stack merges rankers with incomparable score scales, since RRF "
    "consumes only RANKS. Scale shape: the candidate set is the "
    "POSTINGS of the query terms (never the corpus), so the two rank "
    "windows sort |candidates| rows — bounded by document frequency, "
    "not corpus size; the per-term scores quantize to a 10⁻⁹ decimal "
    "grid before the per-doc sum. The fused score is a fixed-order "
    "two-term IEEE sum of exact integer-rank reciprocals — "
    "bit-identical cross-engine; ranks and the final top-"
    f"{RRF_TOP} break ties on doc_id.",
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text") != "")
    )
    toks = docs.select("doc_id", tokens("text").alias("toks"))
    tf = (
        toks.select("doc_id", F.explode("toks").alias("tok"))
        .where(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = docs.agg(F.count("*").alias("n"))
    dft = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = ((F.col("n") - F.col("df")).cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    scored = (
        tf.join(F.broadcast(dft), "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            (F.col("tf").cast("double") * idf).cast("decimal(30,9)").alias("w"),
        )
        .groupBy("doc_id")
        .agg(dsum("w", 9).alias("score_a"))
    )
    cand = scored.join(docs.select("doc_id", "n_chars"), "doc_id")
    # row_number == running COUNT under a total order ((score, doc_id)
    # and (n_chars, doc_id) are unique); both rank windows run one task
    # over the candidate table, already cut to the query's terms
    frame = (Window.unboundedPreceding, Window.currentRow)
    ranked = cand.withColumn(
        "_ra",
        F.sum(F.lit(1)).over(
            Window.orderBy(F.col("score_a").desc(), "doc_id").rowsBetween(*frame)
        ),
    ).withColumn(
        "_rb",
        F.sum(F.lit(1)).over(Window.orderBy("n_chars", "doc_id").rowsBetween(*frame)),
    )
    ranked = ranked.select(
        "doc_id",
        F.col("_ra").cast("int").alias("rank_a"),
        F.col("_rb").cast("int").alias("rank_b"),
    )
    rrf = (
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("rank_a").cast("double"))
        + F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("rank_b").cast("double"))
    )
    return (
        ranked.select("doc_id", "rank_a", "rank_b", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(RRF_TOP)
    )


# --------------------------------------------------------------------------
# Inverted-index materialization
# --------------------------------------------------------------------------

#: Terms with document frequency above this cap get exact df/tf stats
#: but NO materialized posting list — at corpus scale a stopword's list
#: is itself corpus-sized and belongs in a blocked index file, not a
#: table cell.
INVIDX_DF_CAP = 8


@register(
    "q_inverted_index",
    oracle=f"""
    WITH toks AS (SELECT doc_id,
                         unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
                  FROM documents WHERE text <> ''),
    tk AS (SELECT doc_id, t FROM toks WHERE t <> ''),
    per_doc AS (SELECT t, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
                FROM tk GROUP BY t, doc_id),
    stats AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df,
                     CAST(SUM(tf) AS BIGINT) AS tf_total
              FROM per_doc GROUP BY t),
    post AS (SELECT t, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                      AS postings
             FROM per_doc
             WHERE t IN (SELECT t FROM stats WHERE df <= {INVIDX_DF_CAP})
             GROUP BY t)
    SELECT s.t AS term, s.df, s.tf_total, p.postings
    FROM stats s LEFT JOIN post p ON s.t = p.t
    """,
    tier="C",
    doc="Inverted-index materialization with a df gate: exact document "
    "frequency and total term frequency for EVERY term, plus the "
    f"doc-id posting list (sorted, comma-joined) only for terms with "
    f"df <= {INVIDX_DF_CAP}. The gate is applied by a TWO-PASS plan — "
    "df aggregate first, then a semi-join admits only light terms "
    "into the collect — never collect-then-null, which would "
    "materialize a stopword's corpus-sized posting array in executor "
    "memory before discarding it (the OOM that kills naive index "
    "builds at 100 TB; heavy terms belong in blocked index files). "
    "Plan: one token explode, a (term,doc) pre-aggregate that feeds "
    "BOTH the stats aggregate and the gated collect on the same key "
    "family, and a term-keyed left join back. Posting lists are "
    "sorted numerically then serialized, so the cell is "
    "deterministic and scalar (driver-canon-safe).",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    tk = (
        docs.select(
            "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("t")
        )
        .where(F.col("t") != "")
    )
    per_doc = tk.groupBy("t", "doc_id").agg(F.count("*").cast("long").alias("tf"))
    stats = per_doc.groupBy("t").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("tf_total"),
    )
    light = per_doc.join(
        stats.where(F.col("df") <= INVIDX_DF_CAP).select("t"), "t", "left_semi"
    )
    post = light.groupBy("t").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings")
    )
    # merge (SMJ) hint: BOTH sides are vocabulary-scaling aggregates
    # behind the token explode, whose static estimates are blind to
    # the widening — the round-14 sf1 probe caught the planner
    # statically broadcasting the postings side (the q_simhash_hamming
    # crash class; AQE never demotes a static broadcast join). The
    # join key is the shared term, so SMJ co-partitions both sides.
    return (
        stats.join(post.hint("merge"), "t", "left")
        .select(F.col("t").alias("term"), "df", "tf_total", "postings")
    )
