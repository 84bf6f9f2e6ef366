"""Tier-C text analysis over `documents` (SURVEY.md §2.12): cleaning,
tokenization, per-doc statistics, language ID, quality scoring, token
counting, fingerprinting, multimodal column plumbing.

These are the per-document passes a 100-TB training-data pipeline runs
before dedup/filtering. All of them are embarrassingly parallel column
expressions — no shuffle except the final aggregations — so they scale
linearly with executors and stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from news_categorization_big_data_spark.functions.cachepin import pin
from news_categorization_big_data_spark.functions.hashing import hash60
from news_categorization_big_data_spark.functions.partitioning import fan_out
from news_categorization_big_data_spark.functions.text_exprs import STOPWORDS, normalize_text, tokens
from news_categorization_big_data_spark.plans.registry import register
from news_categorization_big_data_spark.sources.tables import load_table


@register(
    "q_text_clean",
    oracle="""
    SELECT doc_id,
           left(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                    ' +', ' ', 'g')), 60) AS clean_head
    FROM documents
    """,
    tier="C",
    doc="Text normalization: lower → strip punctuation → collapse "
    "whitespace → trim. Pure codegen; zero shuffle.",
)
def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.substring(normalize_text("text"), 1, 60).alias("clean_head"))


@register(
    "q_text_tokens",
    oracle=f"""
    SELECT token, COUNT(*) AS cnt FROM (
      SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                t -> t NOT IN {tuple(STOPWORDS)!r} AND t <> '')) AS token
      FROM documents WHERE text <> '')
    GROUP BY token HAVING COUNT(*) >= 5
    """,
    tier="C",
    doc="Tokenization + stopword removal + corpus term frequency: the "
    "HashingTF precursor. Stopwords are filtered inside the array (no row "
    "explosion until after the filter); the groupBy shuffles only tokens.",
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = F.filter(tokens("text"), lambda t: ~t.isin(*STOPWORDS) & (t != ""))
    return (
        docs.where(F.col("text") != "")
        .select(F.explode(kept).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= 5)
    )


@register(
    "q_text_stats",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)) AS BIGINT) AS total_words,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents WHERE text <> '' GROUP BY lang
    """,
    tier="C",
    doc="Per-language corpus statistics (doc/char/word totals). Integer "
    "sums are exact → safe to divide for the average in double.",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(tokens("text")).cast("long")
    return (
        docs.where(F.col("text") != "")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
            F.sum(n_words).alias("total_words"),
            (F.sum(F.col("n_chars").cast("long")).cast("double") / F.count("*")).alias("avg_chars"),
        )
    )


#: Tiny per-language stopword profiles for the n-gram/stopword language
#: heuristic. Deterministic and SQL-expressible; real pipelines would
#: plug a fastText-style model in via mapInPandas (operators/multimodal.py
#: shows the pluggable-UDF pattern).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "das"),
    "fr": ("le", "la", "et"),
}


def _profile_score(tok_col, words: tuple[str, ...]):
    return F.size(F.filter(tok_col, lambda t: t.isin(*words)))


@register(
    "q_lang_id",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t IN ('the','a','of'))) AS s_en,
             len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t IN ('el','la','de'))) AS s_es,
             len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t IN ('der','die','das'))) AS s_de,
             len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t IN ('le','la','et'))) AS s_fr
      FROM documents WHERE text <> '')
    SELECT doc_id,
           CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS pred_lang,
           CAST(greatest(s_en, s_es, s_de, s_fr) AS INT) AS top_score
    FROM scored
    """,
    tier="C",
    doc="Language ID via stopword-profile scoring (argmax over per-language "
    "token-hit counts, alphabetical tie-break). Column-native: no UDF. The "
    "CASE ladder encodes the same tie-break order ('de' < 'en' < 'es' < "
    "'fr') on both engines.",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    toks = tokens("text")
    scores = {lang: _profile_score(toks, prof) for lang, prof in LANG_PROFILES.items()}
    top = F.greatest(*scores.values())
    pred = (
        F.when(top == 0, F.lit("und"))
        .when(
            (scores["de"] >= scores["en"]) & (scores["de"] >= scores["es"]) & (scores["de"] >= scores["fr"]),
            F.lit("de"),
        )
        .when((scores["en"] >= scores["es"]) & (scores["en"] >= scores["fr"]), F.lit("en"))
        .when(scores["es"] >= scores["fr"], F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return docs.select("doc_id", pred.alias("pred_lang"), top.cast("int").alias("top_score"))


@register(
    "q_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(text, '\\s+')) AS INT) AS n_tokens,
           round(CAST(len(list_distinct(regexp_split_to_array(text, '\\s+'))) AS DOUBLE)
                 / len(regexp_split_to_array(text, '\\s+')), 4) AS distinct_ratio,
           round(CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                      t -> t IN {tuple(STOPWORDS)!r})) AS DOUBLE)
                 / len(regexp_split_to_array(text, '\\s+')), 4) AS stopword_ratio,
           round(CAST(n_chars AS DOUBLE) / len(regexp_split_to_array(text, '\\s+')), 4)
             AS chars_per_token
    FROM documents WHERE text <> ''
    """,
    tier="C",
    doc="Document quality scoring: token count, type/token ratio, stopword "
    "ratio, chars-per-token — the standard cheap pre-training filters. "
    "All ratios are single double divisions (engine-identical), rounded.",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    toks = tokens("text")
    n = F.size(toks)
    return docs.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        F.round(F.size(F.array_distinct(toks)).cast("double") / n, 4).alias("distinct_ratio"),
        F.round(
            F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double") / n, 4
        ).alias("stopword_ratio"),
        F.round(F.col("n_chars").cast("double") / n, 4).alias("chars_per_token"),
    )


@register(
    "q_quality_filter",
    oracle=f"""
    WITH q AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t, n_chars
               FROM documents WHERE text <> ''),
    s AS (SELECT doc_id,
                 len(t) AS n,
                 CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS dr,
                 CAST(len(list_filter(t, x -> x IN {tuple(STOPWORDS)!r})) AS DOUBLE)
                   / len(t) AS sr,
                 CAST(n_chars AS DOUBLE) / len(t) AS cpt
          FROM q),
    r AS (SELECT doc_id, list_filter([
            CASE WHEN n < 20 THEN 'too_short' END,
            CASE WHEN dr < 0.33 THEN 'repetitive' END,
            CASE WHEN sr < 0.02 THEN 'no_stopwords' END,
            CASE WHEN cpt < 3.0 THEN 'fragmented' END,
            CASE WHEN cpt > 10.0 THEN 'overlong_tokens' END],
            x -> x IS NOT NULL) AS reasons
          FROM s)
    SELECT doc_id, len(reasons) = 0 AS keep,
           coalesce(array_to_string(reasons, ','), '') AS reasons
    FROM r
    """,
    tier="C",
    doc="Gopher/C4-style quality FILTER: the keep/drop decision layer over "
    "q_quality_score's signals, with per-document reason codes "
    "(too_short, repetitive, no_stopwords, fragmented, overlong_tokens) "
    "so drops are auditable — the curation property that matters when a "
    "filter eats 20% of a 100-TB corpus. Same map-only/zero-shuffle "
    "shape as the scoring pass; thresholds are integer/double-compare "
    "only (no rounding in the decision path → engine-identical).",
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.operators.curation import quality_reasons

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    reasons = quality_reasons("text", "n_chars")
    return docs.select(
        "doc_id",
        (F.size(reasons) == 0).alias("keep"),
        F.array_join(reasons, ",").alias("reasons"),
    )


@register(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT)
             AS n_bpe_ish,
           CAST(len(regexp_split_to_array(text, '\\s+')) AS INT) AS n_ws
    FROM documents WHERE text <> ''
    """,
    tier="C",
    doc="Token counting two ways: whitespace and a BPE-ish regex "
    "(letter-runs | digit-runs | single punctuation) — the cheap "
    "token-budget estimator for LLM data pipelines.",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    bpe_ish = F.regexp_count("text", F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"))
    return docs.select(
        "doc_id",
        bpe_ish.cast("int").alias("n_bpe_ish"),
        F.size(tokens("text")).cast("int").alias("n_ws"),
    )


@register(
    "q_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp,
           ('0x' || substr(md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))), 1, 15))::BIGINT AS fp_normalized
    FROM documents
    """,
    tier="C",
    doc="Document fingerprinting: 60-bit content hash of the raw and the "
    "normalized text (the exact-dedup / cache key). md5-derived so the "
    "oracle reproduces it; see functions/hashing.py for the fast-path "
    "xxhash64 alternative when portability isn't needed.",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        hash60("text").alias("fp"),
        hash60(normalize_text("text")).alias("fp_normalized"),
    )


def _pii_oracle() -> str:
    """Sequential scrub CTE chain generated from PII_PATTERNS — same
    constants as the Spark operator, so the two cannot drift."""
    from news_categorization_big_data_spark.operators.curation import PII_PATTERNS

    prev = "(SELECT doc_id, text AS t FROM documents)"
    carried: list[str] = []
    for name, pat, repl in PII_PATTERNS:
        cols = "".join(f"{c}, " for c in carried)
        prev = f"""(SELECT doc_id, {cols}
               CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS n_{name},
               regexp_replace(t, '{pat}', '{repl}', 'g') AS t
        FROM {prev})"""
        carried.append(f"n_{name}")
    cols = ", ".join(carried)
    return f"SELECT doc_id, t AS text_clean, {cols} FROM {prev}"


@register(
    "q_pii_scrub",
    oracle=_pii_oracle(),
    tier="C",
    doc="PII redaction (operators/curation.py pii_scrub): emails, IPv4s, "
    "and phone-like digit runs replaced by typed placeholders, each "
    "counted on the progressively scrubbed text so categories never "
    "double-count. Map-only regexp expressions with Java/RE2-portable "
    "syntax; the testdata corpus is PII-free by construction, so the "
    "registered run proves the no-op path — planted-PII behavior is "
    "pinned cross-engine in tests/test_curation.py.",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.operators.curation import pii_scrub

    return pii_scrub(load_table(spark, sf_dir, "documents"))


@register(
    "q_repetition_stats",
    oracle="""
    -- list_zip + unnest + GROUP BY, NOT per-row list lambdas or
    -- list_distinct: on /tmp/skew3's giant documents (1.5M grams in
    -- ONE row) the original list_transform(range(..), i -> t[i:i+1])
    -- form ran effectively quadratic in DuckDB (indexing inside the
    -- lambda; >500 s for one doc) and list_distinct was a
    -- single-threaded multi-GB cell op. zip(t[1:n-1], t[2:n]) builds
    -- the same (t[i], t[i+1]) pairs with linear list ops and the
    -- distinct count becomes a streaming hash aggregate (1.7 s for
    -- the whole fixture). Values are bit-identical to the old form.
    WITH g AS (SELECT doc_id,
                      unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u
               FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
                     FROM documents WHERE text <> '')),
    grams AS (SELECT doc_id, u[1] || ' ' || u[2] AS gram FROM g)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct,
           round((COUNT(*) - COUNT(DISTINCT gram))
                 / CAST(COUNT(*) AS DOUBLE), 4) AS dup_ratio
    FROM grams GROUP BY doc_id
    """,
    tier="C",
    doc="Within-document repetition ratio over ordered word bigrams "
    "(operators/curation.py repetition_stats): dup_ratio = 1 − "
    "distinct/total — near 0 for prose, near 1 for looping boilerplate. "
    "The Gopher-style repetition filter signal, computed as a pure "
    "column expression: map-only, zero shuffle, whole-stage codegen.",
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.operators.curation import repetition_stats

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    return repetition_stats(docs, text_col="text", id_col="doc_id", k=2)


@register(
    "q_top_terms_per_doc",
    oracle="""
    SELECT doc_id, token, cnt FROM (
      SELECT doc_id, token, cnt,
             row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, token) AS rn
      FROM (SELECT doc_id, token, COUNT(*) AS cnt
            FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS token
                  FROM documents WHERE text <> '')
            GROUP BY doc_id, token)
    ) WHERE rn <= 3
    """,
    tier="C",
    doc="Top-3 terms per document by frequency (ties → lexicographic) — "
    "the keyword-extraction primitive. Integer counts + total ordering "
    "⇒ fully exact; one shuffle on (doc_id, token), one on doc_id for "
    "the ranked window with WindowGroupLimit pruning.",
)
def q_top_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    counts = (
        docs.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("token"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "token", "cnt")
    )


@register(
    "q_multimodal_cols",
    oracle="""
    SELECT event_id,
           to_json(struct_pack(type := event_type,
                               k := CAST(json_extract_string(props, '$.k') AS INT))) AS meta_json
    FROM events
    """,
    tier="C",
    doc="Typed metadata struct over an opaque payload: JSON props parsed to "
    "typed fields, re-packed as a struct column (the multimodal metadata "
    "pattern — see operators/multimodal.py for the binary-payload side).",
)
def q_multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        # ignoreNullFields=false: Spark's to_json DROPS null fields by
        # default while DuckDB's to_json(struct_pack(..)) keeps them as
        # JSON nulls — divergent documents for null-props rows
        # (/tmp/skew4). Typed metadata keeps its schema: "k":null IS
        # the contract for a missing property.
        F.to_json(
            F.struct(
                F.col("event_type").alias("type"),
                F.get_json_object("props", "$.k").cast("int").alias("k"),
            ),
            {"ignoreNullFields": "false"},
        ).alias("meta_json"),
    )


@register(
    "q_multimodal_binary",
    oracle="""
    SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes, md5(text) AS payload_md5
    FROM documents
    """,
    tier="C",
    doc="Binary payload column: text encoded as binary with byte-length and "
    "content-hash metadata — the schema pattern for image/audio blobs "
    "(payload binary + typed metadata). Decode plumbing lives in "
    "operators/multimodal.py (Pandas-UDF, stubbed codec).",
)
def q_multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).cast("int").alias("n_bytes"),
        F.md5("text").alias("payload_md5"),
    )


#: Dimension formulas for the synthetic PNGs in q_multimodal_decode —
#: shared by the Spark encode stage and the DuckDB oracle, so the green
#: hash proves the REAL codec recovered exactly what was encoded.
MM_W_MOD, MM_H_MOD = 31, 17


@register(
    "q_multimodal_decode",
    oracle=f"""
    SELECT doc_id,
           CAST(doc_id % {MM_W_MOD} + 1 AS INT) AS width,
           CAST(doc_id % {MM_H_MOD} + 1 AS INT) AS height,
           true AS ok
    FROM documents
    """,
    tier="C",
    doc="REAL image decode end-to-end: every document gets an actual "
    "spec-conformant PNG payload (stdlib encoder, dims derived from "
    "doc_id, pixels from a per-doc LCG), and the decode stage — the "
    "same Arrow-batched mapInPandas plumbing as all multimodal ops "
    "(operators/multimodal.py) — parses the REAL bytes back with the "
    "stdlib PNG codec (operators/codecs.py: chunk walk, IHDR parse). "
    "The oracle recomputes the dimensions from doc_id directly, so the "
    "green hash proves the codec round-trip is exact — not a fake. "
    "Scale shape: both stages are map-only (zero shuffle); payload "
    "bytes live only inside the worker batch, never in a shuffle. In "
    "production the encode stage is replaced by reading real media "
    "files; the decode side runs unchanged. No third-party media lib "
    "exists in this environment (PIL/cv2/imageio import-checked — "
    "SCALE.md); PNG is decodable with zlib+struct because the spec "
    "(RFC 2083) is public and small.",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from news_categorization_big_data_spark.operators.codecs import (
        png_dims,
        png_encode,
    )
    from news_categorization_big_data_spark.operators.multimodal import (
        decode_payloads,
    )

    # Keyed fan_out (guide §2.5): the single-row-group bench fixture
    # makes the scan 1 task, serializing BOTH mapInPandas passes (the
    # real codec encode/decode) onto one Python worker; the fan-out
    # payload is just the doc_id longs. Default width, one task per
    # core: more tasks than cores add per-task cost and no parallelism.
    # A fixed width 8 measured slower than the default on 4 cores
    # (sf0.1 median 0.58 -> 0.38 s, with pyspark_graft_worker removing
    # the per-task pyspark.zip re-read; CHANGES.md). No-op on
    # cluster-width scans.
    docs = fan_out(
        load_table(spark, sf_dir, "documents").select("doc_id"),
        by=("doc_id",),
    )

    def encode_batches(batches):
        import numpy as np

        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                w = int(doc_id) % MM_W_MOD + 1
                h = int(doc_id) % MM_H_MOD + 1
                # Deterministic per-doc-distinct pixels, numpy-vectorized
                # (round 11: the previous per-byte Python LCG loop was
                # the query's hot spot — w*h*3 interpreter iterations per
                # doc; the ORACLE checks decoded dims, not pixel bytes,
                # so the generator is free to be any deterministic
                # function of (doc_id, index)).
                idx = np.arange(w * h * 3, dtype=np.uint64)
                px = (
                    (idx * np.uint64(2654435761) + np.uint64(int(doc_id) * 1103515245 + 12345))
                    & np.uint64(0xFF)
                ).astype(np.uint8)
                payloads.append(png_encode(w, h, 3, px.tobytes()))
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"].to_numpy(),
                    "payload": payloads,
                    "mime": ["image/png"] * len(batch),
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    packed = docs.mapInPandas(
        encode_batches, "doc_id long, payload binary, mime string, n_bytes int"
    )
    return decode_payloads(packed, codec=png_dims).select(
        "doc_id", "width", "height", "ok"
    )


@register(
    "q_bpe_pair_counts",
    oracle="""
    -- linear list_zip bigrams (the q_repetition_stats form): the
    -- lambda-indexing original ran quadratic on /tmp/skew3's 1.5M-token
    -- rows. Identical pairs: u = (t[i], t[i+1]), i in 1..len-1.
    WITH g AS (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u
               FROM (SELECT regexp_split_to_array(text, '\\s+') AS t
                     FROM documents WHERE text <> ''))
    SELECT u[1] || ' ' || u[2] AS pair, COUNT(*) AS cnt
    FROM g
    GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT 64
    """,
    tier="C",
    doc="Adjacent-pair frequency counting — the inner loop of BPE/"
    "WordPiece vocabulary construction (count all adjacent symbol "
    "pairs, merge the winner, repeat): one explode of in-order bigrams "
    "(functions/text_exprs.py word_ngrams — the same arrays_zip "
    "construction q_repetition_stats uses), one partial-aggregating "
    "shuffle on the pair, TakeOrderedAndProject for the top-64. At "
    "corpus scale the iteration would re-run this query on a "
    "pair-merged token column; each round is the same single-shuffle "
    "plan. Ties break lexicographically for a total order.",
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.functions.text_exprs import word_ngrams

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    return (
        docs.select(F.explode(word_ngrams("text", 2)).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(64)
    )


@register(
    "q_doc_commonness",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS token
                 FROM documents WHERE text <> ''),
    tf AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token)
    SELECT tok.doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(tf.freq) AS BIGINT) AS sum_freq,
           CAST(CAST(SUM(tf.freq) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_freq
    FROM tok JOIN tf ON tok.token = tf.token
    GROUP BY tok.doc_id
    """,
    tier="C",
    doc="Per-document corpus-commonness score: average corpus frequency "
    "of the document's tokens — the integer-exact stand-in for a "
    "unigram-LM perplexity filter (CCNet-style quality signal: "
    "boilerplate scores high, rare-junk scores low; avg of exact "
    "integer counts divides identically on both engines where "
    "sum-of-log-probs would not). Two shuffles: the term-frequency "
    "aggregate, then the token-keyed join back. The join key is "
    "Zipf-skewed by construction — AQE skew-join splitting handles the "
    "head tokens; at 100 TB the vocabulary table is also a broadcast "
    "candidate after a min-frequency cut.",
)
def q_doc_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("token").agg(F.count("*").alias("freq"))
    return (
        tok.join(tf, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("freq").alias("sum_freq"),
            (F.sum("freq").cast("double") / F.count("*")).alias("avg_freq"),
        )
    )


@register(
    "q_vocab_coverage",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS token
                 FROM documents WHERE text <> ''),
    tf AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token),
    vocab AS (SELECT token FROM (
                SELECT token, ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rn
                FROM tf) WHERE rn <= 500)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(count_if(v.token IS NULL) AS BIGINT) AS n_oov,
           CAST(CAST(count_if(v.token IS NULL) AS BIGINT) AS DOUBLE) / COUNT(*)
             AS oov_rate
    FROM tok LEFT JOIN vocab v ON tok.token = v.token
    GROUP BY doc_id
    """,
    tier="C",
    doc="Per-document vocabulary coverage: out-of-vocabulary token rate "
    "against the corpus top-500 vocabulary — the tokenizer-fit signal a "
    "training pipeline computes before committing to a vocab (high OOV "
    "= the tokenizer will fragment the doc into bytes). The vocabulary "
    "is derived IN-QUERY: term frequencies (one shuffle), a "
    "deterministic top-500 rank (freq desc, token asc — total order), "
    "then a BROADCAST left join back to the token stream with null-"
    "miss counting; the token stream itself is never re-shuffled. At "
    "100 TB the vocab stays vocabulary-sized (broadcastable by "
    "construction) regardless of corpus size; OOV divides two exact "
    "integers, bit-identical in both engines.",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from news_categorization_big_data_spark.functions.text_exprs import tokens

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    rn = F.row_number().over(Window.orderBy(F.desc("freq"), F.col("token")))
    vocab = (
        tf.select("token", rn.alias("rn"))
        .where(F.col("rn") <= 500)
        .select(F.col("token").alias("v_token"))
    )
    return (
        tok.join(F.broadcast(vocab), tok["token"] == F.col("v_token"), "left_outer")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_if(F.col("v_token").isNull()).alias("n_oov"),
            (
                F.count_if(F.col("v_token").isNull()).cast("double")
                / F.count(F.lit(1))
            ).alias("oov_rate"),
        )
    )


#: Collocation mining: minimum pair support and result size.
COLLOC_MIN_COUNT = 5
COLLOC_TOP_K = 50


@register(
    "q_collocations",
    oracle=f"""
    WITH toks AS (SELECT regexp_split_to_array(text, '\\s+') AS t
                  FROM documents WHERE text <> ''),
    uni AS (SELECT unnest(t) AS w FROM toks),
    ucnt AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM uni),
    -- linear list_zip bigrams (see q_repetition_stats' oracle note)
    big AS (SELECT u[1] || ' ' || u[2] AS pair
            FROM (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u
                  FROM toks)),
    bcnt AS (SELECT pair, COUNT(*) AS n_ab FROM big GROUP BY 1
             HAVING COUNT(*) >= {COLLOC_MIN_COUNT}),
    j AS (SELECT b.pair, b.n_ab, ua.n AS n_a, ub.n AS n_b, tot.n_tot
          FROM bcnt b
          JOIN ucnt ua ON split_part(b.pair, ' ', 1) = ua.w
          JOIN ucnt ub ON split_part(b.pair, ' ', 2) = ub.w, tot)
    SELECT pair, CAST(n_ab AS BIGINT) AS n_ab,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(n_ab AS DOUBLE) * n_tot / (CAST(n_a AS DOUBLE) * n_b) AS lift
    FROM j ORDER BY lift DESC, pair LIMIT {COLLOC_TOP_K}
    """,
    tier="C",
    doc=f"Collocation mining (phrase detection for tokenizer/vocab "
    "curation): adjacent pairs scored by LIFT = P(ab)/(P(a)·P(b)) — "
    "the monotone transform of PMI that needs NO log, because "
    "transcendentals are not hash-stable across engines while this "
    "ratio is a division of exact integer counts (every product stays "
    "under 2^53 → bit-identical doubles). Pairs with support ≥ "
    f"{COLLOC_MIN_COUNT} rank by lift (tie-broken by pair for a total "
    f"order), top {COLLOC_TOP_K} via TakeOrderedAndProject. Plan: one "
    "bigram-count shuffle, one unigram-count shuffle, marginals joined "
    "back on the token key (dimension-sized vs the corpus — broadcast "
    "under AQE), grand total as a one-row cross join. The classic "
    "next step — merge winners into single tokens and re-run — is the "
    "same plan per round (see q_bpe_pair_counts).",
)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.functions.text_exprs import word_ngrams

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    uni = docs.select(F.explode(F.split("text", r"\s+")).alias("w"))
    # the unigram-count table feeds BOTH marginal joins and the grand
    # total; un-checkpointed, each consumer re-tokenized the corpus
    # (4 scans, 3 redundant explode passes). Vocabulary-sized — the
    # cheapest possible pin (round-8 sweep, SCALE.md).
    ucnt = pin(uni.groupBy("w").agg(F.count("*").alias("n")))
    tot = ucnt.agg(F.sum("n").alias("n_tot"))  # = total tokens, exactly
    bcnt = (
        docs.select(F.explode(word_ngrams("text", 2)).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= COLLOC_MIN_COUNT)
    )
    ua = ucnt.select(F.col("w").alias("_wa"), F.col("n").alias("n_a"))
    ub = ucnt.select(F.col("w").alias("_wb"), F.col("n").alias("n_b"))
    j = (
        bcnt.withColumn("_wa", F.split("pair", " ").getItem(0))
        .withColumn("_wb", F.split("pair", " ").getItem(1))
        .join(ua, "_wa")
        .join(ub, "_wb")
        .crossJoin(F.broadcast(tot))
    )
    lift = (
        F.col("n_ab").cast("double")
        * F.col("n_tot")
        / (F.col("n_a").cast("double") * F.col("n_b"))
    )
    return (
        j.select("pair", "n_ab", "n_a", "n_b", lift.alias("lift"))
        .orderBy(F.desc("lift"), "pair")
        .limit(COLLOC_TOP_K)
    )


@register(
    "q_tokenizer_fertility",
    oracle="""
    WITH d AS (SELECT lang,
                      CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                           x -> x <> '')) AS BIGINT) AS n_tok,
                      n_chars
               FROM documents WHERE text <> '')
    SELECT lang,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE)
             AS chars_per_token
    FROM d GROUP BY lang
    """,
    tier="C",
    doc="Tokenizer fertility per language: characters per token — the "
    "budget planner's constant (how many bytes of corpus buy one "
    "training token?) and the per-language skew check that decides "
    "sampling weights before a multilingual training mix is frozen. "
    "Pure column expressions feeding one partial-aggregating shuffle "
    "on the 4-value lang key; the ratio is one division of identical "
    "integer-derived doubles. Same whitespace tokenizer as the whole "
    "text tier (functions/text_exprs.py tokens).",
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from news_categorization_big_data_spark.functions.text_exprs import tokens

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    n_tok = F.size(F.filter(tokens("text"), lambda t: t != "")).cast("long")
    d = docs.select("lang", n_tok.alias("n_tok"), "n_chars")
    return d.groupBy("lang").agg(
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        (
            F.sum("n_chars").cast("double") / F.sum("n_tok").cast("double")
        ).alias("chars_per_token"),
    )


#: Audio parameter formulas for the synthetic WAVs in q_audio_decode —
#: shared by the Spark encode stage and the DuckDB oracle (the
#: q_multimodal_decode pattern for the audio codec).
MM_RATE_BASE, MM_RATE_STEP, MM_RATE_MOD = 8000, 2000, 5


@register(
    "q_audio_decode",
    oracle=f"""
    SELECT doc_id,
           CAST({MM_RATE_BASE} + (doc_id % {MM_RATE_MOD}) * {MM_RATE_STEP}
                AS INT) AS sample_rate,
           CAST(1 + doc_id % 2 AS INT) AS n_channels,
           true AS ok
    FROM documents
    """,
    tier="C",
    doc="REAL audio decode end-to-end — the WAV twin of "
    "q_multimodal_decode: every document gets an actual RIFF/WAV "
    "payload (stdlib `wave` encoder; rate and channel count derived "
    "from doc_id, 16-bit LCG samples), and the decode stage — the same "
    "Arrow-batched mapInPandas plumbing as every multimodal op — "
    "parses the REAL bytes back with the stdlib reader "
    "(operators/codecs.py wav_dims). The oracle recomputes the "
    "parameters from doc_id directly, so the green hash proves the "
    "audio round-trip is exact. Scale shape: both stages map-only, "
    "payload bytes never enter a shuffle; in production the encode "
    "stage is replaced by reading real recordings and the decode side "
    "runs unchanged.",
)
def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io
    import wave as wave_mod

    import pandas as pd

    from news_categorization_big_data_spark.operators.codecs import wav_dims
    from news_categorization_big_data_spark.operators.multimodal import (
        decode_payloads,
    )

    # Keyed fan_out (guide §2.5): same single-task codec serialization
    # and default-width rationale as q_multimodal_decode (a fixed width
    # 8 measured slower than the default on 4 cores: sf0.1 median
    # 0.51 -> 0.39 s, CHANGES.md).
    docs = fan_out(
        load_table(spark, sf_dir, "documents").select("doc_id"),
        by=("doc_id",),
    )

    def encode_batches(batches):
        import numpy as np

        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                rate = MM_RATE_BASE + (int(doc_id) % MM_RATE_MOD) * MM_RATE_STEP
                channels = 1 + int(doc_id) % 2
                n_frames = 50 + int(doc_id) % 100
                # numpy-vectorized deterministic PCM (round 11 — the
                # oracle checks rate/channels, not sample bytes; see
                # q_multimodal_decode's pixel generator).
                idx = np.arange(n_frames * channels * 2, dtype=np.uint64)
                pcm = (
                    (idx * np.uint64(2654435761) + np.uint64(int(doc_id) * 1103515245 + 12345))
                    & np.uint64(0xFF)
                ).astype(np.uint8)
                buf = io.BytesIO()
                with wave_mod.open(buf, "wb") as w:
                    w.setnchannels(channels)
                    w.setsampwidth(2)
                    w.setframerate(rate)
                    w.writeframes(pcm.tobytes())
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"].to_numpy(),
                    "payload": payloads,
                    "mime": ["audio/wav"] * len(batch),
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    packed = docs.mapInPandas(
        encode_batches, "doc_id long, payload binary, mime string, n_bytes int"
    )
    return decode_payloads(packed, codec=wav_dims).select(
        "doc_id",
        F.col("width").cast("int").alias("sample_rate"),
        F.col("height").cast("int").alias("n_channels"),
        "ok",
    )


# --------------------------------------------------------------------------
# Corpus-relative token rarity (the exact-arithmetic perplexity proxy)
# --------------------------------------------------------------------------

#: Rarity cap in milli-units (a hapax token scores at most this).
RARITY_CAP_MILLI = 10_000_000


#: Shared rarity CTE chain — q_token_rarity's oracle body, reused by
#: q_quality_buckets so the two provably score documents identically.
#: unnest in SELECT, not the lateral `FROM documents, unnest(..)`
#: form: the lateral join carries the WHOLE source row — including
#: text — alongside every emitted token, so a /tmp/skew3 8 MB
#: document pays 8 MB of string copying per token (1.5M tokens ⇒
#: effectively never finishes). The SELECT form carries doc_id
#: only: ~14 s for the whole fixture. Row semantics identical
#: (empty/NULL token lists emit zero rows either way).
_RARITY_CTES = f"""toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vocab),
    rar AS (SELECT tok, LEAST({RARITY_CAP_MILLI},
                              (CAST(n AS BIGINT) * 1000) // cnt) AS rarity
            FROM vocab, tot),
    rarity AS (SELECT toks.doc_id,
                      CAST(COUNT(*) AS BIGINT) AS n_tokens,
                      CAST(SUM(rarity) // COUNT(*) AS BIGINT) AS mean_rarity_milli
               FROM toks JOIN rar USING (tok)
               GROUP BY toks.doc_id)"""


@register(
    "q_token_rarity",
    oracle=f"""
    WITH {_RARITY_CTES}
    SELECT doc_id, n_tokens, mean_rarity_milli FROM rarity
    """,
    tier="C",
    doc="Per-document mean token rarity against the corpus unigram "
    "distribution — the perplexity-style quality proxy (a document of "
    "rare tokens scores high, boilerplate scores low) expressed in "
    "EXACT integer arithmetic: rarity(w) = min(cap, N*1000 div "
    "count(w)) is a floor-divided long, per-doc sums run over longs, "
    "and the mean is one floor division — so the score is bit-identical "
    "across engines and reduction orders, unlike a sum of float log "
    "probabilities (1-ulp ln() differences between libm and the JVM "
    "would break the oracle hash at micro-unit boundaries). Scale: one "
    "token explode, one vocab groupBy, one tokens-to-vocab join, one "
    "per-doc groupBy. The vocab join's skew ('the' carries ~5% of all "
    "rows) is the classic hot-key join: a shuffle-hash join on tok, "
    "whose hot partition AQE's skew-join split divides.",
)
def q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_rarity_frame(load_table(spark, sf_dir, "documents"))


def token_rarity_frame(docs: DataFrame) -> DataFrame:
    """The q_token_rarity core over any (doc_id, text) frame — shared
    with the brute-force property test (tests/test_features_props.py)."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("tok"),
    ).where(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count("*").cast("long").alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("long").alias("n"))
    rar = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.least(
            F.lit(RARITY_CAP_MILLI).cast("long"),
            F.expr("(n * 1000) div cnt"),
        ).alias("rarity"),
    )
    # shuffle_hash hint: without it Catalyst's size estimate broadcasts
    # the EXPLODED TOKEN STREAM (BuildLeft — the rar side's cross-join
    # lineage defeats its stats), which inverts at scale: the stream is
    # corpus-sized, the vocab is not. ShuffledHashJoin on tok is the
    # 100-TB shape; AQE's skew-join split absorbs the 'the' hot key.
    scored = toks.join(rar.hint("shuffle_hash"), "tok")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.expr("sum(rarity) div count(*)").cast("long").alias("mean_rarity_milli"),
        )
    )


# --------------------------------------------------------------------------
# Character-class profile + Simpson diversity (binary-junk screen)
# --------------------------------------------------------------------------


@register(
    "q_char_classes",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))
                  AS BIGINT) AS n_alpha,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                  AS BIGINT) AS n_digit,
             CAST(length(text) - length(regexp_replace(text, '[ \\t\\n]', '', 'g'))
                  AS BIGINT) AS n_space
      FROM documents WHERE text <> ''),
    k AS (SELECT doc_id, n_chars, n_alpha, n_digit, n_space,
                 n_chars - n_alpha - n_digit - n_space AS n_other
          FROM c)
    SELECT doc_id, n_chars, n_alpha, n_digit, n_space, n_other,
           CAST((n_alpha::HUGEINT*n_alpha + n_digit::HUGEINT*n_digit
                 + n_space::HUGEINT*n_space + n_other::HUGEINT*n_other)
                * 1000000 // (n_chars::HUGEINT*n_chars)
                AS BIGINT) AS simpson_ppm
    FROM k
    """,
    tier="C",
    doc="Per-document character-class profile (alpha/digit/space/other "
    "counts) plus the Simpson concentration index over the classes in "
    "exact ppm — the cheap binary-junk/gibberish screen a curation "
    "pipeline runs before tokenization: natural text sits near the "
    "alpha-dominated Simpson band, base64 blobs and digit dumps spike "
    "digit/other concentration, whitespace-art spikes space. Class "
    "counts come from length-minus-stripped-length (one regexp_replace "
    "per class), NOT a character explode — map-only, zero shuffles, "
    "zero fan-out, so it costs one scan at any corpus size. "
    "simpson = sum(class²)·1e6 div total² runs in 128-bit integer "
    "arithmetic (decimal(38,0) here, HUGEINT in the oracle): the "
    "original int64 form overflowed on /tmp/skew3's 8 MB document "
    "(n_chars²·10⁶ ≈ 7·10¹⁹ > 2⁶³ — ANSI hard error, found by the "
    "round-12 giant-doc fixture), and 128-bit keeps it exact to "
    "n_chars ~ 10¹⁵.",
)
def q_char_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    stripped = lambda pat: F.length("text") - F.length(  # noqa: E731
        F.regexp_replace("text", pat, "")
    )
    k = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        stripped("[a-zA-Z]").cast("long").alias("n_alpha"),
        stripped("[0-9]").cast("long").alias("n_digit"),
        stripped("[ \\t\\n]").cast("long").alias("n_space"),
    ).withColumn(
        "n_other",
        (F.col("n_chars") - F.col("n_alpha") - F.col("n_digit") - F.col("n_space"))
        .cast("long"),
    )
    return k.select(
        "doc_id",
        "n_chars",
        "n_alpha",
        "n_digit",
        "n_space",
        "n_other",
        # decimal(38,0), not long: n_chars²·10⁶ overflows int64 past
        # n_chars ~ 3·10⁶ (an 8 MB crawl page); div floors back to long.
        F.expr(
            "(cast(n_alpha as decimal(38,0)) * n_alpha"
            " + cast(n_digit as decimal(38,0)) * n_digit"
            " + cast(n_space as decimal(38,0)) * n_space"
            " + cast(n_other as decimal(38,0)) * n_other)"
            " * 1000000 div (cast(n_chars as decimal(38,0)) * n_chars)"
        )
        .cast("long")
        .alias("simpson_ppm"),
    )


#: Synthetic-GIF geometry formulas shared by the encode stage and the
#: DuckDB oracle (the q_multimodal_decode pattern): frames, width,
#: height all derive from doc_id.
VID_F_MOD, VID_W_MOD, VID_H_MOD = 4, 13, 11


@register(
    "q_video_frames",
    oracle=f"""
    SELECT doc_id,
           CAST(fi AS INT) AS frame_idx,
           CAST((doc_id % {VID_W_MOD} + 1) * (doc_id % {VID_H_MOD} + 1) AS INT)
             AS n_px,
           true AS ok
    FROM (SELECT doc_id, unnest(range(doc_id % {VID_F_MOD} + 1)) AS fi
          FROM documents WHERE doc_id < 2000)
    """,
    tier="C",
    doc="REAL video-container frame sampling end-to-end: every document "
    "gets an actual spec-conformant animated GIF89a (stdlib encoder — "
    "logical screen descriptor, global color table, per-frame LZW "
    "index streams; frame count and dims derive from doc_id, pixels "
    "from a per-(doc,frame) LCG), and the frame stage — the "
    "set-returning Arrow-batched mapInPandas shape "
    "(operators/multimodal.py:sample_frames) — parses the REAL bytes "
    "back with the full variable-width LZW decoder "
    "(operators/codecs.py:gif_decode, validated against an "
    "independent growing-dictionary encoder). One output row per "
    "recovered frame with its pixel count; the oracle recomputes "
    "frames x dims from doc_id directly, so the green hash proves "
    "count AND geometry round-trip through real container bytes — "
    "completing the media matrix (PNG image / WAV audio / GIF "
    "video). Scale: map-only on both sides, payload bytes never "
    "enter a shuffle; the doc_id<2000 cap bounds fixture cost at "
    "high sf while every sf0.01 doc participates.",
)
def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from news_categorization_big_data_spark.operators.codecs import gif_encode
    from news_categorization_big_data_spark.operators.multimodal import (
        sample_frames,
    )

    # Keyed fan_out (guide §2.5): same single-task codec serialization
    # and default-width rationale as q_multimodal_decode (a fixed width
    # 8 measured slower than the default on 4 cores: sf0.1 median
    # 0.64 -> 0.49 s, CHANGES.md).
    docs = fan_out(
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 2000)
        .select("doc_id"),
        by=("doc_id",),
    )

    def encode_batches(batches):
        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                d = int(doc_id)
                k = d % VID_F_MOD + 1
                w = d % VID_W_MOD + 1
                h = d % VID_H_MOD + 1
                # numpy-vectorized deterministic 2-bit pixels (round 11
                # — the oracle checks frame counts/sizes, not pixel
                # values; see q_multimodal_decode's generator).
                import numpy as np

                idx = np.arange(w * h, dtype=np.uint64)
                frames = [
                    (
                        (idx * np.uint64(2654435761) + np.uint64(d * 1103515245 + fi * 97 + 12345))
                        & np.uint64(3)
                    )
                    .astype(np.uint8)
                    .tobytes()
                    for fi in range(k)
                ]
                payloads.append(gif_encode(w, h, frames))
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"].to_numpy(),
                    "payload": payloads,
                }
            )

    packed = docs.mapInPandas(encode_batches, "doc_id long, payload binary")
    from news_categorization_big_data_spark.operators.codecs import gif_frames_raw

    return sample_frames(packed, codec=gif_frames_raw).select(
        "doc_id",
        "frame_idx",
        F.octet_length("frame").cast("int").alias("n_px"),
        "ok",
    )


# --------------------------------------------------------------------------
# Bigram conditional-probability table (the minimal LM surface)
# --------------------------------------------------------------------------

#: Head-frequency floor and per-head fanout for q_bigram_lm.
BIGRAM_MIN_HEAD = 10
BIGRAM_TOPK = 3


@register(
    "q_bigram_lm",
    oracle=f"""
    WITH toks AS (SELECT regexp_split_to_array(lower(text), '\\s+') AS t
                  FROM documents WHERE text <> ''),
    -- list_zip, not a lateral `FROM toks, unnest(range(..))`: the
    -- lateral join carries the whole token ARRAY per emitted index
    -- (12 MB × 1.5M rows on a /tmp/skew3 giant doc); zip carries two
    -- strings per row. Same (t[i], t[i+1]) pairs.
    pairs AS (SELECT u[1] AS head, u[2] AS nxt
              FROM (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u
                    FROM toks)
              WHERE u[1] <> '' AND u[2] <> ''),
    c AS (SELECT head, nxt, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM pairs GROUP BY head, nxt),
    h AS (SELECT head, nxt, cnt,
                 CAST(SUM(cnt) OVER (PARTITION BY head) AS BIGINT) AS head_total,
                 CAST(ROW_NUMBER() OVER (PARTITION BY head
                                         ORDER BY cnt DESC, nxt) AS INT) AS rn
          FROM c)
    SELECT head, nxt, cnt, head_total,
           CAST(cnt * 1000000 // head_total AS BIGINT) AS cond_ppm
    FROM h
    WHERE rn <= {BIGRAM_TOPK} AND head_total >= {BIGRAM_MIN_HEAD}
    """,
    tier="C",
    doc=f"Bigram conditional-probability table: for every head word "
    f"seen >= {BIGRAM_MIN_HEAD} times, its top-{BIGRAM_TOPK} next "
    "words with P(next | head) in exact floor-divided ppm — the "
    "minimal language model (next-word table) and the data behind "
    "autocomplete, boilerplate detection ('click here to' spiking = "
    "template contamination), and BPE-merge sanity checks. Distinct "
    "from q_bpe_pair_counts, which counts raw pairs: this NORMALIZES "
    "per head and ranks within it. Shape: one pair explode, one "
    "(head,next) partial-agg shuffle; the per-head total and rank "
    "windows both ride the PAIR-COUNT table on the same head "
    "partitioning (one sort, bounded by observed-bigram cardinality, "
    "never by corpus size). All integers until the single ppm "
    "division.",
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "")
    t = F.split(F.lower("text"), r"\s+")
    n = F.size(t)
    zipped = F.arrays_zip(
        F.slice(t, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(n - 1, F.lit(0))),
    )
    pairs = (
        docs.select(F.explode(zipped).alias("p"))
        .select(F.col("p.0").alias("head"), F.col("p.1").alias("nxt"))
        .where((F.col("head") != "") & (F.col("nxt") != ""))
    )
    c = pairs.groupBy("head", "nxt").agg(F.count("*").cast("long").alias("cnt"))
    w_tot = Window.partitionBy("head")
    w_rank = Window.partitionBy("head").orderBy(F.col("cnt").desc(), "nxt")
    h = c.select(
        "head",
        "nxt",
        "cnt",
        F.sum("cnt").over(w_tot).cast("long").alias("head_total"),
        F.row_number().over(w_rank).cast("int").alias("rn"),
    )
    return (
        h.where(
            (F.col("rn") <= BIGRAM_TOPK)
            & (F.col("head_total") >= BIGRAM_MIN_HEAD)
        )
        .select(
            "head",
            "nxt",
            "cnt",
            "head_total",
            F.expr("cnt * 1000000 div head_total").cast("long").alias("cond_ppm"),
        )
    )


#: q_quality_buckets: per-language quality terciles (CCNet-style).
QUALITY_N_BUCKETS = 3


@register(
    "q_quality_buckets",
    oracle=f"""
    WITH {_RARITY_CTES},
    lab AS (SELECT r.doc_id, d.lang, r.mean_rarity_milli,
                   ntile({QUALITY_N_BUCKETS}) OVER
                     (PARTITION BY d.lang
                      ORDER BY r.mean_rarity_milli, r.doc_id) AS b
            FROM rarity r JOIN documents d USING (doc_id))
    SELECT doc_id, lang, mean_rarity_milli,
           CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS bucket
    FROM lab
    """,
    tier="C",
    doc="CCNet-style language-conditional quality bucketing (Wenzek et "
    "al. 2020: per-language head/middle/tail by LM perplexity — the "
    "standard pretraining-corpus stratification for mixing and "
    "curriculum): every document is labeled by its per-LANGUAGE "
    "tercile of the exact-integer rarity score (q_token_rarity's "
    "perplexity proxy, shared CTE — the two provably score documents "
    "identically), lowest-rarity third = 'head' (most fluent). "
    "Determinism: ntile over the unique (score, doc_id) sort key is "
    "fully order-determined, so labels are identical across engines — "
    "no float quantile boundary, no tie ambiguity. Plan: the rarity "
    "lineage (one explode, one vocab agg, one skew-split join), one "
    "doc_id join back to lang, one per-lang ntile window. Scale: the "
    "exact per-lang ntile sorts each language's docs; languages are "
    "few and Zipf-sized, so the documented planet-scale swap is the "
    "q_equidepth_histogram discipline — and because the score is an "
    "INTEGER (milli-units), the swap is EXACT here: per-(lang, score) "
    "counts, cumulative rank over the small value-domain table, "
    "broadcast bucket bounds, map-only label — no sketch "
    "approximation needed.",
)
def q_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    rarity = token_rarity_frame(docs)
    lab = rarity.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy("mean_rarity_milli", "doc_id")
    b = F.ntile(QUALITY_N_BUCKETS).over(w)
    return lab.select(
        "doc_id",
        "lang",
        "mean_rarity_milli",
        F.when(b == 1, "head").when(b == 2, "middle").otherwise("tail").alias("bucket"),
    )


@register(
    "q_url_normalize",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             CASE doc_id % 4
                  WHEN 0 THEN 'HTTPS://WWW.Ex' || CAST(doc_id % 21 AS VARCHAR)
                       || '.COM/Items/' || CAST(doc_id % 21 AS VARCHAR) || '/'
                  WHEN 1 THEN 'http://ex' || CAST(doc_id % 21 AS VARCHAR)
                       || '.com/Items/' || CAST(doc_id % 21 AS VARCHAR)
                       || '?utm_source=feed&ref=' || CAST(doc_id % 21 AS VARCHAR)
                  WHEN 2 THEN 'http://www.ex' || CAST(doc_id % 21 AS VARCHAR)
                       || '.com/Items/' || CAST(doc_id % 21 AS VARCHAR) || '#frag'
                  ELSE 'https://ex' || CAST(doc_id % 21 AS VARCHAR)
                       || '.com/Items/' || CAST(doc_id % 21 AS VARCHAR)
                       || '/?utm_source=feed&utm_medium=rss'
             END AS url
      FROM documents),
    canon AS (
      SELECT doc_id, url,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(regexp_replace(regexp_replace(lower(url),
                 '^https?://', ''),
                 '^www\\.', ''),
                 '#.*$', '', 'g'),
                 '[?&]utm_[^&]*', '', 'g'),
                 '^([^?&]*)&', '\\1?'),
                 '[?&]$', ''),
                 '/$', '') AS url_canonical
      FROM raw)
    SELECT url_canonical,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_forms,
           MIN(doc_id) AS keeper_doc
    FROM canon
    GROUP BY url_canonical
    """,
    tier="C",
    doc="URL canonicalization + exact URL-level dedup — the stage a "
    "crawl pipeline runs BEFORE fetching or content dedup (the same "
    "page arrives as http/https, with/without www, with tracking "
    "params, trailing slashes, fragments): lowercase → strip scheme → "
    "strip www. → drop fragment → drop ALL utm_* tracking params "
    "(global regex on both engines) → promote a dangling leading '&' "
    "to '?' when the stripped utm was the first param → drop a bare "
    "trailing separator → strip trailing slash, then group by the "
    "canonical form reporting duplicate count, distinct raw spellings "
    "merged, and the keep-lowest-id survivor (q_dedup_keep_best's "
    "policy at URL granularity). The raw URL column is synthesized "
    "in-plan as a deterministic function of doc_id (the codec-fixture "
    "pattern: generate → process → verify; doc_id mod 21 buckets with "
    "four mod-4 raw variants per bucket — trailing-slash uppercase, "
    "utm-first-then-real-param, www+fragment, and consecutive-utm — "
    "21 and 4 coprime, so every bucket collects all four shapes and "
    "the oracle hash proves the canonicalizer merges the three "
    "param-free variants while the surviving ref= param keeps its own "
    "group and exercises the '&'→'?' promotion) — "
    "in production the column comes from the crawl index and the "
    "normalize→groupBy plan is unchanged. Scale: map-only regex "
    "chain in whole-stage codegen, one partial-aggregating shuffle "
    "on the canonical key; hot canonical URLs (link farms) are "
    "absorbed by map-side combine exactly like any hot groupBy key.",
)
def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b = F.pmod(F.col("doc_id"), F.lit(21)).cast("string")
    m4 = F.pmod(F.col("doc_id"), F.lit(4))
    raw = (
        F.when(m4 == 0, F.concat(F.lit("HTTPS://WWW.Ex"), b, F.lit(".COM/Items/"), b, F.lit("/")))
        .when(
            m4 == 1,
            F.concat(F.lit("http://ex"), b, F.lit(".com/Items/"), b, F.lit("?utm_source=feed&ref="), b),
        )
        .when(m4 == 2, F.concat(F.lit("http://www.ex"), b, F.lit(".com/Items/"), b, F.lit("#frag")))
        .otherwise(
            F.concat(
                F.lit("https://ex"), b, F.lit(".com/Items/"), b,
                F.lit("/?utm_source=feed&utm_medium=rss"),
            )
        )
    )
    out = docs.select("doc_id", raw.alias("url"))
    # lower first, then the replace chain — same order as the oracle.
    # Spark's regexp_replace is global; the DuckDB oracle passes 'g'
    # on the two content patterns (fragment, utm) so both engines
    # strip EVERY occurrence — consecutive utm params each carry their
    # own [?&] prefix, so one global pass removes them all. When the
    # FIRST param was a utm, the survivor is left '&'-prefixed with no
    # '?': the promotion step rewrites that first dangling '&' to '?'
    # (anchored ^([^?&]*)& — at most one match, so global vs first-
    # match semantics agree), and a bare trailing separator is dropped
    # before the trailing-slash strip.
    c = F.lower(F.col("url"))
    for pat in ["^https?://", "^www\\.", "#.*$", "[?&]utm_[^&]*"]:
        c = F.regexp_replace(c, pat, "")
    c = F.regexp_replace(c, "^([^?&]*)&", "$1?")
    c = F.regexp_replace(c, "[?&]$", "")
    c = F.regexp_replace(c, "/$", "")
    return (
        out.select("doc_id", "url", c.alias("url_canonical"))
        .groupBy("url_canonical")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("url").cast("long").alias("n_raw_forms"),
            F.min("doc_id").alias("keeper_doc"),
        )
    )
