"""Vector similarity operators over `array<float>` embedding columns.

All vector math is native Column algebra (`zip_with` + `aggregate` fold
in doubles) — JVM-side, no Python in the loop. Strategies:

- **brute-force top-k** (the correctness baseline): broadcast the (tiny)
  query side against the full corpus; global top-k via orderBy+limit →
  TakeOrderedAndProject (per-partition heaps, driver merges k rows).
  Linear scan per query — right up to ~10^7 corpus rows per executor
  core, and embarrassingly parallel beyond.
- **IVF (the scale path)**: assign every vector to its nearest centroid
  once (broadcast centroids), then answer queries inside the query's
  cell only — scan cost divided by n_cells at a small recall cost.
  Cell assignment is also how you'd partition the parquet at rest.
- **sign-random-projection (SRP) LSH** for the pairwise near-dup join:
  a deterministic md5-derived ±1 hyperplane matrix maps each vector to
  a bit signature; banded signatures give candidate pairs inside
  (band, key) buckets (the same band_rows step as the MinHash bands in
  operators/dedup.py), and exact cosine is verified on candidates only.
  Because the hyperplanes are md5-derived constants, the whole pipeline
  is reproducible in the DuckDB oracle.
- **random-hyperplane LSH** via MLlib BucketedRandomProjectionLSH for
  the approximate join variant (plans/similarity.py, whose oracle pins
  the returned-count and recall booleans).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from news_categorization_big_data_spark.functions.groupcollapse import (
    expand_group_pairs,
    grouped_ids,
    member_pairs,
)
from news_categorization_big_data_spark.functions.partitioning import fan_out
from news_categorization_big_data_spark.operators.dedup import LSH_MAX_DF, band_rows


def dot(a: Column | str, b: Column | str) -> Column:
    """Double-precision dot product of two float-array columns."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def measurable(a: Column | str) -> Column:
    """True iff the vector has cosine geometry at all: every component
    finite AND at least one non-zero. A zero-norm vector's cosine is
    0/0 — a hard DIVIDE_BY_ZERO under ANSI (Spark 4 default) where
    DuckDB quietly yields NULL, and a NaN/Inf component makes every
    downstream comparison engine-divergent (Spark NaN>x is false,
    DuckDB NaN sorts greatest). Both classes are UNMEASURABLE — they
    can never be a near-duplicate of anything — so the cosine operators
    drop them up front and their oracles mirror the same filter
    (O_MEASURABLE below); the r13 KMeans drop-poisoned-vectors guard
    and the q_embedding_quantize pois→NULL contract are the precedent.
    Found by the r16 group-collapse fixture (a DUPLICATED zero vector
    crashed q_dedup_embedding/q_semantic_dedup — any 100 TB corpus
    carries both classes)."""
    v = F.col(a) if isinstance(a, str) else a
    finite = ~F.exists(
        v,
        lambda x: F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == float("inf")),
    )
    nonzero = F.exists(v, lambda x: x.cast("double") != 0.0)
    return finite & nonzero


#: DuckDB mirror of ``measurable`` — format with the vector expression.
O_MEASURABLE = (
    "(len(list_filter({v}, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0"
    " AND len(list_filter({v}, x -> CAST(x AS DOUBLE) <> 0)) > 0)"
)


def l2_sq(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance fold over two ALREADY-double array columns
    (no per-element cast inside — both callers cast/construct double
    arrays first, and adding a cast would change the expression tree
    the stamped hashes pin). The exact-reference fold shared by the
    MLlib semi-oracles (q_ml_kmeans fixed-init WSS, q_sim_ann_lsh
    brute-force top-k), kept in ONE place so both semi-oracle
    reference computations stay the same expression tree."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "q_emb",
) -> DataFrame:
    """Top-k cosine neighbors of a single broadcast query vector.

    Returns (id, score, nn_rank) sorted best-first. Deterministic: ties
    broken on the id column.
    """
    scored = fan_out(corpus).crossJoin(F.broadcast(query)).select(
        id_col, cosine(vec_col, query_vec_col).alias("_score")
    )
    top = scored.orderBy(F.desc("_score"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("_score"), F.asc(id_col))  # k rows only — safe
    return top.select(
        id_col, F.round("_score", 4).alias("score"), F.row_number().over(w).alias("nn_rank")
    )


#: SRP signature width and banding for the embedding near-dup join.
#: P(bit agrees) = 1 - θ/π; a pair is a candidate iff all bits of ≥1 band
#: agree, i.e. P = 1 - (1 - p^r)^b with r = BITS/BANDS. With 16 bits in
#: 4 bands of 4: recall ≈ 0.95 at cosine 0.9, ≈ 0.45 at cosine 0.35, and
#: an orthogonal pair is a candidate with P ≈ 0.23 — the work drops ~4×
#: vs all-pairs while catching production-threshold (≥0.8) near-dups
#: reliably. Raise BITS (and bands) for a sharper curve at corpus scale.
SRP_BITS = 16
SRP_BANDS = 4


def srp_signs(bits: int = SRP_BITS, dim: int = 64) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix, md5-derived per (bit, coord).

    The constants — not the generator — are the operator contract: the
    DuckDB oracle bakes the same matrix into its SQL, so both engines
    compute bit-identical signatures.
    """
    return [
        [
            1.0 if int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:8], 16) & 1 else -1.0
            for i in range(dim)
        ]
        for j in range(bits)
    ]


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = SRP_BITS,
    bands: int = SRP_BANDS,
    dim: int = 64,
) -> DataFrame:
    """(vec_a, vec_b, cos_sim): SRP-LSH candidates verified by exact cosine.

    The scale contract: candidate generation is equi-joins on compact
    band keys (linear shuffle), and the exact cosine fold runs on
    candidate pairs only — never on the full n(n-1)/2 cross product.
    Candidates re-join the vector table on the id key; AQE broadcasts
    the (small) candidate side.
    """
    # r15 (guide §8: decide on a lightweight proxy, multiply heavy rows
    # out once at the end): band over DISTINCT VECTORS, not vector rows.
    # Exact-duplicate embeddings (the sf1 fixture copies every
    # embedding verbatim 10x) share every band key, so per-row banding
    # made the quadratic in-bucket pair explode AND the verify join that
    # ships two 64-double arrays per candidate scale with the DUPLICATED
    # count (measured: 73 s at sf1). Grouping rows by vector first
    # shrinks the quadratic by the duplication factor squared and runs
    # the exact cosine once per DISTINCT pair. The output is IDENTICAL
    # to the per-row path, including the LSH_MAX_DF cap the oracle
    # mirrors:
    # - bucket population = sum of group sizes, the same doc count the
    #   per-row window counted, so cap decisions are unchanged;
    # - intra-group pairs (identical vectors, candidates via every
    #   shared bucket per-row) are gated on the group surviving in ≥1
    #   uncapped bucket — exactly the per-row condition;
    # - the verify expression is unchanged; intra pairs evaluate it on
    #   (v, v) — same doubles as the per-row path, never a synthetic 1;
    # - group id = min member id; groups are disjoint, so least/greatest
    #   expansion emits each unordered pair exactly once.
    # Proven pair-for-pair equal to the per-row path (exceptAll both
    # ways = 0) at sf0.1 and sf1, and oracle-MATCH.
    # Domain guard (see measurable): SRP bit signs and the cosine verify
    # are only defined over finite, non-zero vectors — a zero-norm dup
    # pair was a measured ANSI DIVIDE_BY_ZERO crash here, and poisoned
    # vectors' sign bits diverge cross-engine. Oracle mirrors the filter.
    valid = emb.where(
        (F.size(F.col(vec_col)) == dim) & measurable(vec_col)
    )
    groups = (
        grouped_ids(fan_out(valid), (vec_col,), id_col)
        .withColumn("_gsz", F.size("_ids").cast("long"))
        .withColumn("_gid", F.col("_ids")[0])
    )
    signs = srp_signs(bits, dim)
    bitcols = [
        (dot(vec_col, F.array(*[F.lit(s) for s in signs[j]])) > 0)
        .cast("int")
        .alias(f"bit{j}")
        for j in range(bits)
    ]
    # force=True: groups sits on an AQE-coalescible groupBy exchange
    # (coalesced to ~1 partition at runtime — the static probe can't see
    # that), and the 24 interpreted dot-folds per row are the CPU-heavy
    # stage; the forced user-numbered width sticks (the documented
    # fan_out force case).
    groups = fan_out(groups.withColumn("_na", norm(vec_col)), force=True)
    sig = groups.select("_gid", "_gsz", vec_col, "_na", "_ids", *bitcols)
    rows = bits // bands
    band_keys = [
        F.concat_ws(
            "", *[F.col(f"bit{j}").cast("string") for j in range(b * rows, (b + 1) * rows)]
        )
        for b in range(bands)
    ]
    member = F.struct(
        F.col("_gid").alias("g"),
        F.col(vec_col).alias("v"),
        F.col("_na").alias("n"),
        F.col("_ids").alias("i"),
    )
    banded = band_rows(
        sig, band_keys, [member.alias("_m"), F.col("_gsz")], LSH_MAX_DF, weight="_gsz"
    )
    # Verify INSIDE the buckets: members carry (vector, norm, ids), so
    # the exact cosine runs at pair-generation time and nothing is ever
    # joined back — the per-row path shipped two 64-double arrays per
    # candidate through two shuffles (and the candidate table's widened
    # static estimate made those joins a broadcast hazard, the r14
    # class). The threshold filter runs BEFORE the cross-bucket
    # distinct, so only qualifying (group, group, sim) triples shuffle.
    buckets = banded.groupBy("band_idx", "band_key").agg(
        F.collect_list("_m").alias("_ms")
    )
    sim = dot(F.col("_a.v"), F.col("_b.v")) / (F.col("_a.n") * F.col("_b.n"))
    qual = (
        member_pairs(buckets, "_ms", field="g")
        .withColumn("_sim", sim)
        .where(F.col("_sim") >= threshold)
        .select(
            F.col("_a.g").alias("gid_a"),
            F.col("_b.g").alias("gid_b"),
            F.round(F.col("_sim"), 4).alias("cos_sim"),
            F.col("_a.i").alias("_idsa"),
            F.col("_b.i").alias("_idsb"),
        )
        .distinct()
    )
    inter = expand_group_pairs(qual, "vec_a", "vec_b", "cos_sim")
    # Intra-group pairs keep their own form: the self-similarity is
    # verified once per group and carried through the member explode.
    alive = banded.select(F.col("_m.g").alias("_gid")).distinct()
    sim_self = dot("emb_a", "emb_b") / (F.col("_na") * F.col("_nb"))
    intra = (
        groups.join(alive, "_gid")
        .where(F.size("_ids") > 1)
        .select(
            F.col(vec_col).alias("emb_a"),
            F.col(vec_col).alias("emb_b"),
            F.col("_na"),
            F.col("_na").alias("_nb"),
            F.col("_ids"),
        )
        .withColumn("_sim", sim_self)
        .where(F.col("_sim") >= threshold)
        .select(F.explode("_ids").alias("_a"), "_ids", F.round(F.col("_sim"), 4).alias("cos_sim"))
        .select("_a", F.explode("_ids").alias("_b"), "cos_sim")
        .where(F.col("_a") < F.col("_b"))
        .select(F.col("_a").alias("vec_a"), F.col("_b").alias("vec_b"), "cos_sim")
    )
    return inter.unionByName(intra)


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "c_emb",
) -> DataFrame:
    """IVF cell assignment: nearest centroid by cosine (ties → lowest id).

    One broadcast of the centroid table; no shuffle of the corpus.
    """
    scored = fan_out(corpus).crossJoin(F.broadcast(centroids)).withColumn(
        "_cscore", cosine(vec_col, cent_vec_col)
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_cscore"), F.asc(cent_id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_cscore", cent_vec_col)
    )
