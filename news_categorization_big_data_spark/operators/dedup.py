"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

The scale architecture (100 TB of documents):

- **exact**: hash the text to a 16-byte key, groupBy the hash — the
  shuffle carries keys, never documents.
- **n-gram Jaccard (exact near-dup)**: each document's sorted distinct
  shingle hashes; only each set's PPJoin prefix is bucketed by hash,
  candidate pairs come from inside the buckets, and an exact set
  intersection verifies them. The bucket key distribution is the
  shingle document-frequency distribution — cap it (drop buckets
  holding > max_df docs, which carry no discriminative signal) so no
  reducer sees a quadratic bucket.
- **MinHash + LSH (approximate near-dup, the scale path)**: fixed-size
  signature per doc (k min-hashes), banded into b bands; candidate pairs
  come from (band_index, band_hash) buckets — linear shuffle, no
  pairwise work outside buckets. Jaccard is then verified exactly on the
  candidates only.
- **SimHash**: per-doc sketch whose Hamming distance approximates
  cosine over the token multiset; candidates agree exactly on ≥1 of
  the sketch's bit-blocks (pigeonhole banding), and every candidate's
  distance is verified.

All hashes are md5-derived (functions/hashing.py) so every stage is
reproducible in the DuckDB oracle; swap hash60 → xxhash64 for ~3-5x
faster hashing when cross-engine reproducibility isn't required.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from news_categorization_big_data_spark.functions.groupcollapse import (
    expand_group_pairs,
    grouped_ids,
    member_pairs,
)
from news_categorization_big_data_spark.functions.hashing import (
    hash60,
    hash60_pair,
    hash_bits,
)
from news_categorization_big_data_spark.functions.partitioning import fan_out
from news_categorization_big_data_spark.functions.text_exprs import word_shingles

#: MinHash signature length and banding (b bands of r rows: b*r = k).
#: A pair with true Jaccard j becomes a candidate with
#: P = 1 - (1 - j^r)^b, an S-curve whose threshold sits near
#: (1/b)^(1/r). Defaults (k=8, b=2 → r=4): threshold ≈ 0.84 — matched
#: to the registered q_dedup_near contract (planted dups at j≈0.98:
#: P ≈ 0.995; random pairs j≈0.05: P ≈ 1e-5). For 100-TB corpora at a
#: softer threshold, scale BOTH knobs — e.g. k=128, b=32 (r=4,
#: threshold ≈ 0.42) or k=128, b=16 (r=8, threshold ≈ 0.71) — every
#: operator below takes (k, bands) as parameters; the constants here
#: are only the oracle-checked default. Recall is asserted at a second
#: setting in tests/test_scale_ops.py.
MINHASH_K = 8
MINHASH_BANDS = 2


def band_rows(
    frame: DataFrame,
    band_keys: list,
    carry: list,
    max_df: int | None = None,
    weight: str | None = None,
) -> DataFrame:
    """(carry..., band_idx, band_key) rows: one per band of each row of
    ``frame``, with the ``max_df`` bucket skew cap — the banding step
    of every banded-LSH path (banded_pairs, lsh_probe_pairs,
    operators/similarity.py:embedding_near_dup_pairs).

    ``max_df`` is the SKEW CAP (round-6 VERDICT item): a
    boilerplate/template cluster of m near-identical docs puts all m
    ids into one band bucket and would emit O(m^2) pairs in a single
    task. Buckets holding more than max_df docs are dropped ENTIRELY
    (recall trade, never a wrong pair — the same semantics as the
    jaccard prefix cap). A row counts ``weight`` docs when that column
    is given (a collapsed group row counts its members; the column is
    dropped with the count), else one. Physical shape matters at 100
    TB: the bucket size is a window count over the SAME (band_idx,
    band_key) shuffle the bucket aggregation or join already needs —
    Catalyst reuses the exchange, so the corpus is scanned and
    min-hashed exactly ONCE and the big side shuffled exactly once
    (measured: a separate count+broadcast-anti-join branch re-scans and
    re-hashes the whole corpus, 2 scans / 5 exchanges vs 1 / 3 here).
    WindowExec buffers each bucket spill-safely (UnsafeExternalSorter),
    and the filter runs BEFORE any collect_list, so an over-cap
    bucket's member array is never aggregated into memory — the failure
    mode of filtering on size(_ids) after the fact. Pick max_df >> the
    largest true near-dup cluster you expect (LSH_MAX_DF's doc); a
    capped bucket is template sludge whose pairs a curation pipeline
    removes wholesale by other means."""
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band_idx"), key.alias("band_key"))
            for b, key in enumerate(band_keys)
        ]
    )
    exploded = frame.select(*carry, F.explode(band_structs).alias("b"))
    banded = exploded.select(*exploded.columns[:-1], "b.band_idx", "b.band_key")
    if max_df is not None:
        w = Window.partitionBy("band_idx", "band_key")
        n = F.count(F.lit(1)) if weight is None else F.sum(weight)
        banded = (
            banded.withColumn("_bn", n.over(w))
            .where(F.col("_bn") <= max_df)
            .drop("_bn", *([weight] if weight else []))
        )
    return banded


def banded_pairs(
    signatures: DataFrame,
    band_keys: list,
    id_col: str,
    out_a: str,
    out_b: str,
    max_df: int | None = None,
) -> DataFrame:
    """Generic banded-LSH candidate generator: one Column expression per
    band key, banded with the skew cap (band_rows), grouped into
    buckets, distinct pairs emitted inside buckets only — the shared
    skeleton of MinHash banding (lsh_candidate_pairs) and SimHash
    block banding (simhash_hamming_pairs)."""
    banded = band_rows(signatures, band_keys, [id_col], max_df)
    buckets = banded.groupBy("band_idx", "band_key").agg(
        F.collect_list(id_col).alias("_ids")
    )
    return member_pairs(buckets, "_ids", out_a, out_b).distinct()


def minhash_band_keys(k: int, bands: int) -> list:
    """One band key per band: the band's k/bands min-hashes joined
    with '-' (the oracle's band key spells the same string)."""
    rows = k // bands
    return [
        F.concat_ws("-", *[f"mh{j}" for j in range(b * rows, (b + 1) * rows)])
        for b in range(bands)
    ]


def shingle_table(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(id, shingle) rows — distinct k-word shingles per document.

    fan_out first: shingling + hashing is the CPU-heavy stage, and a
    single-file input would otherwise run it on one core.
    """
    return fan_out(docs).select(id_col, F.explode(word_shingles(text_col, k)).alias("shingle"))


def shingle_hash_sets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    persist_sets: bool = False,
) -> DataFrame:
    """(id, _sz, _hs): each document's distinct k-word shingle hashes,
    sorted ascending (the PPJoin global order), and their count — the
    set table jaccard_pairs and containment_pairs prefix, bucket and
    verify. One narrow pass over ``docs``.

    ``persist_sets`` pins the table: it feeds every candidate side and
    both verify sides, and without persistence the narrow shingle+hash
    projection recomputes per consumer. Measured (SCALE.md):
    materializing it once is 1.4x at sf0.1 and 2.2x at the sf1 decade,
    output-identical — the registered plans pass True. MEMORY_AND_DISK
    spills, never OOMs. The operator default stays False so callers
    composing their own pipelines opt in deliberately. pin() scopes the
    cache entry to the enclosing REGISTERED query
    (functions/cachepin.py): any later registered build releases it. A
    library caller outside a registered query who wants to own the
    persist lifetime should pass persist_sets=False and
    persist/unpersist the returned frame itself (ADVICE round 9) — with
    True, a subsequent registered build downgrades the cache to a
    lineage recompute (never wrong, possibly slow), and if no
    registered build ever runs the pin lasts until session end.
    """
    hs = F.array_sort(
        F.array_distinct(
            F.transform(word_shingles(text_col, k), lambda s: hash60(s))
        )
    )
    # long, not int: the candidate length filters multiply _sz by 1e6
    # (ppm arithmetic) — int32 overflows for any doc with >= 2148
    # distinct shingles (~10 KB of text; ANSI hard error, found by the
    # /tmp/skew3 giant-doc fixture). One cast here keeps every
    # downstream product in int64.
    sized = fan_out(docs).select(
        F.col(id_col), F.size(hs).cast("long").alias("_sz"), hs.alias("_hs")
    )
    if persist_sets:
        from news_categorization_big_data_spark.functions.cachepin import pin

        sized = pin(sized)
    return sized


def jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_df: int | None = None,
    persist_sets: bool = False,
) -> DataFrame:
    """n-gram Jaccard near-duplicate pairs: (doc_a, doc_b, jaccard).

    Candidate generation uses PREFIX FILTERING (the AllPairs/PPJoin
    family — Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07): with
    shingle-hashes sorted ascending as the canonical global order, any
    pair with J ≥ t must share an element inside each side's first
    ``sz - floor(t·sz) + 1`` hashes. Only those prefixes are exploded
    into buckets — at t=0.8 that is ~20% of the rows and ~4% of the
    in-bucket pair work — and exact recall is GUARANTEED by the prefix
    lemma (|x∩y| ≥ ⌈t·max(|x|,|y|)⌉ forces a shared prefix element;
    floor lengthens the prefix vs the tight ⌈⌉ bound, never shortens).
    Candidates are then verified exactly: join back to the sorted hash
    sets, jaccard = |array_intersect| / union — so the reported values
    are the true jaccard, not a bucket-count approximation.

    ``max_df`` caps PREFIX-bucket document frequency (skew cap — at
    corpus scale a stopword-ish shingle whose hash lands in many
    prefixes would otherwise create a quadratic bucket). Pairs whose
    only prefix-shared shingles are capped are dropped entirely (recall
    trade, never a wrong value). Mirror the identical cap in any oracle.

    Physical shape: one narrow pass builds (id, sz, sorted-hash-set);
    one shuffle buckets the exploded prefixes (8-byte hash keys); pairs
    emit inside buckets only; the verify join touches candidates — a
    vanishing fraction of the corpus — and AQE picks its strategy.
    """
    sized = shingle_hash_sets(docs, text_col, id_col, k, persist_sets)
    prefix_len = (F.col("_sz") - F.floor(F.lit(threshold) * F.col("_sz")) + 1).cast("int")
    pref = sized.select(
        id_col,
        "_sz",
        F.posexplode(F.slice("_hs", 1, prefix_len)).alias("_p", "_h"),
    )
    buckets = pref.groupBy("_h").agg(
        F.collect_list(
            F.struct(
                F.col(id_col).alias("i"), F.col("_sz").alias("s"), F.col("_p").alias("p")
            )
        ).alias("_ids")
    )
    if max_df is not None:
        buckets = buckets.where(F.size("_ids") <= max_df)
    # LENGTH FILTER (PPJoin): J = |∩|/|∪| ≤ min(sz)/max(sz), so J ≥ t
    # forces min ≥ t·max — prune inside the buckets, before the pair
    # ever reaches the (expensive) set-intersection verify join. Sound:
    # pruned pairs cannot pass verification, so the RESULT is unchanged
    # and the oracle needs no mirror. Integer arithmetic (t scaled to
    # parts-per-million) so a pair at exactly J = t is never lost to a
    # float boundary (0.8·5 in binary is 4.0000000000000002 > 4).
    #
    # POSITIONAL FILTER (PPJoin's second prune, same soundness
    # argument): a shared prefix hash at 0-based sorted positions
    # (p_a, p_b) bounds the overlap from above by
    # ub = 1 + min(sz_a − p_a − 1, sz_b − p_b − 1), and J ≥ t needs
    # o ≥ t·(sz_a + sz_b)/(1+t). Occurrences failing ub·(1+t) ≥
    # t·(sz_a+sz_b) are dropped BEFORE the distinct; a true pair always
    # survives because its FIRST common element (in the shared sorted
    # order) sits inside both prefixes (prefix lemma) with no common
    # elements before it, so its ub ≥ o. Dissimilar pairs share only
    # deep-position prefix hashes and die here: measured at sf0.1 this
    # cuts verify candidates 85k → 30k with the output byte-identical
    # (the survivors share shallow prefix positions — near-threshold
    # lookalikes only the exact intersection can separate).
    t_ppm = round(threshold * 1_000_000)
    ub = F.lit(1) + F.least(
        F.col("_a.s") - F.col("_a.p") - 1, F.col("_b.s") - F.col("_b.p") - 1
    )
    cand = (
        member_pairs(buckets, "_ids", field="i")
        .where(
            F.least("_a.s", "_b.s") * F.lit(1_000_000)
            >= F.lit(t_ppm) * F.greatest("_a.s", "_b.s")
        )
        .where(
            ub * F.lit(1_000_000 + t_ppm)
            >= F.lit(t_ppm) * (F.col("_a.s") + F.col("_b.s"))
        )
        .select(F.col("_a.i").alias("doc_a"), F.col("_b.i").alias("doc_b"))
        .distinct()
    )
    sa = sized.select(
        F.col(id_col).alias("doc_a"), F.col("_sz").alias("_sza"), F.col("_hs").alias("_hsa")
    )
    sb = sized.select(
        F.col(id_col).alias("doc_b"), F.col("_sz").alias("_szb"), F.col("_hs").alias("_hsb")
    )
    inter = F.size(F.array_intersect("_hsa", "_hsb"))
    jac = inter.cast("double") / (F.col("_sza") + F.col("_szb") - inter)
    # shuffle_merge hints: same reason as containment_pairs below — the
    # static size estimate of the pinned sets table is garbage (text →
    # hash-array widening is invisible to the estimator), so the planner
    # was broadcasting the full (id, sz, hash-array) table as a verify
    # build side (seen on the round-11 skew fixture; the containment
    # twin of this join was a measured broadcast-OOM there). The sets
    # table is O(corpus) — at 100 TB it is never broadcastable; SMJ is
    # spill-safe and AQE still skew-splits it.
    return (
        cand.join(sa.hint("shuffle_merge"), "doc_a")
        .join(sb.hint("shuffle_merge"), "doc_b")
        .where(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


#: Modulus of the double-hash family: a PRIME just under 2^50
#: (2^50 − 27, Miller-Rabin-verified). Two constraints meet here:
#:
#: 1. **It must be a modulus at all** — g_j = h1 + j·h2m WITHOUT a wrap
#:    is monotone in j, so one shingle holding both a small h1 and a
#:    small h2m wins every coordinate and the "k" minhashes collapse to
#:    ~2 independent ones (argmin h1 and argmin h2m), silently wrecking
#:    banded-LSH recall. The mod-P wrap re-randomizes the argmin per j —
#:    the actual Kirsch-Mitzenberger construction.
#: 2. **Overflow headroom**: h1 < 2^60 and j·h2m < k·2^50 keep
#:    h1 + j·h2m < 2^63 for every k ≤ 7168, so the whole documented
#:    parameterization range (k up to 128+ for 100-TB configs) is
#:    overflow-free in BOTH engines (Spark would wrap, DuckDB would
#:    raise — either way a silent-or-loud divergence). Guarded below.
MINHASH_PRIME = (1 << 50) - 27
_MINHASH_MAX_K = ((1 << 63) - (1 << 60)) // (1 << 50)  # 7168


def minhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = MINHASH_K) -> DataFrame:
    """Per-document MinHash signature: (id, mh0..mh{k-1}).

    One explode + one groupBy: the shuffle carries (id, shingle-hashes)
    once and computes all k min-hashes as parallel aggregates of the
    same rows. The k hash functions are Kirsch-Mitzenberger double
    hashes g_j = (h1 + j·(h2 mod P)) mod P (P prime, MINHASH_PRIME)
    where h1/h2 are the two halves of ONE md5 digest per shingle
    (hash60_pair) — md5 is the dominant
    per-row cost, so the signature stage hashes each shingle exactly
    once regardless of k (the standard construction, e.g. Mash). The
    halves are PROJECTED before the groupBy so the digest is provably
    evaluated once, not re-derived inside each of the k aggregate
    expressions. Docs with no shingles get no row (they can't be
    near-duplicates).
    """
    if k > _MINHASH_MAX_K:
        raise ValueError(
            f"k={k} exceeds the int64-overflow-safe bound {_MINHASH_MAX_K} "
            f"for the double-hash family ((h1 + j·(h2 % P)) % P)"
        )
    sh = shingle_table(docs, text_col, id_col)
    h1, h2 = hash60_pair("shingle")
    hashed = sh.select(
        id_col, h1.alias("_h1"), (h2 % F.lit(MINHASH_PRIME)).alias("_h2m")
    )
    aggs = [
        F.min((F.col("_h1") + F.lit(j) * F.col("_h2m")) % F.lit(MINHASH_PRIME)).alias(
            f"mh{j}"
        )
        for j in range(k)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


#: Default band-bucket skew cap for the MinHash/SRP LSH paths. True
#: near-dup clusters (mirror sites, syndicated articles) run tens to
#: low hundreds of members; 10_000 sits two orders of magnitude above
#: that, so the cap NEVER binds on organic similarity — it only fires
#: on template sludge (boilerplate pages, empty-ish docs sharing a
#: degenerate signature), exactly the buckets whose O(m^2) pairs would
#: dominate the stage at crawl scale. Capped buckets are dropped whole;
#: oracles mirror the identical HAVING filter.
LSH_MAX_DF = 10_000


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    max_df: int | None = LSH_MAX_DF,
) -> DataFrame:
    """Banded-LSH candidate pairs: docs agreeing on ALL minhashes of ≥1 band.

    The signature table is exploded to one (band_idx, band_key, id) row
    per band, grouped into buckets, and pairs are generated inside each
    bucket — a single shuffle on the compact band key, the signature
    subtree evaluated once, and no pairwise work outside hash buckets.
    That shape is what makes MinHash dedup linear-ish at corpus scale;
    the ``max_df`` bucket cap (default LSH_MAX_DF, see banded_pairs)
    bounds the one residual quadratic term.
    """
    return banded_pairs(
        signatures, minhash_band_keys(k, bands), id_col, "doc_a", "doc_b", max_df=max_df
    )


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """Per-document SimHash sketch: (id, simhash).

    Each distinct token votes +1/-1 on each of `bits` lanes according to
    its md5-derived bit pattern; the sketch sets lanes with positive
    totals. One explode + one groupBy with `bits` conditional-sum
    aggregates — same shuffle shape as minhash_signatures.
    """
    toks = fan_out(docs).select(
        id_col, F.explode(F.array_distinct(F.split(text_col, r"\s+"))).alias("token")
    ).where(F.col("token") != "")
    # Materialize the md5-derived bit pattern ONCE per token row: the
    # `bits` lane aggregates each reference it, and Spark's aggregate
    # codegen does not common-subexpression across aggregate functions
    # — inlining the hash expression re-ran md5 `bits` times per row
    # (measured 13.3 s → 2.6 s at sf0.1 for the 32-bit sketch).
    hashed = toks.select(id_col, hash_bits("token", bits).alias("_h"))
    lane_sums = [
        F.sum(
            F.when(F.col("_h").bitwiseAND(F.lit(1 << b)) > 0, 1).otherwise(-1)
        ).alias(f"_s{b}")
        for b in range(bits)
    ]
    lanes = hashed.groupBy(id_col).agg(*lane_sums)
    sketch = reduce(
        lambda acc, b: acc + F.when(F.col(f"_s{b}") > 0, F.lit(1 << b)).otherwise(0),
        range(bits),
        F.lit(0),
    )
    return lanes.select(id_col, sketch.cast("long").alias("simhash"))


def containment_pairs(
    docs: DataFrame,
    threshold_pct: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_df: int | None = None,
    persist_sets: bool = False,
) -> DataFrame:
    """Asymmetric containment near-dup pairs: (doc_a, doc_b, containment)
    with C(A→B) = |A∩B| / |A| ≥ threshold_pct/100, A ≠ B.

    ``persist_sets`` pins the set table (shingle_hash_sets). It feeds
    FIVE consumers here (probe prefix, index explode, the df-cap count,
    both verify sides), so the registered plan opts in — without it the
    shingle+hash transform recomputes per consumer (5 scans; round-8
    multi-consumer coefficient, SCALE.md).

    Containment is the dedup predicate Jaccard structurally misses: a
    passage quoted whole inside a much longer page has J ≈ |A|/|B| ≈ 0
    but C(A→B) ≈ 1 — near-superset detection is how a curation pipeline
    catches boilerplate wrappers and quote-inflation.

    Prefix filtering adapts asymmetrically (the containment variant of
    the PPJoin lemma): the probe side A explodes only its first
    ``sz − ⌈t·sz⌉ + 1`` sorted hashes (pigeonhole: any ⌈t·sz⌉-subset of
    A — in particular A∩B — must hit that prefix), while the INDEX side
    B explodes every hash (containment puts no lower bound on B's
    overlap position). Bucket df-cap ``max_df`` applies to the index
    side (documented recall trade, mirrored in the oracle). The
    threshold is integer parts-per-hundred so the boundary comparison
    ``inter·100 ≥ t_pct·sz`` is exact — no float can flip membership.
    """
    sized = shingle_hash_sets(docs, text_col, id_col, k, persist_sets)
    # ⌈t·sz⌉ in pure integers: (t_pct·sz + 99) div 100.
    ceil_t_sz = F.floor((F.col("_sz") * threshold_pct + 99) / 100).cast("int")
    prefix_len = (F.col("_sz") - ceil_t_sz + 1).cast("int")
    probe = sized.select(
        F.col(id_col).alias("doc_a"),
        F.col("_sz").alias("_szap"),
        ceil_t_sz.cast("long").alias("_cta"),
        F.posexplode(F.slice("_hs", 1, prefix_len)).alias("_pa", "_h"),
    )
    index = sized.select(
        F.col(id_col).alias("doc_b"),
        F.col("_sz").alias("_szbp"),
        F.posexplode("_hs").alias("_pb", "_h"),
    )
    # EVERY join below carries an explicit shuffle_merge hint: Catalyst's
    # static size estimate for these frames is garbage — the pinned
    # (id, sz, sorted-hash-array) table and the exploded probe/index
    # sides all descend from a narrow (doc_id, text) parquet scan
    # through transform/explode, whose output bytes the estimator can't
    # see, so BEFORE first materialization it happily plans
    # BroadcastHashJoin with the multi-hundred-MB SETS table (or even
    # the exploded probe!) as the build side. On the round-11 skew
    # fixture (50k docs, /tmp/skew1) that was a measured hard failure:
    # "Not enough memory to build and broadcast the table" — and at
    # 100 TB the sets/exploded sides are O(corpus), never broadcastable.
    # Sort-merge is the spill-safe strategy with AQE skew-split still
    # available; per-key right groups in the candidate join are bounded
    # by the df cap. Same pattern as the q_token_rarity vocab join
    # (plans/text.py) — declared strategy where the estimate is
    # known-garbage.
    if max_df is not None:
        df_ok = (
            index.groupBy("_h")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("_h")
        )
        index = index.join(df_ok.hint("shuffle_merge"), "_h")
    # Candidate pruning (the PPJoin filters' asymmetric forms; both
    # SOUND — a pruned occurrence can never verify, so the oracle needs
    # no mirror, and a qualifying pair's FIRST common element always
    # survives both):
    # - length: |A∩B| ≤ |B| and C(A→B) ≥ t force |B| ≥ ⌈t·|A|⌉;
    # - positional: a shared hash at sorted positions (p_a, p_b) bounds
    #   the overlap by 1 + min(|A|−p_a−1, |B|−p_b−1) ≥ ⌈t·|A|⌉ — on a
    #   low-diversity corpus this kills the deep-index-position matches
    #   that made the candidate set quadratic.
    ub = F.lit(1) + F.least(
        F.col("_szap") - F.col("_pa") - 1, F.col("_szbp") - F.col("_pb") - 1
    )
    cand = (
        probe.join(index.hint("shuffle_merge"), "_h")
        .where(F.col("doc_a") != F.col("doc_b"))
        .where(F.col("_szbp") >= F.col("_cta"))
        .where(ub >= F.col("_cta"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sized.select(
        F.col(id_col).alias("doc_a"),
        F.col("_sz").alias("_sza"),
        F.col("_hs").alias("_hsa"),
    )
    sb = sized.select(
        F.col(id_col).alias("doc_b"), F.col("_hs").alias("_hsb")
    )
    inter = F.size(F.array_intersect("_hsa", "_hsb"))
    return (
        cand.join(sa.hint("shuffle_merge"), "doc_a")
        .join(sb.hint("shuffle_merge"), "doc_b")
        .where(inter * 100 >= F.col("_sza") * threshold_pct)
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / F.col("_sza"), 4).alias("containment"),
        )
    )


def simhash_hamming_pairs(
    sketches: DataFrame,
    max_distance: int = 3,
    bits: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    sketch_col: str = "simhash",
) -> DataFrame:
    """Hamming-distance join over SimHash sketches: (doc_a, doc_b,
    hamming) for every pair with popcount(xor) ≤ ``max_distance``.

    Candidate generation is the Manku/Jain/Sarma pigeonhole banding
    (WWW'07 "Detecting Near-Duplicates for Web Crawling"): the sketch
    splits into ``bands`` equal bit-blocks; flipping ≤ max_distance
    bits can dirty at most max_distance blocks, so any qualifying pair
    agrees EXACTLY on ≥1 block whenever ``bands > max_distance``
    (asserted). Pairs are generated only inside (band_idx, band_value)
    buckets — banded_pairs, the same skeleton as MinHash/SRP banding —
    then verified exactly with one bit_count(xor) per candidate, so
    recall is total and every reported distance is true.

    Scale: bucket sizes are n / 2^(bits/bands) in expectation; the
    production parameterization grows the sketch so block width tracks
    log2(n) — Manku's crawl config is 64-bit sketches, 4×16-bit blocks
    at d≤3. The 16-bit default matches the engine's q_dedup_simhash
    sketch for the testdata corpus, and UNDERSIZING IS NOT GRACEFUL
    (round-14 sf1 measurement): at 500k docs the 16-bit sketch's
    4-bit blocks hold ~31k docs per bucket ⇒ ~550M candidate pairs,
    and because each bucket explodes from ONE collect_list row, a hot
    bucket's pair generation runs in ONE task — the job serializes
    long before the verify join costs anything. The same corpus with a
    60-bit/4-band sketch (block width ~log2(n), the documented rule)
    completes in 285 s with 7.06M true pairs. Callers at corpus scale
    must size ``bits`` from log2(n).
    """
    if bands <= max_distance:
        raise ValueError(
            f"pigeonhole needs bands > max_distance; got {bands} <= {max_distance}"
        )
    if bits % bands:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    width = bits // bands
    band_keys = [
        F.shiftright(F.col(sketch_col), b * width).bitwiseAND(F.lit((1 << width) - 1))
        for b in range(bands)
    ]

    # Band over DISTINCT SKETCHES, not docs (r15, guide §8: decide on a
    # lightweight proxy, multiply the heavy rows out once at the end).
    # Exact-duplicate documents share a sketch, so every band bucket
    # held every copy of every cluster and in-bucket pair generation
    # was quadratic in the DUPLICATED count — and each hot bucket
    # exploded from one collect_list row in ONE task (measured: the
    # registered 32-bit plan took 1473 s at the sf1 decade; that corpus
    # holds few exact dups — tools/fixtures.py sf1 suffixes each
    # replica's text, leaving 80 redundant copies in 50,000 documents).
    # Grouping docs by sketch first shrinks buckets by the duplication
    # factor (pair work falls quadratically), the group id IS the
    # sketch so candidate Hamming needs NO verify join at all, and the
    # output pair set is IDENTICAL: intra-group pairs are exactly the
    # distance-0 pairs, inter-group pairs expand the member lists of
    # qualifying sketch pairs (disjoint groups ⇒ no duplicates;
    # least/greatest keeps the doc_a < doc_b convention; null sketches,
    # which have no Hamming distance, are filtered up front). Verified
    # MATCH against the unchanged DuckDB oracle and pair-for-pair
    # against per-doc banding at sf0.01/sf0.1.
    groups = grouped_ids(
        sketches.where(F.col(sketch_col).isNotNull()), (sketch_col,), id_col
    )
    cand = banded_pairs(groups, band_keys, sketch_col, "_ska", "_skb")
    hamming = F.bit_count(F.col("_ska").bitwiseXOR(F.col("_skb")))
    qual = cand.where(hamming <= max_distance).select(
        "_ska", "_skb", hamming.cast("int").alias("hamming")
    )
    ga = groups.select(F.col(sketch_col).alias("_ska"), F.col("_ids").alias("_idsa"))
    gb = groups.select(F.col(sketch_col).alias("_skb"), F.col("_ids").alias("_idsb"))
    # shuffle_hash on the group side: the candidate table is a
    # structurally WIDENED frame (double explode of bucket id-lists)
    # whose static estimate is garbage — at sf1 the planner once
    # estimated such a pair table below the sketches and BROADCAST the
    # 550M-row side (round-14 find; Spark's 512M-row broadcast hard cap
    # killed the job, and AQE never demotes a statically-chosen
    # broadcast join). The hint makes each join a shuffled-hash with
    # the one-row-per-sketch group side as build; the member arrays are
    # corpus-sized in total, so a broadcast hint on them would be the
    # q18 class — shuffle_hash shards both sides.
    inter = expand_group_pairs(
        qual.join(ga.hint("shuffle_hash"), "_ska").join(gb.hint("shuffle_hash"), "_skb"),
        "doc_a",
        "doc_b",
        "hamming",
    )
    intra = member_pairs(groups, "_ids", "doc_a", "doc_b").select(
        "doc_a", "doc_b", F.lit(0).cast("int").alias("hamming")
    )
    return inter.unionByName(intra)


def lsh_probe_pairs(
    signatures: DataFrame,
    probe_col: str = "is_probe",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    max_df: int | None = LSH_MAX_DF,
) -> DataFrame:
    """Incremental-dedup probe: candidate pairs TOUCHING the probe set
    (new-batch docs vs the whole corpus, including probe-vs-probe) —
    the production dedup shape: a crawl delta is checked against the
    stored signature index without regenerating corpus-internal pairs.

    ``signatures`` is the minhash_signatures output plus a boolean
    ``probe_col``. Band rows for the PROBE side equi-join band rows for
    the WHOLE index on (band_idx, band_key): work is
    |probe bands| x bucket width, independent of how many base-base
    pairs exist — at 100 TB the index side is the persisted signature
    table and only the delta pays the shingle/minhash cost. Pairs
    canonicalize (least, greatest) + distinct, so a probe-probe pair
    found from both sides emits once. Output-equal to filtering the
    full lsh_candidate_pairs down to rows touching the probe set
    (the oracle proves it).
    """
    # The cap counts the WHOLE bucket (index side), so probe-vs-base and
    # base-vs-base agree on which buckets are template sludge — keeps
    # the documented output-equivalence with a capped
    # lsh_candidate_pairs.
    banded = band_rows(
        signatures, minhash_band_keys(k, bands), [id_col, probe_col], max_df
    )
    probe = banded.where(F.col(probe_col)).select(
        F.col(id_col).alias("_p"), "band_idx", "band_key"
    )
    index = banded.select(F.col(id_col).alias("_i"), "band_idx", "band_key")
    return (
        probe.join(index, ["band_idx", "band_key"])
        .where(F.col("_p") != F.col("_i"))
        .select(
            F.least("_p", "_i").alias("doc_a"),
            F.greatest("_p", "_i").alias("doc_b"),
        )
        .distinct()
    )
