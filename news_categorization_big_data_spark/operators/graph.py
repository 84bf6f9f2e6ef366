"""Distributed connected components: turn near-duplicate PAIRS into
duplicate CLUSTERS so a dedup pass can keep one canonical document per
cluster (min id) instead of dropping both sides of every pair.

Pair graphs under ``spark.graft.cc.localThreshold`` edges solve on the
driver (one collect + union-find); larger ones run the large-star/
small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14, ``connected_components_star``) —
O(log² n) rounds, each one groupBy + one join.

This is the one operator family where a driver-side loop with an eager
per-round action is the *correct* distributed shape (same contract as
GraphX/GraphFrames connectedComponents or MLlib's iterative solvers):
the convergence test IS a distributed aggregate, and each round's edge
table is checkpointed so round N+1 reads a materialized RDD instead of
an ever-deeper lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


#: Below this many pairs the component solve runs on the driver (one
#: collect + union-find) instead of the iterative distributed solver. The
#: near-dup pair graph is orders of magnitude smaller than its corpus by
#: construction (banded LSH emits only in-bucket candidates), so at
#: every tested scale the local path wins by ~5s of pure scheduling
#: latency (each propagation round is 4 distributed jobs; a 167-pair
#: graph costs the same ~1.3s/round as a 10⁶-pair one on local[32]).
#: Conf-settable per session: ``spark.graft.cc.localThreshold`` — set 0
#: to force the distributed star solver. This mirrors production graph
#: systems, which contract/solve locally once the frontier fits one
#: machine.
CC_LOCAL_THRESHOLD = 200_000


def _local_components(
    rows: list, id_out: str, component_out: str, spark, id_type
) -> DataFrame:
    """Driver-side union-find over collected (src, dst) pairs; returns
    the same (id, min-id component) table the star solver yields.
    ``id_type`` is the input's vertex id DataType — the output schema is
    derived from it, never hardcoded, so string/int ids get the same
    schema from this path as from the star solver (which preserves the
    input type naturally)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        m = comp_min.get(r)
        if m is None or v < m:
            comp_min[r] = v
    out = [(v, comp_min[find(v)]) for v in parent]
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [
            StructField(id_out, id_type, nullable=False),
            StructField(component_out, id_type, nullable=False),
        ]
    )
    return spark.createDataFrame(out, schema)


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    id_out: str = "doc_id",
    component_out: str = "component",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) for every vertex appearing in ``pairs``; the
    component label is the minimum vertex id in the component.

    Vertices not in any pair are singletons and are intentionally NOT
    emitted — at corpus scale the pair graph is tiny next to the corpus,
    and the caller left-joins this table to tag duplicates (null
    component ⇒ unique document).

    Size-adaptive: pair graphs under ``spark.graft.cc.localThreshold``
    (default 200k edges) collect to the driver once and solve with
    union-find — identical output, none of the per-round scheduling
    latency; larger graphs run ``connected_components_star``. The pair
    lineage is computed once either way: ``pairs`` is persisted BEFORE
    the size probe, so an over-threshold graph hands its cached
    partitions to the star solver instead of recomputing the
    (potentially expensive LSH) lineage.

    Raises ``RuntimeError`` if ``max_iter`` star rounds don't converge.
    """
    spark = pairs.sparkSession
    try:
        threshold = int(
            spark.conf.get("spark.graft.cc.localThreshold", str(CC_LOCAL_THRESHOLD))
        )
    except Exception:  # pragma: no cover - static conf stores
        threshold = CC_LOCAL_THRESHOLD
    id_type = pairs.schema[src].dataType
    # Persist BEFORE the size probe: the probe's limit(threshold+1)
    # computes (part of) the pair lineage, and without a cache an
    # over-threshold graph would throw that work away and recompute the
    # full lineage in the star solver — a wasted pass exactly where the
    # lineage is most expensive. The probe still bounds the DRIVER
    # transfer to threshold+1 rows; persist only changes where the
    # computed partitions live.
    pairs = pairs.select(src, dst).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if threshold > 0:
            head = pairs.limit(threshold + 1).collect()
            if len(head) <= threshold:
                return _local_components(
                    [(r[0], r[1]) for r in head],
                    id_out,
                    component_out,
                    spark,
                    id_type,
                )
        # Star even on shallow LSH cluster graphs: on q_dedup_cluster's
        # graph it measured 1.6× faster than min-label propagation at
        # sf0.1 and 1.8× at the sf1 decade (2.13→1.35 s, 12.8→7.0 s
        # best-of-2 cold).
        return connected_components_star(
            pairs, src, dst, id_out, component_out, max_iter=max_iter
        )
    finally:
        pairs.unpersist()


def kcore(
    pairs: DataFrame,
    k: int,
    src: str = "doc_a",
    dst: str = "doc_b",
    id_out: str = "doc_id",
    max_iter: int = 30,
) -> DataFrame:
    """The k-core of the undirected pair graph: the maximal subgraph in
    which every surviving vertex keeps degree ≥ k, as (id, core degree)
    rows — iterative PEELING (repeatedly drop sub-k vertices and their
    edges) run to its fixpoint.

    Each round is one degree aggregate + two semi-joins against the
    surviving vertex set, with a persist/convergence-count discipline
    (one tiny count action per round; previous round's cache released
    eagerly). Rounds are bounded
    by the graph's degeneracy ordering depth — small for LSH pair
    graphs, whose clusters are dense by construction and whose pendants
    peel in the first rounds. Peeling is monotone (the survivor set
    only shrinks) and idempotent at the fixpoint, which is what lets a
    fixed-depth unrolled oracle (plans/dedup.py q_graph_kcore) match
    the run-to-convergence loop exactly.
    """
    edges = (
        pairs.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .union(pairs.select(F.col(dst).alias("_s"), F.col(src).alias("_d")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        n_prev = None
        for _ in range(max_iter):
            deg = edges.groupBy("_s").agg(F.count("*").alias("_deg"))
            keep = deg.where(F.col("_deg") >= k).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            n_keep = keep.count()
            if n_prev is not None and n_keep == n_prev:
                result = keep.select(
                    F.col("_s").alias(id_out), F.col("_deg").alias("degree")
                ).localCheckpoint(eager=True)
                keep.unpersist()
                return result
            n_prev = n_keep
            new_edges = (
                edges.join(keep.select("_s"), "_s", "semi")
                .join(
                    keep.select(F.col("_s").alias("_d")), "_d", "semi"
                )
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            new_edges.count()  # materialize before releasing the parent
            edges.unpersist()
            edges = new_edges
            keep.unpersist()
        raise RuntimeError(f"kcore(k={k}) did not converge in {max_iter} rounds")
    finally:
        edges.unpersist()


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multi-source BFS hop distance, statically unrolled to ``hops``
    rounds (one lazy plan, no driver actions — the q_graph_pagerank
    shape; loops needing convergence checks use the kcore skeleton above).

    ``edges`` must already carry both directions for an undirected
    graph. ``seeds`` is an (id_col,) frame at distance 0. Each round is
    frontier-join + MIN-hop regroup over the DISTANCE TABLE, never path
    enumeration: intermediate cardinality is bounded by |E| per round
    regardless of how many paths exist, which keeps dense clusters
    (cliques from banded LSH) safe. Returns (id_col, hop) for every
    vertex within ``hops`` of a seed. All-integer — oracle-exact.
    """
    dist = seeds.select(id_col, F.lit(0).alias("hop"))
    for _ in range(hops):
        # Declared shuffle_hash with the DISTANCE table as build side
        # (≤|V| rows vs the edge table's |E| — the smaller side at any
        # scale). Without it the planner statically broadcast BOTH the
        # checkpointed edge table (a Scan ExistingRDD whose size
        # estimate is blind to the LSH pair explode beneath it) and
        # the later rounds' min-hop aggregates — corpus-scaling frames
        # under a static choice AQE never demotes, the r14
        # widened-frame crash class (round-15 sweep find; BFS escaped
        # the r14 sf1 program the same way pagerank did — its DuckDB
        # oracle is infeasible there).
        nxt = dist.hint("shuffle_hash").join(
            edges, dist[id_col] == edges[src]
        ).select(
            F.col(dst).alias(id_col), (F.col("hop") + 1).alias("hop")
        )
        dist = dist.unionAll(nxt).groupBy(id_col).agg(F.min("hop").alias("hop"))
    return dist


def connected_components_star(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    id_out: str = "doc_id",
    component_out: str = "component",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the distributed path of :func:`connected_components`,
    same contract: (id, min-id component) for every vertex of the pair
    graph.

    Why this beats min-label propagation at extreme scale: min-label
    needs O(diameter) rounds and keeps the full edge set every round;
    the star operations CONTRACT the graph toward a star per component
    in O(log² n) rounds (in practice a handful), and each round's edge
    set only shrinks toward one edge per non-root vertex.

    Round shape (each is one groupBy + one join, all integer):
    - large-star: every vertex u attaches its LARGER neighbors to
      m(u) = min(Γ(u) ∪ {u})  → edges (v, m) for v ∈ Γ(u), v > u.
    - small-star: orient edges toward the larger endpoint; every vertex
      a attaches its smaller neighbors AND itself to the minimum
      m = min(Γ⁻(a) ∪ {a}) → edges (b, m) and (a, m).
    Both preserve connectivity exactly (proof in the paper); the
    fixpoint is a forest of stars rooted at component minima, read out
    as (child, root) plus (root, root).

    Convergence test = the distributed aggregate (count, xor of edge
    hashes) going stable. Each round's edge set is EAGERLY
    localCheckpoint-ed: unlike persist, a checkpoint truncates the
    LOGICAL plan too — the alternating star rounds otherwise stack two
    join trees per round and Catalyst's plan-clone recursion overflows
    after ~3 rounds (measured), long before any data-size limit. All
    comparisons are on vertex ids: exact for integral ids, and
    lexicographic for string ids — the same ordering the local
    union-find uses, so the output-identical contract holds for both id
    types.
    """
    e = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Vertices appearing ONLY in self-pairs (a,a) carry no real edge but
    # are still "in pairs" — the local path emits them as singletons, so
    # this path must too to keep the output-identical contract across
    # solvers.
    self_only = (
        pairs.where(F.col(src) == F.col(dst))
        .select(F.col(src).alias(id_out), F.col(src).alias(component_out))
        .distinct()
    )
    if not e.take(1):
        # No real edges: every vertex is a self-pair singleton. The
        # frame derives its schema from the input id type (long OR
        # string both supported, matching _local_components).
        return self_only

    def _sig(edges: DataFrame) -> tuple:
        row = edges.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("x"),
        ).collect()[0]
        return (row["n"], row["x"])

    def _large_star(edges: DataFrame) -> DataFrame:
        both = edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = both.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            both.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def _small_star(edges: DataFrame) -> DataFrame:
        oriented = edges.select(
            F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b")
        )
        m = oriented.groupBy("a").agg(F.min("b").alias("m"))
        attach_children = (
            oriented.join(m, "a").select(F.col("b").alias("u"), F.col("m").alias("v"))
        )
        attach_self = m.select(F.col("a").alias("u"), F.col("m").alias("v"))
        return (
            attach_children.unionAll(attach_self)
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    prev_sig = None
    for _ in range(max_iter):
        # eager checkpoint: materializes the round AND truncates lineage
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        sig = _sig(e)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"star CC did not converge in {max_iter} rounds")

    # Fixpoint: a star forest oriented child -> root. Read out every
    # vertex: children map to their root, roots map to themselves.
    children = e.select(F.col("u").alias(id_out), F.col("v").alias(component_out))
    roots = e.select(F.col("v").alias(id_out), F.col("v").alias(component_out))
    solved = children.unionAll(roots).groupBy(id_out).agg(
        F.min(component_out).alias(component_out)
    )
    # Append self-pair-only vertices as singletons (anti-join is against
    # the checkpointed fixpoint, so no lineage recompute); a vertex in
    # both a self-pair and a real edge is already in `solved`.
    singletons = self_only.join(solved.select(id_out), id_out, "left_anti")
    return solved.unionAll(singletons)
