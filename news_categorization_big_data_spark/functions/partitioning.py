"""Partition-shape guards.

Small-file inputs (one parquet row group) arrive as a single partition,
which serializes every downstream transform onto one core. ``fan_out``
round-robin-repartitions CPU-heavy subtrees (hashing, shingling, vector
math) to the session's default parallelism so they use every core — and
NEVER shrinks an already-wide input.

Decision order:

1. ``spark.graft.fanout.enabled=false`` → no-op (set on real clusters
   where scans already yield thousands of partitions; at 100 TB scan
   width is governed by ``spark.sql.files.maxPartitionBytes``).
2. Default: ESTIMATE the scan width from leaf-file sizes using Spark's
   own ``FilePartition`` packing formula (maxSplitBytes / openCost /
   bytesPerCore) — pure conf reads + one ``inputFiles()`` listing, no
   plan→RDD analyzer round-trip. Valid only over a scan plus narrow
   transforms, where width is file-driven; a shuffled or limited
   lineage skips the estimate (step 3). Byte splits are not row
   groups: a parquet scan task reads only the row groups whose
   midpoints fall in its split, so a 45 MB single-row-group file packs
   into 4 partitions yet one task reads every row. When the packed
   count already reaches the target width and the listing holds fewer
   files than the target, the estimate is capped at the files' total
   row-group count, read from their footers on the driver
   (sources/footer.py) — a handful of footers at most, and none on the
   paths the gate turns away.
3. Last resort (shuffled lineage, non-``file:`` scheme, empty file
   listing, in-memory relations): probe ``df.rdd.getNumPartitions()``.
   On Spark Connect (no ``sparkContext``/``df.rdd``) there is no target
   width either, and fan_out is a safe no-op.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from news_categorization_big_data_spark.sources.footer import row_groups

#: Spark conf defaults (mirrors SQLConf; conf.get falls back to these
#: when the session never set them explicitly).
_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024
_DEFAULT_OPEN_COST = 4 * 1024 * 1024

_UNITS = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _byte_string(value: str) -> int:
    """Parse Spark's byte-string conf format ('134217728', '128m',
    '128MB', '4194304b') — the subset JavaUtils.byteStringAsBytes
    accepts for these confs."""
    s = value.strip().lower().removesuffix("ib").removesuffix("b")
    if s and s[-1] in _UNITS:
        return int(float(s[:-1]) * _UNITS[s[-1]])
    return int(s)


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    try:
        raw = spark.conf.get(key, str(default))
    except Exception:
        return default
    try:
        return _byte_string(raw)
    except ValueError:
        return default


def _default_parallelism(spark: SparkSession) -> int | None:
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect
        return None


def _local_file_sizes(files: list[str]) -> list[int] | None:
    """stat() sizes for file:-scheme URIs; None when any file lives on a
    scheme we can't stat from the driver (s3/hdfs → RDD-probe fallback)."""
    sizes = []
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("file", ""):
            return None
        try:
            sizes.append(os.stat(unquote(parsed.path)).st_size)
        except OSError:
            return None
    return sizes


#: Logical-plan node names whose presence means the plan's width is NOT
#: file-driven (a shuffle, coalesce, or limit decides it instead). A
#: false positive (e.g. a column name matching) only costs falling back
#: to the RDD probe — safe, just slower.
_WIDTH_CHANGING_NODES = (
    "Repartition",  # also matches RepartitionByExpression
    "Join",
    "Aggregate",
    "Window",
    "Sort",
    "Deduplicate",
    "Distinct",
    "Union",
    "Limit",  # matches GlobalLimit / LocalLimit
    "Sample",
)


def _narrow_file_lineage(df: DataFrame) -> bool:
    """True iff the analyzed LOGICAL plan contains only narrow,
    width-preserving nodes over a file relation — the precondition for
    deriving partition width from leaf-file sizes. toString on the
    analyzed plan triggers analysis only (which ``inputFiles()`` pays
    anyway), NOT physical planning or RDD creation."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # Spark Connect: no _jdf
        return False
    return not any(node in plan for node in _WIDTH_CHANGING_NODES)


def _packed_partitions(df: DataFrame) -> int | None:
    """The scan's partition count as Spark's
    FilePartition.getFilePartitions packs splits — maxSplitBytes =
    min(maxPartitionBytes, max(openCost, totalBytes/minPartitionNum));
    splittable files are cut into maxSplitBytes chunks, then chunks
    (+openCost each) are packed sequentially into bins of capacity
    maxSplitBytes. Conf reads + file listing only: no plan→RDD
    round-trip. Returns None when the width can't be derived from files
    — shuffled/limited lineage, non-local scheme, in-memory relation —
    and the caller falls back to the RDD probe."""
    if not _narrow_file_lineage(df):
        return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sizes = _local_file_sizes(files)
    if sizes is None:
        return None
    spark = df.sparkSession
    max_bytes = _conf_bytes(
        spark, "spark.sql.files.maxPartitionBytes", _DEFAULT_MAX_PARTITION_BYTES
    )
    open_cost = _conf_bytes(
        spark, "spark.sql.files.openCostInBytes", _DEFAULT_OPEN_COST
    )
    min_parts = _default_parallelism(spark) or 1
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_bytes, max(open_cost, total // min_parts or 1))
    # Cut files into splits, largest-first like Spark, then pack.
    splits: list[int] = []
    for s in sizes:
        while s > max_split:
            splits.append(max_split)
            s -= max_split
        if s > 0:
            splits.append(s)
    splits.sort(reverse=True)
    partitions, current = 0, max_split + 1  # force-open first bin
    for sp in splits:
        if current + sp + open_cost > max_split:
            partitions += 1
            current = 0
        current += sp + open_cost
    return max(partitions, 1)


def _scan_width_estimate(df: DataFrame) -> int | None:
    """The scan's effective width: the packed partition count, capped at
    the input files' total row-group count when the packing alone would
    already reach the session's default parallelism from fewer files
    than that — the one case where byte splits can hide a scan that
    runs in fewer tasks than it packs. None where
    :func:`_packed_partitions` can't derive a width."""
    packed = _packed_partitions(df)
    if packed is None:
        return None
    spark = df.sparkSession
    target = _default_parallelism(spark)
    if target is None or packed < target:
        return packed
    files = df.inputFiles()
    if len(files) >= target:
        return packed
    groups = row_groups(spark, files)
    return packed if groups is None else max(min(packed, groups), 1)


def _rdd_width(df: DataFrame) -> int | None:
    """Last-resort width probe: one plan→RDD analyzer round-trip.
    None on Spark Connect, where neither sparkContext nor df.rdd exist."""
    try:
        return df.rdd.getNumPartitions()
    except Exception:
        return None


def fan_out(
    df: DataFrame,
    force: bool = False,
    by: tuple[str, ...] | None = None,
) -> DataFrame:
    """Widen a CPU-heavy subtree to full parallelism (see module doc).

    ``by``: repartition by HASH of these columns instead of round-robin.
    Round-robin repartition pays a local sort of its input inside the
    (narrow, possibly single-task) upstream stage — Spark's
    sortBeforeRepartition, required for deterministic retry — which is
    exactly the serial work fan_out exists to remove. A keyed
    repartition needs no input sort (row→partition is a pure hash), and
    when ``by`` matches the downstream operator's required distribution
    (a window's partitionBy, a groupBy key) the exchange is REUSED, so
    the widened plan has no extra shuffle at all. Keys must be
    high-cardinality (guide §2.5: 20-100x more distinct values than
    partitions) — a low-cardinality key would fan out to #distinct
    cores, not #cores. All width guards (never shrink, cluster no-op,
    conf gates) apply unchanged.

    The target width is the session's default parallelism, and fan_out
    NEVER shrinks an already-wide input (collapsing a 2000-partition
    scan to a handful and paying a shuffle for it is the exact
    pathology this module exists to prevent).

    ``force=True`` skips the width probe and ALWAYS inserts a
    user-numbered repartition to the target width. Use it when the
    input sits directly on an AQE-coalescible exchange
    (post-groupBy/join) feeding a CPU-heavy stage: the static plan
    reports the pre-AQE shuffle width (e.g. 32) while AQE coalesces the
    tiny exchange to ~1 partition at runtime — the probe cannot see
    that, and the hashing stage would run single-threaded. AQE's coalescer respects user-numbered
    repartitions, so the forced width sticks. (Measured on the curation
    pipeline at sf0.1: the minhash stage drops 3.0s → 1.7s.)
    """
    spark = df.sparkSession

    def _repart(width: int) -> DataFrame:
        if by:
            return df.repartition(width, *by)
        return df.repartition(width)

    if spark.conf.get("spark.graft.fanout.enabled", "true").lower() == "false":
        return df
    target = _default_parallelism(spark)
    if target is None:  # Spark Connect: no width to widen to
        return df
    if force:
        return _repart(target)
    current = _scan_width_estimate(df)
    if current is None:
        current = _rdd_width(df)
    if current is None or current >= target:
        return df
    return _repart(target)
