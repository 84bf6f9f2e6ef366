"""Deterministic, engine-portable hashing expressions.

Spark's native ``hash()``/``xxhash64()`` are murmur3/xxhash with Spark-
specific seeds — fast, but not reproducible in other engines. For
operators whose results must be oracle-checkable (fingerprints, MinHash
signatures, SimHash), we derive integers from ``md5`` hex digests, which
every engine renders identically. Cost: md5 is ~3-5x slower than
xxhash64 but still JVM-side and vectorizable; for non-oracle internal
shuffling (LSH banding at scale) prefer ``F.xxhash64``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash60(col: Column | str, seed: str | None = None) -> Column:
    """Unsigned 60-bit integer from the first 15 hex chars of md5.

    DuckDB mirror: ``('0x' || substr(md5(expr), 1, 15))::BIGINT``.
    """
    c = F.col(col) if isinstance(col, str) else col
    if seed is not None:
        c = F.concat(F.lit(f"{seed}:"), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash60_pair(col: Column | str) -> tuple[Column, Column]:
    """TWO independent 60-bit integers from ONE md5 digest: hex chars
    1-15 and 16-30 of the same evaluation. The halves of an md5 digest
    are independent uniform bits, so this is the standard way to feed a
    Kirsch-Mitzenberger double-hash family at half the hashing cost of
    two seeded digests.

    DuckDB mirrors:
    ``('0x' || substr(md5(expr), 1, 15))::BIGINT`` and
    ``('0x' || substr(md5(expr), 16, 15))::BIGINT``.
    """
    c = F.col(col) if isinstance(col, str) else col
    d = F.md5(c)
    return (
        F.conv(F.substring(d, 1, 15), 16, 10).cast("long"),
        F.conv(F.substring(d, 16, 15), 16, 10).cast("long"),
    )


def hash_bits(col: Column | str, nbits: int) -> Column:
    """``nbits``-bit integer from the first nbits/4 hex chars of md5
    (SimHash lanes at any sketch width). nbits must be a multiple of 4
    (hex granularity) and ≤ 60 (overflow-safe BIGINT parse).

    DuckDB mirror: ``('0x' || substr(md5(expr), 1, nbits/4))::BIGINT``.
    """
    if nbits % 4 or not 0 < nbits <= 60:
        raise ValueError(f"nbits must be a multiple of 4 in (0, 60]; got {nbits}")
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, nbits // 4), 16, 10).cast("long")
