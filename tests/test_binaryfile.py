"""binaryFile-source ingest: the missing first step of the multimodal
pipeline — a directory tree of media files becomes (id, payload binary,
metadata) rows, then flows through the existing Arrow-batched decode
stage. Spark's binaryFile source is the production ingest path for
media at scale (each file one row, read in parallel, no Python I/O);
these tests pin the wiring: glob filtering, recursive layout, and the
handoff into decode_payloads with a REAL PNG codec."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from news_categorization_big_data_spark.operators.codecs import (
    png_dims,
    png_encode,
)
from news_categorization_big_data_spark.operators.multimodal import (
    decode_payloads,
)
from tests.conftest import physical_plan


def _write_pngs(root: str) -> dict[str, tuple[int, int]]:
    """Three PNGs in a nested layout + one non-media decoy."""
    sizes = {"a": (3, 2), "sub/b": (5, 4), "sub/deep/c": (2, 7)}
    out = {}
    for rel, (w, h) in sizes.items():
        path = os.path.join(root, rel + ".png")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pixels = bytes((x * 7 + 13) % 256 for x in range(w * h * 3))
        with open(path, "wb") as f:
            f.write(png_encode(w, h, 3, pixels))
        out[os.path.basename(path)] = (w, h)
    with open(os.path.join(root, "notes.txt"), "w") as f:
        f.write("not media")
    return out


def test_binaryfile_glob_recursive_and_decode(spark, tmp_path):
    root = str(tmp_path / "media")
    expected = _write_pngs(root)

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")  # decoy excluded at listing time
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    assert raw.count() == 3
    assert set(raw.columns) == {"path", "modificationTime", "length", "content"}

    packed = raw.select(
        F.abs(F.xxhash64("path")).alias("doc_id"),
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        F.col("content").alias("payload"),
        F.lit("image/png").alias("mime"),
        F.col("length").cast("int").alias("n_bytes"),
    )
    decoded = decode_payloads(
        packed.select("doc_id", "payload", "mime", "n_bytes"), codec=png_dims
    )
    dims = {
        r["fname"]: (r["width"], r["height"], r["ok"])
        for r in packed.select("doc_id", "fname")
        .join(decoded, "doc_id")
        .collect()
    }
    assert len(dims) == 3
    for fname, (w, h) in expected.items():
        assert dims[fname] == (w, h, True), (fname, dims[fname])


def test_binaryfile_length_pushdown_filter(spark, tmp_path):
    # LENGTH is a partition-free metadata column: filtering on it skips
    # file CONTENT reads at listing time (the binaryFile source's only
    # pushdown — the scale lever for "skip the 4 GB videos" ingests)
    root = str(tmp_path / "media2")
    _write_pngs(root)
    small = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .option("recursiveFileLookup", "true")
        .load(root)
        .where(F.col("length") < 10_000)
    )
    assert small.count() == 3  # our PNGs are tiny; the filter is satisfiable
    plan = physical_plan(small)
    assert "length" in plan.lower()
