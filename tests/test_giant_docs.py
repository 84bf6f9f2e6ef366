"""Row-SIZE skew regression tests — the /tmp/skew3 giant-document class
(round 12, the skew3 axis of tools/fixtures.py) pinned at pytest scale.

skew1/skew2 stress hot keys and hot window partitions; these pin the
third axis: ONE multi-megabyte document flowing through per-doc column
expressions, per-row token arrays, and Arrow mapInPandas batches. The
fixture sweep found a real at-scale wrong answer here (q_char_classes'
simpson_ppm overflowed int64 past n_chars ~ 3·10⁶ — ANSI hard error on
an 8 MB crawl page); the overflow pin below fails on the old int64
arithmetic and passes on the decimal(38,0) form.
"""

from __future__ import annotations

import os

import pytest

from news_categorization_big_data_spark.plans import REGISTRY


@pytest.fixture(scope="module")
def giant_doc_dir(spark, tmp_path_factory):
    """A documents table whose largest row is past the int64 simpson
    overflow threshold (n_chars² · 10⁶ > 2⁶³ ⇔ n_chars > ~3.04·10⁶)."""
    base = str(tmp_path_factory.mktemp("giant_docs"))
    giant = "the quick brown fox 42 jumped over 17 lazy dogs  \t\n" * 64_000
    rows = [
        (0, giant, "en", "crawl"),
        (1, "tiny doc two words", "en", "crawl"),
        (2, "a b a b a b", "en", "crawl"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    df = df.selectExpr("doc_id", "text", "lang", "source", "length(text) as n_chars")
    df.coalesce(1).write.parquet(os.path.join(base, "documents.parquet"))
    return base


def _simpson_ppm_exact(text: str) -> dict[str, int]:
    n_chars = len(text)
    n_alpha = sum(c.isascii() and c.isalpha() for c in text)
    n_digit = sum(c.isdigit() for c in text)
    n_space = sum(c in " \t\n" for c in text)
    n_other = n_chars - n_alpha - n_digit - n_space
    ppm = (
        (n_alpha**2 + n_digit**2 + n_space**2 + n_other**2) * 1_000_000
    ) // n_chars**2
    return {
        "n_chars": n_chars,
        "n_alpha": n_alpha,
        "n_digit": n_digit,
        "n_space": n_space,
        "n_other": n_other,
        "simpson_ppm": ppm,
    }


def test_char_classes_simpson_exact_past_int64_overflow(spark, giant_doc_dir):
    """3.26M chars: class² · 10⁶ has crossed 2⁶³ — the old long
    arithmetic raised ARITHMETIC_OVERFLOW here; decimal(38,0) must
    return the exact Python-bigint value."""
    rows = {
        r["doc_id"]: r
        for r in REGISTRY["q_char_classes"].builder(spark, giant_doc_dir).collect()
    }
    giant = "the quick brown fox 42 jumped over 17 lazy dogs  \t\n" * 64_000
    expected = _simpson_ppm_exact(giant)
    got = rows[0]
    assert got["n_chars"] > 3_040_000  # past the int64 overflow threshold
    for k, v in expected.items():
        assert got[k] == v, (k, got[k], v)


def test_repetition_stats_exact_on_giant_token_array(spark, giant_doc_dir):
    """A ~700k-token row exercises the per-row gram array + distinct:
    counts must equal the Python-set ground truth (and not crash)."""
    rows = {
        r["doc_id"]: r
        for r in REGISTRY["q_repetition_stats"].builder(spark, giant_doc_dir).collect()
    }
    giant = "the quick brown fox 42 jumped over 17 lazy dogs  \t\n" * 64_000
    # \s+ split KEEPS the trailing empty token from the final newline —
    # both engines do (Spark split and DuckDB regexp_split_to_array
    # agree; the oracle hash pins it), so the ground truth must too.
    toks = __import__("re").split(r"\s+", giant)
    grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    assert rows[0]["n_grams"] == len(grams)
    assert rows[0]["n_distinct"] == len(set(grams))
    assert rows[2]["n_grams"] == 5 and rows[2]["n_distinct"] == 2


def test_decode_payloads_handles_megabyte_payload_batches(spark):
    """The multimodal Arrow plumbing with MB-scale binary cells: batch
    bytes scale with payload size, not row count — a 1024×512 RGB PNG
    (~1.5 MB pixels) must round-trip through mapInPandas exactly."""
    import pandas as pd

    from news_categorization_big_data_spark.operators.codecs import png_dims, png_encode
    from news_categorization_big_data_spark.operators.multimodal import decode_payloads

    import numpy as np

    dims = [(1024, 512), (640, 480), (3, 2)]
    rows = []
    for i, (w, h) in enumerate(dims):
        px = (np.arange(w * h * 3, dtype=np.uint64) * np.uint64(2654435761) & np.uint64(0xFF)).astype(
            np.uint8
        )
        payload = png_encode(w, h, 3, px.tobytes())
        rows.append((i, payload, "image/png", len(payload)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "payload", "mime", "n_bytes"])
    df = spark.createDataFrame(pdf)
    got = {
        r["doc_id"]: (r["width"], r["height"], r["ok"])
        for r in decode_payloads(df, codec=png_dims).collect()
    }
    for i, (w, h) in enumerate(dims):
        assert got[i] == (w, h, True)


def test_dedup_passage_split_stays_hoisted_out_of_the_lambda(registry_plans):
    """The chunk lambda must slice a bound _toks column, not the
    split(text) expression — an expression in a HOF body re-evaluates
    per element (quadratic: ~20 min/task on a /tmp/skew3 giant doc).
    CollapseProject's non-cheap guard keeps the split hoisted; this
    pins it against optimizer changes (the bootstrap-md5 precedent)."""
    plan = registry_plans["q_dedup_passage"].plan
    # The chunks subtree legitimately appears once per self-join side
    # (each with one split); the quadratic form is specifically the
    # slice-of-split COMPOSITION inside the lambda.
    assert "slice(split(" not in plan, plan
    assert plan.count("split(text") <= 2, plan
