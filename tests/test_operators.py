"""Operator-level golden tests: as-of join semantics, multimodal decode
plumbing, summarizer hook fallbacks, ML accuracy + contract
(SURVEY.md §5.2.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from news_categorization_big_data_spark.operators import classify as clf
from news_categorization_big_data_spark.operators.asof import asof_join
from news_categorization_big_data_spark.operators.multimodal import (
    decode_payloads,
    fake_codec,
    pack_payload,
)
from news_categorization_big_data_spark.operators.summarize import (
    extractive_summarize,
    pluggable_summarizer_hook,
)
from tests.conftest import exchange_counts, physical_plan


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 250), (3, 20, 150), (4, 30, 100)],
        "event_id int, user_id int, ts int",
    )
    right = spark.createDataFrame(
        [(10, 100, 1.0), (10, 200, 2.0), (20, 200, 3.0)],
        "user_id int, ts int, price double",
    )
    out = {
        r.event_id: r.price
        for r in asof_join(left, right, on="ts", by="user_id").collect()
    }
    assert out[1] == 1.0  # equal ts matches (<=)
    assert out[2] == 2.0  # latest at-or-before
    assert out[3] is None  # right row is in the future
    assert out[4] is None  # no right rows for user 30


def test_asof_join_null_columns_stay_atomic(spark):
    """A matched right row's NULL must survive: per-column carry-forward
    would stitch the stale non-NULL value from an older right row into
    the newer match (DuckDB ASOF semantics keep the matched row atomic)."""
    left = spark.createDataFrame([(1, 10, 300)], "event_id int, user_id int, ts int")
    right = spark.createDataFrame(
        [(10, 100, 1.0, 9.0), (10, 200, 2.0, None)],
        "user_id int, ts int, price double, qty double",
    )
    row = asof_join(left, right, on="ts", by="user_id").collect()[0]
    assert row.price == 2.0  # the matched (ts=200) row...
    assert row.qty is None  # ...including its NULL — not 9.0 from ts=100


def test_asof_join_rejects_column_collision(spark):
    df = spark.createDataFrame([(1, 1, 1.0)], "user_id int, ts int, v double")
    with pytest.raises(ValueError, match="collision"):
        asof_join(df, df, on="ts", by="user_id")


def test_multimodal_pack_decode(spark, sf_dir):
    from news_categorization_big_data_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    packed = pack_payload(docs, "doc_id", "text", mime="text/plain")
    decoded = decode_payloads(packed, codec=fake_codec)
    rows = decoded.collect()
    assert len(rows) == 20
    ok_rows = [r for r in rows if r.ok]
    assert len(ok_rows) == 20  # non-empty payloads decode
    assert all(1 <= r.width <= 640 and 1 <= r.height <= 480 for r in ok_rows)
    # deterministic: same input → same "dimensions"
    again = {r.doc_id: (r.width, r.height) for r in decode_payloads(packed, fake_codec).collect()}
    assert all(again[r.doc_id] == (r.width, r.height) for r in rows)


def test_multimodal_codec_stub_raises(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    packed = pack_payload(df, "doc_id", "text")
    with pytest.raises(Exception, match="NotImplementedError|no media codec"):
        decode_payloads(packed, codec=None).collect()


def test_multimodal_decode_error_containment(spark):
    df = spark.createDataFrame([(1, "ok"), (2, "")], "doc_id long, text string")
    packed = pack_payload(df, "doc_id", "text")
    rows = {r.doc_id: r for r in decode_payloads(packed, fake_codec).collect()}
    assert rows[1].ok is True
    assert rows[2].ok is False and rows[2].width == 0  # empty payload → typed fallback row


def test_multimodal_resize_frames_features(spark):
    """The three media stages share the decode plumbing contract: typed
    metadata out, per-row containment, deterministic fakes."""
    from news_categorization_big_data_spark.operators.multimodal import (
        FAKE_FEATURE_DIM,
        extract_features,
        fake_feature_codec,
        fake_frame_codec,
        fake_resize_codec,
        resize_payloads,
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, "some media bytes here"), (2, "")], "doc_id long, text string"
    )
    packed = pack_payload(df, "doc_id", "text")

    resized = {r.doc_id: r for r in resize_payloads(packed, 4, 3, fake_resize_codec).collect()}
    assert resized[1].ok and len(bytes(resized[1].payload)) == 12  # w*h bytes
    assert resized[2].ok is False and resized[2].payload is None

    frames = sample_frames(packed, fake_frame_codec).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 4 and all(r.ok for r in by_doc[1])  # set-returning
    assert [r.frame_idx for r in sorted(by_doc[1], key=lambda r: r.frame_idx)] == [0, 1, 2, 3]
    assert len(by_doc[2]) == 1 and by_doc[2][0].frame_idx == -1  # marker row

    feats = {r.doc_id: r for r in extract_features(packed, fake_feature_codec).collect()}
    assert feats[1].ok and len(feats[1].feature) == FAKE_FEATURE_DIM
    assert all(0.0 <= v < 1.0 for v in feats[1].feature)
    assert feats[2].ok is False and feats[2].feature is None


def test_summarizer_hook_reference_semantics(spark):
    long_text = "word " * 3000  # > 5000 chars → truncated to 5000
    df = spark.createDataFrame(
        [(1, long_text), (2, "short input here"), (3, "   ")],
        "doc_id long, text string",
    )
    echo = pluggable_summarizer_hook(lambda text: text)
    out = {r.doc_id: r.summary for r in df.mapInPandas(echo, "doc_id long, summary string").collect()}
    # 5000 chars of "word " → 1000 words → clamp min(100, max(20, 1000//3)) = 100
    assert len(out[1].split()) == 100
    # 3 words → clamp to 20 but only 3 available
    assert out[2] == "short input here"
    assert out[3] == ""  # blank → empty summary (fallback)


def test_summarizer_hook_error_containment(spark):
    df = spark.createDataFrame([(1, "boom please")], "doc_id long, text string")

    def exploding(text):
        raise RuntimeError("model crashed")

    out = df.mapInPandas(
        pluggable_summarizer_hook(exploding), "doc_id long, summary string"
    ).collect()
    assert out[0].summary == ""  # row-level containment, not task failure


def test_extractive_summary_deterministic(spark, sf_dir):
    from news_categorization_big_data_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").where(F.col("text") != "").limit(50)
    s1 = {r.doc_id: r.summary for r in extractive_summarize(docs).collect()}
    s2 = {r.doc_id: r.summary for r in extractive_summarize(docs).collect()}
    assert s1 == s2
    assert all(s.startswith("- ") for s in s1.values())


def test_ml_classifier_accuracy_and_fallback(spark):
    """Separable two-class fixture → high accuracy; blank rows → typed
    ('unknown', 0.0) fallback (news_categorization_streaming.py:74-104)."""
    rows = []
    for i in range(60):
        rows.append((i, f"goal match stadium striker win league game {i % 5}", "sports"))
        rows.append((100 + i, f"election senate vote policy bill congress {i % 5}", "political"))
    rows.append((999, "   ", "sports"))  # blank
    df = spark.createDataFrame(rows, "doc_id long, text string, label string")

    model = clf.fit(df, text_col="text", label_col="label")
    scored = clf.classify(model, df, id_col="doc_id", text_col="text")
    out = {r.doc_id: r for r in scored.collect()}
    assert out[999].category == "unknown" and out[999].confidence == 0.0
    correct = sum(
        1
        for i, r in out.items()
        if i != 999 and r.category == ("sports" if i < 100 else "political")
    )
    assert correct / 120 >= 0.95
    assert all(0.0 <= r.confidence <= 1.0 for r in out.values())


def test_keyword_classifier_contract(spark):
    """Keyword scorer: argmax with greatest-category tie-break, unknown
    fallback on zero hits / blank / NULL text, map-only plan (no
    Exchange — the 100-TB contract from the operator docstring)."""
    df = spark.createDataFrame(
        [
            (1, "spark hash spark table"),  # technology 3 vs environmental 1
            (2, "scan filter"),  # 1-1 tie → greatest category name wins
            (3, "zzz yyy"),  # no keyword hits
            (4, "   "),  # blank
            (5, None),  # NULL text
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in clf.classify_keywords(df).collect()}
    assert out[1].category == "technology" and out[1].confidence == 3 / 4
    assert out[2].category == "health news"  # 'health news' > 'environmental news'
    assert all(
        out[i].category == "unknown" and out[i].confidence == 0.0 for i in (3, 4, 5)
    )
    plan = physical_plan(clf.classify_keywords(df))
    assert exchange_counts(plan) == {}, plan


def test_pipeline_digest_bounded_and_stamped(spark, sf_dir):
    """End-to-end digest: every content block ends with the pinned date
    stamp, n_items never exceeds DIGEST_MAX_ITEMS, and the bullets are
    newline-joined in doc_id order (reference news_summarization_batch.py
    :102-111 semantics with the unbounded collect bounded)."""
    from news_categorization_big_data_spark.plans.ml import (
        DIGEST_DATE,
        DIGEST_MAX_ITEMS,
        q_pipeline_digest,
    )

    rows = q_pipeline_digest(spark, sf_dir).collect()
    assert rows, "digest produced no categories"
    for r in rows:
        assert r.content.endswith("\nDate: " + DIGEST_DATE)
        assert 1 <= r.n_items <= DIGEST_MAX_ITEMS
        body = r.content.rsplit("\nDate: ", 1)[0]
        assert all(chunk.startswith("- ") for chunk in body.split("\n- ")[:1])


def test_asof_join_forward_direction(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 250), (3, 10, 201), (4, 30, 100)],
        "event_id int, user_id int, ts int",
    )
    right = spark.createDataFrame(
        [(10, 100, 1.0), (10, 200, 2.0)],
        "user_id int, ts int, price double",
    )
    out = {
        r.event_id: r.price
        for r in asof_join(
            left, right, on="ts", by="user_id", direction="forward"
        ).collect()
    }
    assert out[1] == 1.0  # equal ts matches (>=) — boundary tie
    assert out[2] is None  # every right row is in the past
    assert out[3] is None  # 201 > 200: nearest-after doesn't exist
    assert out[4] is None  # no right rows for user 30


def test_asof_join_tolerance_nulls_stale_matches(spark):
    import datetime as dt

    def t(minute):
        return dt.datetime(2024, 1, 1, 10, minute)

    left = spark.createDataFrame(
        [(1, 10, t(0)), (2, 10, t(40))],
        "event_id int, user_id int, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, t(0), 1.0)], "user_id int, ts timestamp, price double"
    )
    out = {
        r.event_id: r.price
        for r in asof_join(
            left, right, on="ts", by="user_id", tolerance_seconds=1800
        ).collect()
    }
    assert out[1] == 1.0  # 0s old: within 30min
    assert out[2] is None  # 40min old: nearest match exists but is stale


def test_asof_join_rejects_bad_direction(spark):
    df = spark.createDataFrame([(1, 1)], "user_id int, ts int")
    with pytest.raises(ValueError, match="direction"):
        asof_join(df, df, on="ts", by="user_id", direction="nearest")


def test_asof_join_tie_break_duplicate_right_timestamps(spark):
    """Round-14 sf1 find: several right rows on the SAME (by, ts) make
    the un-tie-broken match engine-dependent (the sf1 replica corpus
    has 10 rows per timestamp; DuckDB's native ASOF and an un-ordered
    last() both pick arbitrary tied rows). With tie_break, backward
    picks the GREATEST tied id, forward the SMALLEST — deterministic
    under any partitioning or sort instability."""
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 150)], "event_id int, user_id int, ts int"
    )
    right = spark.createDataFrame(
        [(10, 100, 3, 3.0), (10, 100, 7, 7.0), (10, 100, 5, 5.0),
         (10, 200, 9, 9.0)],
        "user_id int, ts int, rid int, price double",
    )
    back = {
        r.event_id: (r.rid, r.price)
        for r in asof_join(
            left, right, on="ts", by="user_id", tie_break="rid"
        ).collect()
    }
    assert back[1] == (7, 7.0)  # greatest tied id at ts=100
    assert back[2] == (7, 7.0)  # still the latest at-or-before
    fwd = {
        r.event_id: (r.rid, r.price)
        for r in asof_join(
            left, right, on="ts", by="user_id", direction="forward",
            tie_break="rid",
        ).collect()
    }
    assert fwd[1] == (3, 3.0)  # earliest ts=100 group, SMALLEST tied id
    assert fwd[2] == (9, 9.0)  # next at-or-after 150


def test_asof_join_tie_break_null_tie_value_sorts_last_both_engines(spark):
    """r14 ADVICE: Spark's bare asc() is nulls-FIRST while DuckDB's
    default is nulls-LAST, so a tied right row with a NULL tie value
    picked different rows per engine — the exact divergence class
    tie_break exists to kill, reintroduced for null tie columns.
    Pinned rule (operators/asof.py): a NULL tie value sorts LAST in
    both directions, so it WINS the tie in either engine; the DuckDB
    leg below proves the cross-engine agreement the fixtures (non-null
    event_id everywhere) never exercise."""
    import duckdb

    left = spark.createDataFrame(
        [(1, 10, 100)], "event_id int, user_id int, ts int"
    )
    right = spark.createDataFrame(
        [(10, 100, 3, 3.0), (10, 100, None, 99.0), (10, 100, 7, 7.0)],
        "user_id int, ts int, rid int, price double",
    )
    for direction in ("backward", "forward"):
        row = asof_join(
            left, right, on="ts", by="user_id", direction=direction,
            tie_break="rid",
        ).collect()[0]
        assert (row.rid, row.price) == (None, 99.0), direction

    # The oracle shape (plans/timeseries.py q_asof_join) on the same
    # rows: DuckDB's nulls-last default picks the same NULL-tie row.
    con = duckdb.connect()
    got = con.execute("""
        WITH u AS (
          SELECT 10 AS user_id, 100 AS ts, 1 AS side, 1 AS event_id,
                 NULL::INT AS p_id, NULL::DOUBLE AS p_val
          UNION ALL SELECT 10, 100, 0, NULL, 3, 3.0
          UNION ALL SELECT 10, 100, 0, NULL, NULL, 99.0
          UNION ALL SELECT 10, 100, 0, NULL, 7, 7.0
        ), c AS (
          SELECT side, event_id,
                 last_value(CASE WHEN side = 0
                                 THEN struct_pack(pid := p_id, pval := p_val)
                            END IGNORE NULLS)
                   OVER (PARTITION BY user_id
                         ORDER BY ts, side,
                                  CASE WHEN side = 0 THEN p_id END NULLS LAST
                         ROWS UNBOUNDED PRECEDING) AS carried
          FROM u)
        SELECT (carried).pid, (carried).pval FROM c WHERE side = 1
    """).fetchone()
    assert got == (None, 99.0)


def test_asof_join_tie_break_must_be_right_value_column(spark):
    import pytest

    left = spark.createDataFrame([(1, 10, 100)], "event_id int, user_id int, ts int")
    right = spark.createDataFrame([(10, 100, 1.0)], "user_id int, ts int, price double")
    with pytest.raises(ValueError, match="tie_break"):
        asof_join(left, right, on="ts", by="user_id", tie_break="nope")


def test_asof_join_null_timestamp_never_matches(spark):
    """A NULL `on` time matches nothing in either role: null-ts RIGHT
    rows are excluded from the carry; null-ts LEFT rows keep the
    left-join row with null values (pinned before any fixture nulls
    events.ts)."""
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, None)], "event_id int, user_id int, ts int"
    )
    right = spark.createDataFrame(
        [(10, None, 1, 1.0), (10, 50, 2, 2.0)],
        "user_id int, ts int, rid int, price double",
    )
    out = {
        r.event_id: r.rid
        for r in asof_join(
            left, right, on="ts", by="user_id", tie_break="rid"
        ).collect()
    }
    assert out[1] == 2  # the real right row, not the null-ts one
    assert out[2] is None  # null-ts left: kept, unmatched
