"""Gaps-and-islands sessionization (functions/sessions.py) against a
pure-Python reference on adversarial inputs: sessions spanning several
days, boundary gaps at exactly the session gap, timestamp ties, sparse
users, a NULL user and NULL timestamps."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from news_categorization_big_data_spark.functions.sessions import sessionize_ids

HOUR_US = 3600 * 1_000_000
GAP = 6 * HOUR_US  # the q_sessionize gap


def _mk(spark, rows):
    df = spark.createDataFrame(rows, "user_id long, event_id long, us long")
    return df.withColumn(
        "ts", F.when(F.col("us").isNotNull(), F.timestamp_micros(F.col("us")))
    ).drop("us")


def _ids(df):
    return {
        (r.user_id, r.event_id): r.sid
        for r in df.select("user_id", "event_id", "sid").collect()
    }


def _reference(rows, gap):
    """Per user, in (ts, event_id) order: a new session after a silence
    STRICTLY greater than ``gap``; NULL-ts rows belong to no session."""
    by_user: dict = {}
    for user, eid, us in rows:
        if us is not None:
            by_user.setdefault(user, []).append((us, eid))
    out = {}
    for user, evs in by_user.items():
        sid, prev = 0, None
        for us, eid in sorted(evs):
            if prev is None or us - prev > gap:
                sid += 1
            out[(user, eid)] = sid
            prev = us
    return out


BASE = 1_700_000_000_000_000  # fixed epoch-µs anchor


def _adversarial_rows():
    """One user whose single session spans 4 days, a second session
    after a > gap silence, boundary events exactly gap apart (same
    session: rule is STRICTLY > gap), a tie at a day edge, and a second
    user with single sparse events."""
    day = 24 * HOUR_US
    rows = []
    eid = 0
    # user 1: events every 5h for 4 days -> ONE session
    t = BASE
    for i in range(20):
        rows.append((1, (eid := eid + 1), t))
        t += 5 * HOUR_US
    # silence of exactly GAP -> still the SAME session (> gap required)
    rows.append((1, (eid := eid + 1), t + GAP - 5 * HOUR_US))
    # silence > gap -> new session
    t2 = t + GAP - 5 * HOUR_US + GAP + 1
    rows.append((1, (eid := eid + 1), t2))
    # tie: two events at an exact day boundary instant
    edge = ((BASE // day) + 10) * day
    rows.append((1, (eid := eid + 1), edge))
    rows.append((1, (eid := eid + 1), edge))
    # user 2: sparse singletons days apart
    for k in range(5):
        rows.append((2, (eid := eid + 1), BASE + k * 3 * day))
    return rows


def test_sessionize_matches_reference_on_adversarial_stream(spark):
    rows = _adversarial_rows()
    got = _ids(sessionize_ids(_mk(spark, rows).repartition(16), GAP))
    assert got == _reference(rows, GAP)
    # three sessions: the 4-day chain, the post-gap event, the edge pair
    assert max(v for (u, _), v in got.items() if u == 1) == 3


@st.composite
def _streams(draw):
    """Random multi-user event streams with gaps straddling the session
    threshold and the day width, so boundary cases are drawn
    constantly."""
    n_users = draw(st.integers(1, 3))
    rows = []
    eid = 0
    for u in range(n_users):
        t = BASE + draw(st.integers(0, 10 * HOUR_US))
        for _ in range(draw(st.integers(1, 25))):
            rows.append((u, (eid := eid + 1), t))
            t += draw(
                st.sampled_from(
                    [1, HOUR_US, GAP - 1, GAP, GAP + 1, 24 * HOUR_US - 1,
                     24 * HOUR_US, 24 * HOUR_US + 1, 3 * 24 * HOUR_US]
                )
            )
    return rows


@settings(max_examples=15, deadline=None)
@given(_streams())
def test_sessionize_matches_reference_property(spark, rows):
    assert _ids(sessionize_ids(_mk(spark, rows), GAP)) == _reference(rows, GAP)


def test_sessionize_keeps_null_user_drops_null_ts(spark):
    """A NULL user is a real group (the null-ish bot of the hot-user
    axis). NULL TIMESTAMPS are dropped BY POLICY (skew10 axis): a
    session is a time interval, Spark's own session_window drops
    unassignable rows, and keeping them inherits each engine's
    different null sort order."""
    rows = [
        (None, 1, BASE),
        (None, 2, BASE + HOUR_US),
        (None, 3, BASE + HOUR_US + GAP + 1),
        (7, 4, None),  # NULL ts: excluded from sessionization by policy
        (7, 5, None),
        (7, 6, BASE),
    ]
    got = _ids(sessionize_ids(_mk(spark, rows), GAP))
    assert got == {(None, 1): 1, (None, 2): 1, (None, 3): 2, (7, 6): 1}
    assert got == _reference(rows, GAP)
