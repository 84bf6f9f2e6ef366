"""Gaps-and-islands sessionization.

Session id = running sum of new-session flags over each user's
(ts, tiebreak) order, expressed as one ``Window.partitionBy(user)``.
Per-user partitions sort spill-safely (UnsafeExternalSorter), so a
skewed user degrades to a straggler, never a wrong answer (proven:
/tmp/skew2's 30%-hot user, 8/8 family oracle MATCH, SCALE.md round 12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize_ids(
    ev: DataFrame,
    gap_us: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tie_col: str = "event_id",
    out: str = "sid",
) -> DataFrame:
    """ev + ``out`` = per-user 1-based session index under the
    gaps-and-islands rule (new session after a silence > ``gap_us``),
    numbered in (ts, tie) order. (user_col, ts_col, tie_col) must be a
    TOTAL order (tie_col unique per (user, ts)).
    """
    # Event-time assignment: a session IS a time interval, so a row
    # with a NULL event time cannot belong to one — dropped, exactly as
    # Spark's session_window does (skew10 axis; the registered oracle
    # filters identically). Without this the two engines also disagree
    # on where nulls SORT (Spark ASC default is nulls-first, DuckDB's
    # nulls-last), so null rows would split sessions differently.
    ev = ev.where(F.col(ts_col).isNotNull())
    us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(user_col).orderBy(ts_col, tie_col)
    prev = F.lag(us).over(w)
    new_sess = F.when(prev.isNull() | (us - prev > gap_us), 1).otherwise(0)
    sid = F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.withColumn(out, sid)
