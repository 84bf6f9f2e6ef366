"""Pin tools/query_profile.py: the record's keys and types in both modes,
its scan and exchange counts against the plan-text helpers, the pins a
pinned query reports, a failed query recorded while the loop moves on
(and bench.py refusing to drop one), ``--plans`` captures of one
session byte-equal, and unknown names rejected before Spark starts."""

from __future__ import annotations

import dataclasses
import json
import os
import subprocess
import sys

import pytest

import bench
from news_categorization_big_data_spark.functions.plan_text import exchange_counts, uncached_file_scans
from news_categorization_big_data_spark.plans import REGISTRY
from tools.query_profile import FIELDS, run_passes, summary

EXEC_FIELDS = FIELDS[FIELDS.index("exec_s"):FIELDS.index("pins")]
#: q_tpch_q5: six scans and five broadcasts; q_dedup_ngram_jaccard: a
#: pinned shingle-set table (persist_sets); q_multimodal_decode: a
#: Python-worker stage
EXECUTED = ("q_tpch_q5", "q_dedup_ngram_jaccard", "q_multimodal_decode")


@pytest.fixture(scope="module")
def executed(spark, sf_dir):
    return {n: recs[0] for n, recs in run_passes(spark, sf_dir, list(EXECUTED), 1).items()}


def _assert_schema(rec: dict, executed: bool) -> None:
    assert tuple(rec) == FIELDS and json.loads(json.dumps(rec)) == rec
    assert rec["pass"] == 0 and rec["error"] is None
    for key in ("wall_s", "build_s", "analysis_s", "optimization_s", "planning_s"):
        assert isinstance(rec[key], float) and rec[key] >= 0, key
    assert all(type(v) is int for v in [rec["eager_jobs"], rec["pins"], rec["scans"],
                                        *rec["exchanges"].values()])
    for key in EXEC_FIELDS:
        assert (rec[key] >= 0) if executed else (rec[key] is None), key


def test_record_schema(spark, sf_dir, executed):
    (planned,) = run_passes(spark, sf_dir, ["q_tpch_q5"], 0)["q_tpch_q5"]
    _assert_schema(planned, executed=False)
    for rec in executed.values():
        _assert_schema(rec, executed=True)
        assert rec["tasks"] > 0 and rec["stage_skew"] >= 1.0
    assert executed["q_multimodal_decode"]["python_rows"] > 0
    assert executed["q_tpch_q5"]["python_rows"] == 0


def test_counts_match_plan_text_helpers(executed, registry_plans):
    for name, rec in executed.items():
        plan = registry_plans[name].plan
        assert rec["scans"] == uncached_file_scans(plan), name
        assert rec["exchanges"] == dict(exchange_counts(plan)), name
    assert executed["q_tpch_q5"]["exchanges"]["broadcast"] == 5


def test_pinned_query_reports_its_pins(executed):
    assert executed["q_dedup_ngram_jaccard"]["pins"] >= 1
    assert executed["q_tpch_q5"]["pins"] == 0


def test_failed_query_is_recorded_and_the_loop_moves_on(spark, sf_dir, monkeypatch):
    boom = dataclasses.replace(REGISTRY["q_scan_parquet"], builder=lambda spark, sf_dir: 1 / 0)
    monkeypatch.setitem(REGISTRY, "q_boom", boom)
    records = run_passes(spark, sf_dir, ["q_boom", "q_scan_parquet"], 2)
    (failed,) = records["q_boom"]
    assert failed["error"] == "ZeroDivisionError: division by zero" and failed["wall_s"] is None
    assert [r["error"] for r in records["q_scan_parquet"]] == [None, None]
    out = summary(records, sf_dir, 2)
    assert out["errors"] == {"q_boom": failed["error"]}
    assert [q for q, _, _ in out["ranked"]] == ["q_scan_parquet"]
    # bench.py times through the same loop but never drops a query
    monkeypatch.setattr(bench, "HEADLINE", ["q_scan_parquet", "q_boom"])
    with pytest.raises(RuntimeError, match="q_boom"):
        bench.headline_passes(spark, sf_dir, 1)


def test_plan_captures_of_one_session_are_byte_equal(spark, sf_dir, tmp_path):
    # exchange plan ids and expression ids come from JVM-global counters,
    # so the second capture's raw explain numbers both differently
    dirs = [tmp_path / "a", tmp_path / "b"]
    for d in dirs:
        run_passes(spark, sf_dir, ["q_group_stats"], 0, plans_dir=str(d))
    a, b = ((d / "q_group_stats.txt").read_bytes() for d in dirs)
    assert b"plan_id=N" in a and a == b


def test_unknown_name_exits_before_spark_starts():
    out = subprocess.run(
        [sys.executable, os.path.join("tools", "query_profile.py"), "q_scan_parquet", "q_no_such"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode != 0 and not out.stdout
    assert "unknown queries: ['q_no_such']" in out.stderr and "log4j" not in out.stderr
