"""Pin the bench harness's output contract.

The external driver records only the final ~2000 characters of
bench.py's stdout and parses the LAST line as JSON. Round 14's single
mega-line (per-query noise ratios + cold runs + pass totals + bridge)
outgrew that window and the official BENCH_r14.json landed
``parsed: null`` (r14 VERDICT, What's wrong #1). These tests pin the
round-15 fix: the final line stays compact forever; everything verbose
rides the earlier detail line.
"""

from __future__ import annotations

import json

import bench

#: Worst-case synthetic measurement: every headline query present, with
#: timing values at their widest printed width (round(x, 3) of a
#: four-digit-second run -> 8 chars like 1234.567).
_WORST_PER_PASS = {name: [1234.567, 1234.568] for name in bench.HEADLINE}
_WORST_TIMINGS = {name: 1234.567 for name in bench.HEADLINE}


def _worst_final_line() -> str:
    return bench.final_line(
        total=99999.999,
        timings=_WORST_TIMINGS,
        sf=0.1,
        reps=5,
        per_pass=_WORST_PER_PASS,
        git="abcdef0",
        sf1_summary={"value": 99999.999, "unit": "sec", "reps": 2, "sf": 1.0},
    )


def test_final_line_fits_driver_tail_capture():
    # 1800 leaves 200 chars of slack inside the driver's 2000-char tail
    # window even if a stray newline or prefix rides along.
    line = _worst_final_line()
    assert len(line) < 1800, (
        f"final bench line is {len(line)} chars; the driver's tail "
        "capture is ~2000 — move fields to detail_line, not here"
    )


def test_final_line_is_json_with_driver_contract_fields():
    obj = json.loads(_worst_final_line())
    # The driver-contract fields the round brief requires.
    for field in ("metric", "value", "unit", "queries", "sf", "git",
                  "ensemble_min"):
        assert field in obj, field
    assert obj["unit"] == "sec"
    assert set(obj["queries"]) == set(bench.HEADLINE)
    # The verbose fields must NOT be on the final line — they are what
    # overflowed the round-14 record.
    for banned in ("spread", "cold_first_run", "bridge", "canary"):
        assert banned not in obj, banned
    # sf1 block is compact: scalar summary only, no per-query map.
    assert "queries" not in obj["sf1"]


def test_sf1_queries_line_fits_tail_capture_with_final_line():
    """The second-to-last sf1_queries line plus the final line must
    TOGETHER ride inside the driver's ~2000-char tail capture. Worst
    realistic values: every sf1 query at 99.99 s (a 3000-second sf1
    block would mean a broken round long before an output-size
    problem) and the final line at its r15 observed size + slack."""
    sf1_line = bench.sf1_queries_line({n: 99.99 for n in bench.HEADLINE}, 2)
    obj = json.loads(sf1_line)
    assert set(obj["sf1_queries"]) == set(bench.HEADLINE)
    assert obj["sf"] == 1.0
    assert len(sf1_line) < 900, len(sf1_line)
    # realistic final line: r15 official record measured 1058 chars;
    # allow 1100 and require the pair to leave >= 50 chars of slack.
    assert len(sf1_line) + 1100 + 2 < 2000, len(sf1_line)


def test_detail_line_carries_the_verbose_fields():
    obj = json.loads(
        bench.detail_line(_WORST_PER_PASS, 2, 0.1,
                          sf1_detail={"queries": _WORST_TIMINGS, "reps": 2})
    )
    for field in ("spread", "cold_first_run", "bridge", "canary"):
        assert field in obj, field
    assert obj["spread"]["pass_totals"]
    assert obj["sf1"]["queries"]


def test_final_line_survives_single_pass_data():
    # reps floor is 2 in main(), but final_line itself must not divide
    # by zero or index past a 1-element pass list.
    per_pass = {name: [1.0] for name in bench.HEADLINE}
    obj = json.loads(
        bench.final_line(30.0, {n: 1.0 for n in bench.HEADLINE}, 0.1, 1,
                         per_pass, "deadbee")
    )
    assert obj["canary_last"] == 1.0
    assert obj["worst_noise_ratio"] == 1.0
    assert "sf1" not in obj


def test_sf_is_null_for_a_dir_not_named_sf_n():
    # an edge axis (FIXTURES.md) has no scale factor in its name: the
    # bench reports sf null and runs on
    assert bench.sf_of("/tmp/sf1") == 1.0 and bench.sf_of("data/sf0.1/") == 0.1
    assert bench.sf_of("/tmp/skew1") is None
    per_pass = {name: [1.0] for name in bench.HEADLINE}
    assert json.loads(bench.detail_line(per_pass, 1, None))["sf"] is None
    assert json.loads(bench.final_line(1.0, {}, None, 1, per_pass, "deadbee"))["sf"] is None

