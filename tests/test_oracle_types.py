"""Guard against the oracle-typing bug class behind every red hash in
rounds 1 and 2: the external driver fetches DuckDB oracle rows via
pandas, where HUGEINT (count_if, un-cast SUM over BIGINT) converts to
float64 and renders "150.0" against Spark's "150" — rows and schema
match, the value hash doesn't. DESCRIBE plans each oracle without
executing it, so this sweep is cheap and covers every registered query.
"""

from __future__ import annotations

import pytest

from news_categorization_big_data_spark.plans import REGISTRY

#: Types pandas renders as float64 (or object-decimal), breaking the
#: driver's repr()-based value hash against Spark's integer rendering.
FORBIDDEN = ("HUGEINT", "UHUGEINT", "UBIGINT", "DECIMAL")


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_oracle_emits_no_pandas_lossy_types(duck, name):
    rows = duck.execute(f"DESCRIBE {REGISTRY[name].oracle}").fetchall()
    bad = [
        (col, typ)
        for col, typ, *_ in rows
        if any(f in typ.upper() for f in FORBIDDEN)
    ]
    assert not bad, (
        f"{name}: oracle output columns {bad} would reach the driver as "
        "pandas float64/object and red-hash against Spark's integer "
        "rendering — CAST them to BIGINT/DOUBLE in the oracle SQL"
    )


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_oracle_emits_only_scalar_columns(duck, name):
    """Guard against round 3's sole red row: the external driver
    canonicalizes both result sets through a pandas ``sort_values`` over
    every column, and a list/struct/map cell arrives as a numpy array —
    unhashable, so the sort raises ``TypeError`` and the whole query is
    recorded as an error (q_embedding_quantize, CORRECTNESS_r03).
    Oracle-bearing queries must therefore emit scalar columns only;
    serialize arrays with array_to_string / array_join."""
    rows = duck.execute(f"DESCRIBE {REGISTRY[name].oracle}").fetchall()
    bad = [
        (col, typ)
        for col, typ, *_ in rows
        if "[]" in typ or any(t in typ.upper() for t in ("STRUCT", "MAP", "UNION"))
    ]
    assert not bad, (
        f"{name}: non-scalar oracle output columns {bad} crash the "
        "driver's pandas sort — serialize them (array_to_string) instead"
    )
    # DATE renders asymmetrically through the driver's fetch paths
    # (Spark collect → datetime.date, DuckDB numpy/pandas → midnight
    # datetime/Timestamp) and red-hashes even when values agree;
    # TIMESTAMP is symmetric and fine. Render dates with
    # strftime/date_format instead (see q_percent_change).
    bad_dates = [(col, typ) for col, typ, *_ in rows if typ.upper() == "DATE"]
    assert not bad_dates, (
        f"{name}: DATE output columns {bad_dates} render asymmetrically "
        "across the driver's fetch paths — emit strftime strings instead"
    )


def test_spark_side_emits_only_scalar_columns(registry_plans):
    """Mirror of the oracle-side scalar guard on the Spark plan schema:
    the driver sorts the Spark result through the same pandas canon, so
    an ArrayType/MapType/StructType output column red-errors the row
    even when the oracle side is serialized (schema_match compares
    column NAMES only, not types — it would not catch the divergence).

    Sweeps every registered query's Spark schema, so an array column
    is caught at plan time rather than by the collect-time probe —
    q_quantile_sketch redded the official round-4 run exactly this way
    (CORRECTNESS_r04)."""
    from pyspark.sql.types import ArrayType, DateType, MapType, StructType

    bad = {}
    for name, (schema, _) in registry_plans.items():
        offending = [
            (f.name, f.dataType.simpleString())
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, DateType, MapType, StructType))
        ]
        if offending:
            bad[name] = offending
    assert not bad, (
        f"non-scalar/DATE Spark output columns break the driver's canon "
        f"(arrays crash the pandas sort; DATE renders asymmetrically vs "
        f"the oracle's midnight datetimes): {bad} — serialize with "
        f"F.array_join / to_json / F.date_format"
    )
