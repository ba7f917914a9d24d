"""LIMIT-0 type audit of every registered oracle SQL in DuckDB.

The driver's correctness gate canonicalizes oracle results through
pandas; DuckDB integer types wider than int64 (HUGEINT / UHUGEINT —
what an un-cast ``SUM(BIGINT)`` returns) coerce to object/float there
and hash differently than Spark's int64, turning a bit-exact query
into a red gate row (round-2 verdict: ext_weighted_median,
ext_repetition_profile, ext_pack_sequences, s_json_props all failed
for exactly this). This test makes that failure class impossible to
ship: each oracle is planned with LIMIT 0 (no data read) and any
HUGEINT/UHUGEINT output column fails the suite.
"""

from __future__ import annotations

import pytest

from dissertation_data_pipeline_spark.canon import oracle_connection
from dissertation_data_pipeline_spark.plans.registry import QUERIES

SF_DIR = "/root/testdata/sf0.001"

#: DuckDB logical types the gate's pandas canonicalizer cannot hash
#: consistently with Spark's output.  Round 5 proved the class is wider
#: than HUGEINT: ``.df()`` floats EVERY DECIMAL (``DECIMAL(18,2)`` ->
#: float64, ``1234.50`` -> ``1234.5``) while Spark keeps
#: object(Decimal) with trailing zeros — so ANY decimal in an oracle's
#: final schema is forbidden, not just precision > 18 (r5 reds:
#: k1_csv_roundtrip, k4_jsonl_roundtrip, k_orc_roundtrip,
#: s_stream_stream_join).  Nested types (LIST/STRUCT/MAP) crash the
#: gate's pandas sort_values canonicalizer outright (r5 red:
#: ext_random_projection, ``unhashable type: 'list'``).
FORBIDDEN = {"HUGEINT", "UHUGEINT", "DECIMAL(", "STRUCT(", "MAP("}

#: substrings that mark a DuckDB LIST type ("INTEGER[]", "DOUBLE[]", …)
_LIST_MARK = "[]"

ORACLED = [n for n, q in QUERIES.items() if q.sql is not None]


@pytest.fixture(scope="module")
def duck():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_output_types_are_gate_safe(duck, name):
    rel = duck.sql(f"SELECT * FROM ({QUERIES[name].sql}) LIMIT 0")
    bad = [
        f"{c}:{t}"
        for c, t in zip(rel.columns, (str(t).upper() for t in rel.types))
        if any(f in t for f in FORBIDDEN) or t.endswith(_LIST_MARK)
    ]
    assert not bad, (
        f"oracle for {name} emits gate-unsafe types {bad}; "
        "final-cast aggregates to BIGINT/DOUBLE and return nested "
        "values in long form (posexplode / lockstep UNNEST)"
    )


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_values_survive_pandas_canonicalization(duck, name):
    """Materialize each oracle through pandas exactly as the driver's
    gate does.  Type-level audits (above) cannot catch value-range
    failures: round 3 shipped a ``TIMESTAMP '9999-12-31'`` open-interval
    sentinel that planned fine but crashed the gate's ``datetime64[ns]``
    conversion (bounds end 2262-04-11).  Running ``.df()`` at sf0.001
    reproduces any such crash locally before the driver sees it."""
    try:
        duck.sql(QUERIES[name].sql).df()
    except Exception as e:  # noqa: BLE001 - any conversion error is a fail
        pytest.fail(
            f"oracle for {name} cannot be canonicalized through pandas "
            f"(the driver gate's path): {type(e).__name__}: {e}"
        )
