"""Oracle-equivalence tests: every registry query vs its DuckDB twin.

Mirrors the driver's t2 gate (row count + column set + order-insensitive
value hash) at sf0.001 so the full suite stays fast; the driver runs the
same comparison at sf0.01.

Each query's output schema is also checked against ``SAFE``
(test_query_output_schema_is_gate_safe): the gate canonicalizes Spark
results through pandas (``toPandas()`` + sort_values + per-value
stringify), which crashes on nested types (``unhashable type: 'list'``)
and mis-hashes DECIMAL (Spark keeps object(Decimal) with trailing zeros,
DuckDB ``.df()`` floats to the shortest repr) — the class behind all five
round-5 gate failures.  test_oracle_types polices the DuckDB side of the
same hazard.  Building a query at sf0.001 executes its side-effectful
rows (streaming drains, sink round-trips), so each query is built once:
the oracle test records the schema it built, and the schema test only
builds the queries it finds unrecorded (e.g. when run on its own).
"""

from __future__ import annotations

import pytest

from dissertation_data_pipeline_spark.canon import oracle_connection, table_fingerprint
from dissertation_data_pipeline_spark.plans.registry import QUERIES

SF_DIR = "/root/testdata/sf0.001"

#: Spark ``DataType.typeName()`` values the gate's pandas canonicalizer
#: hashes consistently with the DuckDB oracle.
SAFE = {
    "string", "long", "integer", "short", "byte", "double", "float",
    "boolean", "date", "timestamp", "timestamp_ntz", "binary",
}


@pytest.fixture(scope="module")
def duck():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="module")
def schemas():
    """Output schema per query name, recorded by whichever test builds it."""
    return {}


def build(spark, schemas, name):
    sdf = QUERIES[name].fn(spark, SF_DIR)
    schemas[name] = sdf.schema
    return sdf


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, duck, schemas, name):
    q = QUERIES[name]
    sdf = build(spark, schemas, name)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if q.sql is None:
        assert srows is not None  # rows-only check: it ran
        return
    rel = duck.sql(q.sql)
    dcols = list(rel.columns)
    drows = [tuple(r) for r in rel.fetchall()]
    assert len(srows) == len(drows), f"rowcount {len(srows)} != {len(drows)}"
    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols)
    assert table_fingerprint(scols, srows) == table_fingerprint(dcols, drows)


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_output_schema_is_gate_safe(spark, schemas, name):
    if name not in schemas:
        build(spark, schemas, name)
    hazards = [
        f"{f.name}:{f.dataType.typeName()}"
        for f in schemas[name].fields
        if f.dataType.typeName() not in SAFE
    ]
    assert not hazards, (
        f"{name} returns gate-unsafe output types {hazards}; final-cast "
        "DECIMAL to double at the edge and posexplode nested values "
        "(the gate's pandas canon floats/crashes on them)"
    )
