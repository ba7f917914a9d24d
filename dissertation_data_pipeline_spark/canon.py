"""Order-insensitive result fingerprints for comparing a query's Spark
output with its DuckDB oracle.

A row becomes one line: its values rendered by a canonicalizer and
joined with ``|``, columns taken in case-insensitive name order (the
engines agree on column names only up to case).  The fingerprint is the
sha256 of the sorted lines, so row order never matters.  Used by
``tests/test_registry_oracle.py`` and ``tools/check_correctness.py``,
which run the oracle SQL on ``oracle_connection``.
"""

from __future__ import annotations

import hashlib
import math


def canon(v) -> str:
    """Render one Python-native value (``collect()`` / ``fetchall()``):
    floats to 6 significant digits, bytes as hex, sequences element-wise."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def canon_lines(cols, rows, canon_fn=canon) -> list[str]:
    """One line per row, in row order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return ["|".join(canon_fn(r[i]) for i in order) for r in rows]


def table_fingerprint(cols, rows, canon_fn=canon) -> str:
    h = hashlib.sha256()
    for line in sorted(canon_lines(cols, rows, canon_fn)):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one ``read_parquet`` view per table of
    ``sf_dir``, named as the registry's oracle SQL names them."""
    import duckdb

    from dissertation_data_pipeline_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con
