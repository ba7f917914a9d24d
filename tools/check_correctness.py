"""Self-check harness mimicking the driver's t2 gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column
names, and an order-insensitive value hash.

The PRIMARY hash is taken from the **pandas-canonicalized** values —
``DataFrame.toPandas()`` on the Spark side and ``rel.df()`` on the
DuckDB side — because that is the driver gate's path.  The two
conversions are NOT symmetric, and that asymmetry is the round-5
failure class this mirror must reproduce:

- DuckDB ``.df()`` converts every DECIMAL to float64 (``1234.50`` ->
  ``1234.5``) while Spark ``toPandas()`` keeps ``DecimalType`` as
  object(Decimal) (``"1234.50"``) — so any DECIMAL in the FINAL schema
  hash-mismatches even when bit-exact (r5: k1/k4/orc round-trips,
  s_stream_stream_join).
- list/array/struct values are unhashable in the driver's pandas
  ``sort_values`` canonicalizer — a hard err, not a mismatch (r5:
  ext_random_projection).  This mirror raises the same way.

A SECONDARY value-exactness probe hashes Python-native values
(``collect()`` vs ``fetchall()``) — it answers "are the values actually
equal?" independently of the gate's canon, so a red row can be
classified as a value bug (both probes fail) or a canon bug (pandas
probe fails, native probe passes).  r5 shipped 5 canon bugs because the
OLD version of this tool hashed only the native path.

Usage:  python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys
import time
from decimal import Decimal

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dissertation_data_pipeline_spark.canon import (  # noqa: E402
    canon_lines,
    oracle_connection,
    table_fingerprint,
)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


class GateUnsafe(Exception):
    """A value the driver's pandas canonicalizer cannot hash (lists,
    ndarrays, dicts/structs) — renders as a driver ``err``."""


def canon_pd(v):
    """Pandas-path canon (toPandas()/.df() values) — the PRIMARY probe.

    Deliberately does NOT paper over the engines' asymmetries: a
    Decimal stringifies with its trailing zeros ("1234.50") while a
    float64 renders shortest ("1234.5"), exactly the drift the driver
    sees.  The only normalization is date-vs-midnight-timestamp (DuckDB
    ``.df()`` widens DATE to datetime64[ns]; the driver's canon treats
    those as equal, as every green date-output row since r1 shows).
    """
    if v is None:
        return "NULL"
    if isinstance(v, (list, dict, np.ndarray)):
        raise GateUnsafe(f"unhashable {type(v).__name__} value in output")
    # pd.isna on scalars only (arrays already rejected above)
    try:
        if pd.isna(v):
            return "NULL" if not isinstance(v, float) else "NaN"
    except (TypeError, ValueError):
        pass
    if isinstance(v, Decimal):
        return str(v)  # trailing zeros INTACT — the asymmetry to catch
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return f"{f:.6g}"
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v)).lower()
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is None and v == v.normalize():
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.datetime):
        return canon_pd(pd.Timestamp(v))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _pdf_rows(pdf: pd.DataFrame):
    return list(pdf.columns), [
        tuple(r) for r in pdf.itertuples(index=False, name=None)
    ]


def main():
    import __spark_entry__ as entrymod
    from dissertation_data_pipeline_spark.session import drop_blocks, get_spark

    spark = get_spark("correctness-check")
    con = oracle_connection(SF_DIR)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        # drop the PREVIOUS query's localCheckpoint blocks (and any it
        # persisted) before starting this one — runs on every path
        # incl. error-continues; across 226 queries the blocks
        # otherwise accumulate in the shared local-mode JVM (shared
        # helper, also used by bench.py between timed executions)
        drop_blocks(spark)
        t0 = time.time()
        try:
            # localCheckpoint: execute the plan ONCE, then serve both
            # the native collect() and the pandas conversion from the
            # materialized blocks (mirrors the temp-table trick on the
            # DuckDB side below — without it multi-minute sf>=1 plans
            # run twice)
            sdf = fn(spark, SF_DIR).localCheckpoint()
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"okay {name}: rows-only check, {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            # Materialize the oracle ONCE into a temp table (lazy
            # relations re-execute the full query per fetch, which
            # doubles multi-minute oracles at sf>=1), then take both
            # reads from it: .df() is the PRIMARY (driver-mirroring)
            # hash source, fetchall() the secondary value probe.
            con.execute(f"CREATE OR REPLACE TEMP TABLE _oracle AS {sql}")
            rel = con.sql("SELECT * FROM _oracle")
            dcols = [c for c in rel.columns]
            dpdf = con.sql("SELECT * FROM _oracle").df()
            drows = [tuple(r) for r in rel.fetchall()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            problems.append(f"columns {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            # PRIMARY: pandas-canonicalized hash (the driver's path)
            try:
                spcols, sprows = _pdf_rows(spdf)
                dpcols, dprows = _pdf_rows(dpdf)
                sph = table_fingerprint(spcols, sprows, canon_pd)
                dph = table_fingerprint(dpcols, dprows, canon_pd)
                if sph != dph:
                    problems.append("pandas-canon hash mismatch")
                    spset = set(canon_lines(spcols, sprows, canon_pd))
                    dpset = set(canon_lines(dpcols, dprows, canon_pd))
                    for x in list(spset - dpset)[:3]:
                        print(f"    spark-pd-only: {x[:200]}")
                    for x in list(dpset - spset)[:3]:
                        print(f"    duck-pd-only : {x[:200]}")
            except GateUnsafe as e:
                problems.append(f"gate-unsafe output: {e}")
            # SECONDARY: Python-native value-exactness probe
            if table_fingerprint(scols, srows) != table_fingerprint(dcols, drows):
                problems.append("native value-hash mismatch")
                sset = set(canon_lines(scols, srows))
                dset = set(canon_lines(dcols, drows))
                for x in list(sset - dset)[:3]:
                    print(f"    spark-only: {x[:200]}")
                for x in list(dset - sset)[:3]:
                    print(f"    duck-only : {x[:200]}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} ({time.time()-t0:.1f}s)")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
