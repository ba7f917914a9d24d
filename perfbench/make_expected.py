#!/usr/bin/env python3
"""Regenerate ``expected_counts.json``: the row count of every workload
query at every scale factor the benchmark uses, computed by the query
registry's DuckDB oracle over the benchmark's own generated tables.

    python3 perfbench/make_expected.py

The counts depend only on the scale factor (``datagen`` uses a fixed data
seed); the workload seed only permutes row order, which no count may
depend on.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import datagen  # noqa: E402
from workloads import SMOKE_SF, WORKLOADS  # noqa: E402


def main() -> None:
    from dissertation_data_pipeline_spark.plans.registry import QUERIES

    out: dict[str, dict[str, int]] = {}
    work = os.path.join(ROOT, ".perfbench", "expected")
    for sf in sorted({SMOKE_SF} | {w.sf for w in WORKLOADS.values()}):
        shutil.rmtree(work, ignore_errors=True)
        datagen.stage(datagen.build_tables(sf), work, order_seed=None)
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/{t}.parquet')")
        names = sorted({q for w in WORKLOADS.values() for q in w.queries})
        out[str(sf)] = {
            n: con.execute(f"SELECT count(*) FROM ({QUERIES[n].sql})").fetchone()[0]
            for n in names
        }
        con.close()
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "expected_counts.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
