"""Per-query profile: where one registry query's wall time went, by layer.

Builds and runs each named query the way perfbench times it
(``fn(spark, sf_dir)``, then ``groupBy().count().collect()``) after
bench.py's sf0.001 warm-up, and prints perfbench's per-layer record of
it (``perfbench/tracing.py``): build time and the jobs the build
started, Catalyst phases, jobs/stages/tasks, executor and shuffle
totals, Python-worker and streaming figures, and the wall time no
layer accounts for.

Usage:
    python tools/profile_query.py <name> [<name> ...] [--sf DIR]

    --sf DIR   data directory (default /root/testdata/sf0.1)

Prints one JSON object: {name: {rows, wall_s, layers}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from tracing import Tracer  # noqa: E402

import bench  # noqa: E402
from dissertation_data_pipeline_spark.plans.registry import QUERIES  # noqa: E402
from dissertation_data_pipeline_spark.session import drop_blocks, get_spark  # noqa: E402


def profile(spark, name: str, sf_dir: str) -> dict:
    """One traced build + action of ``name``: the tracer's record, with
    the per-layer numbers under ``layers``."""
    tracer = Tracer(spark)
    tracer.begin()
    try:
        rec = {"name": name, "j0": tracer.next_job(), "t0": time.time()}
        t0 = time.perf_counter()
        df = QUERIES[name].fn(spark, sf_dir)
        t1 = time.perf_counter()
        rec["j1"], rec["t1"] = tracer.next_job(), time.time()
        cdf = df.groupBy().count()
        rows = cdf.collect()[0][0]
        t2 = time.perf_counter()
        rec["j2"], rec["t2"] = tracer.next_job(), time.time()
        rec["catalyst"], rec["catalyst_spans"] = tracer.catalyst(cdf)
        rec.update(build_s=t1 - t0, wall_s=t2 - t0, rows=rows)
        tracer.attribute([rec])
    finally:
        tracer.close()
        drop_blocks(spark)
    return rec


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="+", help="registry query names")
    ap.add_argument("--sf", default="/root/testdata/sf0.1", help="data dir")
    args = ap.parse_args()
    unknown = [n for n in args.names if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {' '.join(unknown)}")

    spark = get_spark("ddp-profile")
    spark.sparkContext.setLogLevel("ERROR")
    bench.warm_up(spark, args.names, "/root/testdata/sf0.001")
    drop_blocks(spark)

    out = {}
    for name in args.names:
        try:
            rec = profile(spark, name, args.sf)
        except Exception as e:  # reported by name; the rest still run
            out[name] = {"error": bench.error_text(e)}
            continue
        out[name] = {
            "rows": rec["rows"],
            "wall_s": round(rec["wall_s"], 4),
            "layers": {k: round(v, 4) for k, v in rec["layers"].items()},
        }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
