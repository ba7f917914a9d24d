"""Capture `.explain("formatted")` for named queries to plans/<round>/.

Usage:
    python tools/dump_plan_round.py <round> before|after <name> [<name> ...]

Writes plans/<round>/<name>_<tag>.txt (e.g. round ``r10``) — the
checkable evidence for every plan claim in OPTIMIZATION_<round>.md.
Uses sf0.001 (plan shapes are size-independent modulo AQE's runtime
picks, and several queries execute eagerly while building — small SF
keeps capture cheap).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

USAGE = (
    "usage: python tools/dump_plan_round.py <round> before|after "
    "<name> [<name> ...]  (round like r10)"
)


def main(argv: list[str]) -> None:
    if (
        len(argv) < 3
        or not re.fullmatch(r"r\d+", argv[0])
        or argv[1] not in ("before", "after")
    ):
        sys.exit(USAGE)  # before Spark starts: nothing written
    rnd, tag, names = argv[0], argv[1], argv[2:]

    from dissertation_data_pipeline_spark.plans.registry import QUERIES
    from dissertation_data_pipeline_spark.session import drop_blocks, get_spark, plan_text

    spark = get_spark(f"ddp-dump-plan-{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outdir = os.path.join(here, "plans", rnd)
    os.makedirs(outdir, exist_ok=True)

    for name in names:
        if name not in QUERIES:
            print(f"unknown query {name!r}")
            continue
        df = QUERIES[name].fn(spark, SF_DIR)
        plan = plan_text(df)
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — {tag} (sf_dir={SF_DIR})\n\n")
            fh.write(plan)
        print(f"wrote {path}")
        drop_blocks(spark)


if __name__ == "__main__":
    main(sys.argv[1:])
