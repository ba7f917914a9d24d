"""Regenerate PLAN_STATS.md: per-query physical-plan shuffle inventory.

Every `groupBy`/`join`/`distinct`/`repartition` is a shuffle; at 100 TB
the shuffle count is the cost model. This tool plans every registry
query at sf0.001 and records its Exchange inventory:

- **shuffles**: `Exchange (hash|range|single)partitioning` nodes —
  data movement proportional to input size;
- **broadcasts**: `BroadcastExchange` nodes — movement proportional to
  the (small) build side only.

`tests/test_plans.py::test_shuffle_budget` enforces the cap; this file
is the reviewable audit trail. Iterative operators (connected
components, PageRank, IVF training) cut lineage with localCheckpoint,
so their *returned* plan is post-loop — their per-round shuffles are
documented in their module docstrings instead.

Usage: python tools/plan_stats.py   (writes PLAN_STATS.md at repo root)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def count_exchanges(plan: str) -> tuple[int, int]:
    shuffles = len(re.findall(r"\bExchange (hash|range|single)", plan, re.I))
    if shuffles == 0:
        # formatted plans spell it "Exchange" in the op list; fall back
        # to counting op-list lines that are plain Exchange
        shuffles = len(
            re.findall(r"^\s*[+:|-]*\s*\*?\(?\d*\)?\s*Exchange\b", plan, re.M)
        ) - plan.count("BroadcastExchange")
        shuffles = max(shuffles, 0)
    broadcasts = plan.count("BroadcastExchange")
    return shuffles, broadcasts


def main() -> None:
    from dissertation_data_pipeline_spark.plans.registry import QUERIES
    from dissertation_data_pipeline_spark.session import get_spark, plan_text

    spark = get_spark("ddp-plan-stats")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, q in QUERIES.items():
        try:
            df = q.fn(spark, SF_DIR)
            s, b = count_exchanges(plan_text(df))
            rows.append((name, s, b))
        except Exception as ex:  # pragma: no cover - diagnostic path
            rows.append((name, -1, -1))
            print(f"PLAN FAIL {name}: {ex}", file=sys.stderr)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "PLAN_STATS.md"), "w") as fh:
        fh.write(
            "# PLAN_STATS — shuffle inventory per registry query\n\n"
            "Generated by `tools/plan_stats.py` (sf0.001; plan shapes are "
            "size-independent modulo AQE broadcast picks). `shuffles` = "
            "Exchange(hash/range/single) nodes, `broadcasts` = "
            "BroadcastExchange nodes. The budget cap is enforced by "
            "`tests/test_plans.py::test_shuffle_budget`.\n\n"
            "| query | shuffles | broadcasts |\n|---|---|---|\n"
        )
        for name, s, b in sorted(rows, key=lambda r: (-r[1], r[0])):
            fh.write(f"| {name} | {s} | {b} |\n")
    worst = max(r[1] for r in rows)
    print(f"PLAN_STATS.md written ({len(rows)} queries, max shuffles {worst})")


if __name__ == "__main__":
    main()
