#!/usr/bin/env python3
"""Scale-trend bench: time a query set at several SFs, report growth.

The per-round driver bench (bench.py) measures one SF; the 100 TB
argument needs the *trend* — how per-query wall-clock grows across a
data decade. This runner times the heavy families (pair-dedup,
connected components, ANN/IVF layout probe, curation, graph) plus
shuffle/agg controls at each given SF dir and emits a JSON file of
per-query best-of-N timings and growth ratios vs the first SF.

Usage:
    python tools/bench_scale.py OUT.json DIR1 DIR2 [...]
e.g.
    python tools/bench_scale.py BENCH_SCALE.json \
        /root/testdata/sf0.1 .localdata/sf1

Each SF leg runs bench.py's warm-up and timed passes (``bench.warm_up``,
``bench.run_passes``) and keeps each query's best pass. Best-of-N
(N=2) is used because run-to-run noise on this host is +-15-25%; a
growth ratio read from best-of-N is robust for the >=2x calls that
matter here. A query that fails in any pass is reported on stderr by
name, pass and phase and left out of its leg.

Data beyond the shipped testdata comes from perfbench's generator
(same ten tables and scaling laws; BASELINE.md), e.g. sf1, from the
repo root:

    python -c "import sys; sys.path.insert(0, 'perfbench'); import datagen; \
datagen.stage(datagen.build_tables(1), '.localdata/sf1', None)"
"""

from __future__ import annotations

import json
import os
import sys

# The sf10 legs run ~2 GB of localCheckpoint blocks + shuffle state +
# legitimate broadcast builds inside ONE local-mode JVM that is driver
# and all 32 executors at once; at the default 8g a marginal broadcast
# build can OOM ("Not enough memory to build and broadcast") even
# though the same plan is comfortable on any real cluster, where the
# driver does not carry executor heaps. Size the measurement JVM
# honestly; the env override still wins.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "12g")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from dissertation_data_pipeline_spark.plans.registry import QUERIES  # noqa: E402
from dissertation_data_pipeline_spark.session import get_spark  # noqa: E402

#: trend set — every scale-sensitive family, plus linear-scan controls
TREND = [
    # pair-dedup / near-dup
    "ext_minhash_lsh_pairs", "ext_simhash_pairs",
    "ext_blocked_jaccard_pairs", "ext_capped_jaccard_pairs",
    "ext_containment_pairs", "ext_dup_ngram_fraction",
    "ext_repeated_substring_spans", "ext_semantic_dedup",
    "ext_dedup_exact", "ext_dedup_incremental",
    # iterative graph / clustering
    "ext_near_dup_components", "ext_triangle_count",
    "ext_pagerank_transitions", "ext_entity_resolution",
    # ANN / embeddings
    "ext_ann_brute_topk", "ext_ann_ivf_topk",
    "ext_ann_ivf_partitioned_topk", "ext_ann_pq_rerank",
    "ext_ann_ivfpq_rerank", "ext_embedding_near_dup",
    # end-to-end compositions
    "ext_curation_pipeline", "ext_cdc_scd2_pipeline",
    # shuffle/agg/window controls (expected ~linear)
    "flagship_corpus_rollup", "tpch_q1_pricing_summary",
    "tpch_q9_product_profit", "tpch_q18_large_volume_customers",
    "ext_sessionize_batch", "ext_scd2_history",
    "ext_count_min_hitters", "ext_bpe_pair_counts",
    "ext_hll_distinct",
    # round-4 additions: classifier filter (explode+broadcast),
    # mixture planning (pure agg), NFC (narrow pandas-UDF map), shard
    # stats (uniform-hash agg), ANN eval (brute leg = |q| x corpus),
    # real-streaming stateful drain
    "ext_classifier_quality_filter", "ext_temperature_mixture",
    "ext_unicode_nfc", "ext_shard_assignment",
    "ext_ann_recall_at_10", "s_stateful_profile",
    # round-6 additions: small-file compaction (layout rewrite),
    # bucketed co-located join (zero-Exchange claim at every SF),
    # negative-result enrichment cache (anti-join + bounded fetch),
    # stream-stream join with genuine state eviction (multi-batch
    # drain under a tight watermark)
    "ext_compact_small_files", "ext_bucketed_join",
    "i4_negative_cache", "s_stream_stream_join_evict",
    # scalable global enumeration (range layout + per-partition
    # counters; the checkpointed rewrite IS the job)
    "ext_dense_ids",
]

REPS = 2


def main() -> None:
    args = sys.argv[1:]
    only: set[str] | None = None
    if "--only" in args:
        i = args.index("--only")
        only = set(args[i + 1].split(","))
        del args[i : i + 2]
    # --skip-at TAG:a,b,c  — omit named queries at one SF tag only.
    # Exists for the documented-quadratic yardsticks (exhaustive
    # brute/PQ-ADC, the recall eval's brute leg): at sf10 they are
    # O(corpus x queries) BY CONSTRUCTION (>40 min measured) and the
    # trend point would measure the yardstick, not the engine.  Their
    # scale-path twins (ivf / ivfpq) stay in the trend at every SF.
    skip_at: dict[str, set[str]] = {}
    while "--skip-at" in args:
        i = args.index("--skip-at")
        tag, _, names_csv = args[i + 1].partition(":")
        skip_at.setdefault(tag, set()).update(names_csv.split(","))
        del args[i : i + 2]
    # --merge: fold this run's timings into an existing OUT.json and
    # recompute ratios.  Exists so each SF can run in a FRESH process:
    # one long-lived local JVM accumulating 35 queries x 2 reps x 3
    # scales dies building sf10 broadcasts (driver "Not enough memory
    # to build and broadcast", GC-lagged torrent blocks) — per-SF
    # isolation is also the honest measurement (a real deployment does
    # not run 200 unrelated queries in one driver before yours).
    merge = "--merge" in args
    if merge:
        args.remove("--merge")
    out_path = args[0]
    sf_dirs = args[1:]
    spark = get_spark("ddp-bench-scale")
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in TREND if n in QUERIES]
    if only is not None:
        names = [n for n in names if n in only]
    # Warmup on the smallest shipped SF: JVM, codegen, Python workers.
    bench.warm_up(spark, names, "/root/testdata/sf0.001")

    result: dict[str, dict[str, float]] = {}
    for sf_dir in sf_dirs:
        tag = os.path.basename(sf_dir.rstrip("/"))
        skipped = skip_at.get(tag, set())
        for n in names:
            if n in skipped:
                print(f"{tag} {n}: skipped (quadratic yardstick)", flush=True)
        # a failing query is recorded by run_passes and left out; the
        # rest of the leg is still measured (the sf10 legs run for an
        # hour; losing them to the first error made round-8's first
        # refresh attempt silent)
        passes, _, _, failures = bench.run_passes(
            spark, [n for n in names if n not in skipped], sf_dir, REPS
        )
        failed = {f["name"] for f in failures}
        timings = {
            n: min(p[n] for p in passes)
            for n in passes[0]
            if n not in failed
        }
        for n, t in timings.items():
            print(f"{tag} {n}: {t}s", flush=True)
        result[tag] = timings

    extra = {}
    if merge and os.path.exists(out_path):
        with open(out_path) as fh:
            prior = json.load(fh)
        merged = {k: dict(v) for k, v in prior.get("timings", {}).items()}
        for tag, t in result.items():
            merged.setdefault(tag, {}).update(t)
        result = merged
        extra = {
            k: v
            for k, v in prior.items()
            if k not in ("timings", "reps") and not k.startswith("growth_vs_")
        }
    base_tag = (
        "sf0.1" if "sf0.1" in result
        else os.path.basename(sf_dirs[0].rstrip("/"))
    )
    ratios = {
        tag: {
            n: round(t[n] / max(result[base_tag][n], 1e-9), 2)
            for n in t
            if n in result[base_tag]
        }
        for tag, t in result.items()
        if tag != base_tag
    }
    with open(out_path, "w") as fh:
        json.dump(
            {
                "timings": result,
                "growth_vs_" + base_tag: ratios,
                "reps": REPS,
                **extra,
            },
            fh,
            indent=1,
        )
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
