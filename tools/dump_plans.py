"""Regenerate PLANS.md: annotated physical plans for headline queries.

The plan-shape *assertions* live in tests/test_plans.py; this artifact
is the human-readable audit trail — what the optimizer actually does
with each headline query at the current pyspark version, with the
scale-relevant markers called out per plan.

Usage: python tools/dump_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

#: query -> the scale property its plan must exhibit
HEADLINERS = {
    "p4_filter_project": (
        "Predicates AND the 4-column projection reach the parquet scan "
        "(PushedFilters / ReadSchema) — the scan reads nothing it does "
        "not need."
    ),
    "flagship_corpus_rollup": (
        "One window shuffle for the dedup, join with orders planned by "
        "size (AQE), partial aggregation before the final rollup "
        "shuffle; quantity filter pushed to the scan."
    ),
    "tpch_q5_region_volume": (
        "Small dims (region/nation/supplier-side keys) broadcast; the "
        "fact-fact join shuffles on its key; decimal revenue aggregate "
        "is map-side combined."
    ),
    "ext_minhash_lsh_pairs": (
        "Candidate generation repartitions by (band_idx, band_key) "
        "before the self-join — the quadratic term is bounded by "
        "bucket size and distributed across the cluster."
    ),
    "ext_salted_skew_join": (
        "The join key set includes _salt: the hot key's rows spread "
        "over 16 shuffle partitions; the small side replicates via "
        "explode, staying broadcast-magnitude."
    ),
    "ext_ann_ivf_topk": (
        "Assignment = broadcast of the 8-row centroid table (the only "
        "nested-loop join, deliberately); the probe joins equi on "
        "cell_id, so reads prune to n_probe/n_cells of the corpus."
    ),
    "ext_pack_sequences": (
        "The running-sum window partitions by the shard key — packing "
        "never needs a global sort; shards add parallelism."
    ),
    "ext_asof_join": (
        "The union-tag as-of join plans ZERO join nodes: one Exchange "
        "on user_id feeds a single Window whose last(ignorenulls) "
        "carries the right payload forward — no candidate explosion, "
        "skew handled like any window sort."
    ),
    "ext_interval_join": (
        "The containment predicate rides an equi-join on the 30-min "
        "bucket key (intervals exploded into covered buckets, probes "
        "hashed to one) — no nested-loop; candidates bounded per "
        "bucket."
    ),
    "tpch_q8_market_share": (
        "Eight relations, ONE shuffle join (lineitem-orders): part, "
        "customer, supplier, both nation roles, and the region-pruned "
        "nation list all broadcast; the share divides two decimal sums "
        "computed in the same grouped pass."
    ),
    "tpch_q17_small_qty_revenue": (
        "The per-part quantity aggregate pre-shrinks the fact table on "
        "l_partkey before joining back; the 0.2*avg threshold is the "
        "exact decimal cross-product 5*qty*cnt < sum_qty, so the plan "
        "carries no float average that could diverge between engines."
    ),
    "ext_semantic_dedup": (
        "Coarse-quantizer cells bound the pairwise cosine work: the "
        "self-join keys on cell_id over a checkpointed assignment (the "
        "crossJoin+rank runs once, not three times), so total pair "
        "count is sum(|cell|^2), never |corpus|^2."
    ),
    "ext_dup_ngram_fraction": (
        "No pairwise work at all: shingle postings feed a document-"
        "frequency hash aggregate with map-side combine, joined back "
        "and re-aggregated per doc — two high-cardinality shuffles, "
        "the cheapest corpus-wide dup signal before any LSH."
    ),
    "ext_chunk_documents": (
        "Scan-shaped: sequence+posexplode with a codegen WHERE (no "
        "lambda HOF under the generator), slice/array_join assemble "
        "chunks in the projection — zero Exchange nodes, chunks "
        "inherit the document partitioning."
    ),
    "ext_simhash_pairs": (
        "ONE exchange builds every signature (explicit-count "
        "repartition by doc id; token dedup and the 48-bit aggregation "
        "ride that partitioning with no further shuffle); banding then "
        "joins only the distinct signatures and expands members after "
        "Hamming verification."
    ),
    "ext_pivot_wide": (
        "Explicit pivot value list -> one parquet scan and the "
        "two-phase pivot aggregate (partial on (year,status), final "
        "on year) — no distinct-discovery job, fixed output schema."
    ),
    "ext_window_suite": (
        "Seven analytics on one window spec: a single Exchange on "
        "custkey and a single Sort serve row_number, ntile, "
        "percent_rank, cume_dist, lag, and both frame aggregates."
    ),
    "ext_funnel_stages": (
        "Each funnel stage is a groupBy(user).min(ts) joined to the "
        "previous stage — shuffles carry (user, ts) pairs only; no "
        "event-level self-join appears anywhere in the plan."
    ),
    "ext_bm25_rank": (
        "tf build is the single-exchange posting shape; corpus "
        "scalars attach by broadcast; the top-n is "
        "TakeOrderedAndProject (per-partition top-n, merge), never a "
        "global sort."
    ),
    "ext_dq_checks": (
        "All row-local constraints compile into ONE aggregate over "
        "one scan (conditional counts); unique shuffles only the key; "
        "the FK check is a broadcast left-anti count."
    ),
    "ext_snapshot_diff": (
        "One full-outer shuffle join on the key; the null-safe "
        "per-column comparison and status ladder are codegen "
        "projections over the joined row."
    ),
    "ext_triangle_count": (
        "Degree-ordered orientation (joins on node id) bounds every "
        "out-degree by O(sqrt m); the wedge self-join and the closing "
        "semi-join are both equi-joins — no reducer ever owns a hub's "
        "full neighborhood."
    ),
    "ext_weighted_sample": (
        "Sampling keys are scan-speed expressions (md5 uniform + "
        "ln-ratio); the only shuffle is the per-group ranking window."
    ),
    "ext_chunk_dedup_clean": (
        "Chunking is codegen (transform/slice — no explode before the "
        "chunk table); the frequency side of the join-back is "
        "pre-aggregated, so a viral boilerplate chunk is ONE row, not "
        "a skewed join key."
    ),
    "ext_pagerank_transitions": (
        "Per iteration: one hash join of ranks onto edges, one "
        "map-side-combined groupBy dst, one left join onto nodes — "
        "lineage cut per round; integer ranks make the distributed "
        "result bit-reproducible."
    ),
    "ext_histogram_equidepth": (
        "No global row sort: boundaries come from a cumulative count "
        "over the DISTINCT-value histogram (bounded by the value "
        "domain); rows bin against 9 broadcast boundaries in codegen."
    ),
    "ext_corr_matrix": (
        "The full 4x4 correlation matrix is ONE scan + ONE 1-row "
        "aggregate (15 exact integer moment sums); adding columns "
        "widens the aggregate, never adds a pass."
    ),
    "ext_entity_resolution": (
        "Quadratic term block-bounded (brand, type); components "
        "switch from single-task union-find to distributed label "
        "propagation past 2M edges; golden record is one shuffle on "
        "component_id."
    ),
    "ext_k_anonymity": (
        "Cohort counts bounded by the quasi-identifier domain, "
        "broadcast back as a join filter; pseudonymization rides the "
        "scan — no extra pass over the fact table."
    ),
    "ext_merge_upsert": (
        "MERGE INTO is exactly ONE join (full-outer on the key, "
        "planned by size) and a when-ladder projection — no second "
        "pass, no collect; the output schema matches the target so the "
        "result can overwrite the target's storage."
    ),
    "ext_incremental_agg": (
        "Both inputs reduce to key-sized aggregate tables (map-side "
        "combined) before the single full-outer merge join — the "
        "refresh reads O(delta) data and shuffles O(keys) rows, never "
        "re-aggregating the corpus."
    ),
    "ext_pmi_collocations": (
        "One explode feeds two hash aggregates (unigram + bigram "
        "counts, both map-side combined); the 1-row corpus totals "
        "broadcast onto the scored pairs; ranking is TakeOrdered(100), "
        "not a global sort."
    ),
    "ext_source_overlap_sketch": (
        "The corpus reduces to |sources| bottom-64 sketch rows (two "
        "monotonically-shrinking shuffles) BEFORE the pairwise stage; "
        "the quadratic join runs over 512-byte sketches only — the "
        "reduction-then-pair shape is the operator's scale argument."
    ),
    "ext_late_data_report": (
        "The per-key watermark is one window Exchange on user_id (keys "
        "parallelize; a global arrival order would serialize), followed "
        "by one map-side-combined aggregate — two shuffles total, all "
        "time math in exact int64 microseconds."
    ),
}

MARKERS = [
    "PushedFilters",
    "ReadSchema",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "SortMergeJoin",
    "Exchange hashpartitioning",
    "WholeStageCodegen",
    "HashAggregate",
    "Window",
]


def main() -> None:
    from dissertation_data_pipeline_spark.plans import QUERIES
    from dissertation_data_pipeline_spark.session import get_spark, plan_text

    spark = get_spark("plan-audit")
    out = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        f"Generated by `tools/dump_plans.py` (pyspark {spark.version}, "
        f"sf0.001 inputs; plan shapes are size-independent except where "
        f"AQE picks broadcast for small inputs — noted per query).",
        "Assertions for these shapes are enforced in `tests/test_plans.py`.",
        "",
    ]
    for name, why in HEADLINERS.items():
        df = QUERIES[name].fn(spark, SF_DIR)
        plan = plan_text(df)
        # keep the operator tree; drop the verbose per-node detail dump
        tree = plan.split("\n\n")[0]
        hits = sorted({m for m in MARKERS if m in plan})
        out += [
            f"## {name}",
            "",
            why,
            "",
            f"Markers present: {', '.join(hits)}",
            "",
            "```",
            tree,
            "```",
            "",
        ]
    # normalize plan ids so regeneration diffs cleanly
    text = re.sub(r"#\d+", "#N", "\n".join(out))
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as fh:
        fh.write(text + "\n")
    print(f"PLANS.md written ({len(HEADLINERS)} plans)")


if __name__ == "__main__":
    main()
