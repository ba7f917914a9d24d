"""Physical-plan assertions — the scale contract, enforced.

Correctness says the operators compute the right answer; these tests
pin the *plan shapes* that make them viable at 100 TB:

- filters and column projections must reach the parquet scan
  (PushedFilters / ReadSchema) — a scan that reads every column for a
  two-column projection is wrong at any scale;
- dimension joins must broadcast (no shuffle of the fact side's keys);
- pair-join operators must spread work via a repartition exchange, not
  probe a broadcast on one partition.

`explain`-string matching is version-sensitive by nature; assertions
target long-stable markers (PushedFilters, ReadSchema,
BroadcastHashJoin, Exchange hashpartitioning).
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.plans import QUERIES
from dissertation_data_pipeline_spark.session import plan_text
from dissertation_data_pipeline_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from dissertation_data_pipeline_spark.session import get_spark

    return get_spark()


def test_filter_pushes_to_parquet_scan(spark):
    df = QUERIES["p4_filter_project"].fn(spark, SF_DIR)
    plan = plan_text(df)
    assert "PushedFilters:" in plan
    # the quantity/length-style predicate must appear in the scan node,
    # not only in a post-scan Filter
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), f"no pushed filters in scan:\n{plan}"


def test_projection_prunes_scan_schema(spark):
    o = load_table(spark, SF_DIR, "orders")
    df = o.select("o_orderkey", "o_orderstatus")
    plan = plan_text(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {"o_orderkey", "o_orderstatus"}, read_cols


def test_flagship_pushes_quantity_filter(spark):
    df = QUERIES["flagship_corpus_rollup"].fn(spark, SF_DIR)
    plan = plan_text(df)
    assert "GreaterThan(l_quantity,5" in plan, "l_quantity>5 not pushed to scan"


def test_dim_join_broadcasts(spark):
    df = QUERIES["j2_dim_rollup"].fn(spark, SF_DIR)
    plan = plan_text(df)
    assert "BroadcastHashJoin" in plan, f"dim join did not broadcast:\n{plan}"
    # and the dim side, not the fact side, is the broadcast exchange
    assert "BroadcastExchange" in plan


def test_tpch_q5_broadcasts_small_dims(spark):
    df = QUERIES["tpch_q5_region_volume"].fn(spark, SF_DIR)
    plan = plan_text(df)
    assert "BroadcastHashJoin" in plan


def test_tpch_q8_snowflake_broadcasts_every_dim(spark):
    """Q8 joins 8 relations; all six dimension sides (part, customer,
    nation x2, region-pruned nations, supplier) must broadcast so the
    only shuffle join is lineitem-orders — at 100 TB that plan touches
    the two fact tables exactly once each."""
    df = QUERIES["tpch_q8_market_share"].fn(spark, SF_DIR)
    plan = plan_text(df)
    n_bhj = plan.count("BroadcastHashJoin")
    assert n_bhj >= 5, f"expected >=5 broadcast joins in Q8, got {n_bhj}"
    n_smj = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert n_smj <= 1, (
        f"Q8 should shuffle-join at most once (lineitem-orders), got {n_smj}"
    )


def test_tpch_q16_excludes_suppliers_without_shuffle(spark):
    """The NOT-IN supplier exclusion must plan as a broadcast anti-join,
    not a shuffled one — the exclusion list is dim-sized."""
    df = QUERIES["tpch_q16_part_supplier_variety"].fn(spark, SF_DIR)
    plan = plan_text(df)
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), (
        "broadcast anti-join missing:\n" + plan[:2000]
    )


def test_pair_join_repartitions_by_bucket(spark):
    """LSH candidate generation must shuffle by band bucket — the skew
    and parallelism strategy — rather than broadcast-probe one side."""
    df = QUERIES["ext_minhash_lsh_pairs"].fn(spark, SF_DIR)
    plan = plan_text(df)
    assert re.search(r"hashpartitioning\([^)]*band", plan), (
        "band-bucket repartition missing:\n" + plan[:2000]
    )


def test_whole_stage_codegen_covers_flagship(spark):
    df = QUERIES["flagship_corpus_rollup"].fn(spark, SF_DIR)
    df.collect()  # AQE finalizes (and codegen-compiles) only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen spans render as `*(N)` stage markers in the final AQE plan
    assert "*(" in plan, (
        "no whole-stage codegen span in flagship plan:\n" + plan[:2000]
    )


def test_no_cartesian_products_in_registry(spark):
    """No registry query may plan a cartesian/broadcast nested-loop join
    (the `id_a < id_b` self-joins must ride an equi-join on bucket
    keys).

    Exceptions — plans where a BroadcastNestedLoopJoin with a tiny
    broadcast side IS the correct distributed shape:
    - ``ext_ann_brute_topk``: the (small, filtered) query set broadcast
      against the streamed corpus; the scale path is the bucketed
      variants (LSH/IVF), which join on equi-keys.
    - ``ext_ann_ivf_topk``: the n_cells-row centroid table broadcast
      for the assignment pass (every IVF implementation scores each
      vector against every coarse centroid — that IS the operator);
      the probe pass itself joins equi on cell_id.
    - ``ext_key_skew_report``: a single-row totals frame broadcast to
      attach corpus-level denominators.
    - ``tpch_q22_idle_customers``: the global (cnt, sum) 1-row
      aggregate broadcast to every customer partition — the exact
      above-average predicate needs the corpus denominator rowside.
    - ``ext_tfidf_top_terms`` / ``ext_bm25_rank``: the 1-row corpus
      scalars (N, avgdl) broadcast onto the scored postings.
    - ``ext_dq_checks``: the 1-row total-rows aggregate broadcast onto
      the (1-row) FK violation count.
    - ``ext_histogram_equiwidth``: the 1-row global (min, max) aggregate
      broadcast onto the scan so bin assignment stays a codegen
      expression.
    - ``ext_histogram_equidepth``: the 1-row total count, the 9-row
      decile index frame, and the 1-row boundary array all broadcast
      onto bounded frames — binning stays codegen, no global row sort."""
    allowed = {
        "ext_ann_brute_topk",
        "ext_ann_ivf_topk",
        "ext_ann_ivf_trained_topk",  # same centroid broadcast as ivf_topk
        "ext_ann_ivf_partitioned_topk",  # same packed 1-row centroid
        # broadcast, probe-side (corpus side is the pruned layout scan)
        "ext_key_skew_report",
        "tpch_q22_idle_customers",
        "tpch_q11_important_stock",  # 1-row national stock total broadcast
        # for the exact share-of-total threshold (same class as q22)
        "ext_tfidf_top_terms",
        "ext_bm25_rank",
        "ext_dq_checks",
        "ext_histogram_equiwidth",
        "ext_histogram_equidepth",
        "ext_negative_sampling",  # 1-row corpus-count broadcast
        "ext_time_gap_fill",  # 1-row hour-bounds broadcast onto the grid
        "ext_ann_pq_codes",  # packed 1-row codebook broadcast for the
        # map-side argmin encode (same class as ivf_topk's centroids)
        "ext_ann_pq_adc_topk",  # 128-row codebook broadcast: every query
        # scores every codebook entry to build its lookup table — that
        # IS the PQ-ADC operator (same class as the IVF centroid pass)
        "ext_ann_pq_rerank",  # same codebook broadcast (shortlist stage
        # reuses pq_adc_scores); the re-rank stage joins equi on ids
        "ext_ann_recall_at_10",  # composes the two allowed legs it
        # evaluates: brute (query-set broadcast) and IVF (centroid
        # broadcast); the recall join itself is equi on (query, vec)
        "ext_temperature_mixture",  # 1-row (total, sqrt-mass) aggregate
        # broadcast onto the per-language counts (same class as q22)
        "ext_ann_ivfpq_rerank",  # composes BOTH allowed classes: the
        # packed 1-row coarse-centroid broadcast (corpus + query
        # assignment, as ivf_topk) and the 128-row codebook broadcast
        # (lookup tables, as pq_adc_topk); the pruned ADC join itself
        # is equi on (cell_id, subspace, code)
        "ext_bigram_lm_score",  # 1-row vocabulary-size broadcast: the
        # smoothing denominator attaches to every scored bigram
        "ext_ccnet_buckets",  # composes the bigram LM scorer, so it
        # inherits the same 1-row vocabulary broadcast
        "ext_pmi_collocations",  # 1-row (T1, T2) corpus totals broadcast
        # onto the scored bigrams (same class as bm25/tfidf)
        "ext_source_overlap_sketch",  # the |groups|-row sketch table
        # self-paired on group < group: quadratic ONLY on 512-byte
        # sketches, never on documents — that reduction IS the operator
    }
    offenders = {}
    for name, q in QUERIES.items():
        if name in allowed:
            continue
        df = q.fn(spark, SF_DIR)
        plan = plan_text(df)
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders[name] = True
    assert not offenders, f"cartesian/nested-loop joins in: {sorted(offenders)}"


def test_chunking_is_scan_shaped(spark):
    # chunk extraction must stay shuffle-free: generate + filter +
    # project over the scan, no Exchange anywhere
    df = QUERIES["ext_chunk_documents"].fn(spark, SF_DIR)
    plan = plan_text(df)
    assert "Exchange" not in plan, plan
    assert "Generate" in plan


def test_dup_ngram_fraction_has_no_pair_join(spark):
    # the dup-signal query is aggregate-shaped: document frequency +
    # re-aggregate. Any cartesian/nested-loop node means a pairwise
    # plan snuck in.
    df = QUERIES["ext_dup_ngram_fraction"].fn(spark, SF_DIR)
    plan = plan_text(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shuffle_budget():
    """Every registry query must plan at most 6 shuffle Exchanges.

    The shuffle count IS the 100 TB cost model: the whole registry
    currently planes at <= 5 (see PLAN_STATS.md); this cap catches any
    future query or refactor that silently adds a pass over the data.
    Iterative operators cut lineage per round (localCheckpoint), so
    their returned plan reflects the steady-state round, which is the
    number that matters at scale anyway."""
    import sys

    sys.path.insert(0, "tools")
    from plan_stats import SF_DIR as PS_SF  # noqa: F401
    from plan_stats import count_exchanges

    from dissertation_data_pipeline_spark.plans.registry import QUERIES
    from dissertation_data_pipeline_spark.session import get_spark

    spark = get_spark()
    over = {}
    for name, q in QUERIES.items():
        s, _ = count_exchanges(plan_text(q.fn(spark, SF_DIR)))
        if s > 6:
            over[name] = s
    assert not over, f"shuffle budget exceeded: {over}"


def test_runtime_bloom_filter_injects(spark):
    """Runtime row-level filtering (the 100 TB shuffle-saver): a
    selective filtered side must inject a bloom filter into the fact
    scan so non-joining rows die before the shuffle. Size thresholds
    gate it to big scans in production; lowered here to demonstrate the
    plan shape on local data."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        # force a shuffle join; with a broadcast join Spark prunes via
        # the broadcast itself and needs no bloom filter
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderstatus") == "F"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert "bloom_filter_agg" in plan_text(j).lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pin_spread_without_cols_uses_shuffle_partitions(spark):
    from dissertation_data_pipeline_spark.session import pin_spread

    out = pin_spread(spark.range(10))
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert out.rdd.getNumPartitions() == n


def test_entry_contract_is_registry_order(tmp_path, monkeypatch):
    """An external harness loads __spark_entry__.py by path from its own
    cwd; both dicts come back in registration order, no JVM needed."""
    import importlib.util
    from pathlib import Path

    monkeypatch.chdir(tmp_path)
    path = Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    spec = importlib.util.spec_from_file_location("__spark_entry__", path)
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    names = list(entry.queries())
    assert names == list(QUERIES)
    assert list(entry.oracle_sql()) == [
        n for n in names if QUERIES[n].sql is not None
    ]
    assert len(names) == len(entry.oracle_sql()) == 247


def test_entry_contract_value_types():
    """queries() maps names to query builders and oracle_sql() maps
    names to DuckDB SQL text — the types the harness calls and parses."""
    from __spark_entry__ import oracle_sql, queries

    assert all(fn is QUERIES[n].fn for n, fn in queries().items())
    sqls = oracle_sql()
    assert all(isinstance(s, str) and s.strip() for s in sqls.values())
    assert all(sqls[n] == QUERIES[n].sql for n in sqls)


def test_register_rejects_duplicate_name():
    """A second registration under a taken name raises, naming both
    query functions, and leaves the registry as it was."""
    from dissertation_data_pipeline_spark.plans.registry import register

    before = dict(QUERIES)

    def flagship_corpus_rollup(spark, sf_dir):  # pragma: no cover - never run
        raise AssertionError

    with pytest.raises(ValueError) as err:
        register("flagship_corpus_rollup", "SELECT 1")(flagship_corpus_rollup)
    msg = str(err.value)
    assert "registry.flagship_corpus_rollup" in msg
    assert f"{__name__}.test_register_rejects_duplicate_name.<locals>.flagship_corpus_rollup" in msg
    assert QUERIES == before


def test_engine_modules_do_not_import_plans():
    """The engine (operators, sources, streaming, functions and the
    package's top-level modules) never imports the query registry:
    query modules depend on the engine, not the other way round."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "dissertation_data_pipeline_spark"
    files = sorted(pkg.glob("*.py"))
    for sub in ("operators", "sources", "streaming", "functions"):
        files += sorted((pkg / sub).rglob("*.py"))
    assert len(files) > 20
    banned = "dissertation_data_pipeline_spark.plans"
    offenders = []
    for f in files:
        for node in ast.walk(ast.parse(f.read_text(), str(f))):
            if isinstance(node, ast.ImportFrom):
                parts = [pkg.name, *f.parent.relative_to(pkg).parts]
                base = ".".join(
                    parts[: len(parts) + 1 - node.level] + [node.module or ""]
                    if node.level
                    else [node.module]
                ).strip(".")
                mods = [base] + [f"{base}.{a.name}" for a in node.names]
            elif isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            else:
                continue
            if any(m == banned or m.startswith(banned + ".") for m in mods):
                offenders.append(f"{f.relative_to(pkg)}:{node.lineno}")
    assert offenders == []


def test_package_calls_no_job_starting_catalog_listing():
    """No module of the package calls ``.listTables(`` or
    ``.toLocalIterator(``: PySpark collects both through a Dataset, so
    each call starts Spark jobs, and on a per-query path (the
    harnesses' ``drop_blocks``) that cost lands on every query
    (DESIGN.md §16)."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "dissertation_data_pipeline_spark"
    files = sorted(pkg.rglob("*.py"))
    assert len(files) > 20
    banned = {"listTables", "toLocalIterator"}
    offenders = [
        f"{f.relative_to(pkg)}:{node.lineno} .{node.func.attr}("
        for f in files
        for node in ast.walk(ast.parse(f.read_text(), str(f)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in banned
    ]
    assert offenders == []


def test_one_plan_printer():
    """``session.plan_text`` is the one caller of ``PythonSQLUtils``'s
    plan printer in the package, ``tools/``, ``tests/`` and bench.py;
    every plan dump and plan assertion reads the text it returns."""
    import ast

    printer = "explain" + "String"  # in two parts, so a text search finds one caller
    root = Path(__file__).resolve().parents[1]
    files = [
        *sorted((root / "dissertation_data_pipeline_spark").rglob("*.py")),
        *sorted((root / "tools").glob("*.py")),
        *sorted((root / "tests").rglob("*.py")),
        root / "bench.py",
    ]
    callers = {
        f.relative_to(root).as_posix()
        for f in files
        for node in ast.walk(ast.parse(f.read_text(), str(f)))
        if isinstance(node, ast.Attribute) and node.attr == printer
    }
    assert callers == {"dissertation_data_pipeline_spark/session.py"}


def test_tests_are_grouped_by_domain():
    """No test file is named after the round that added it; their tests
    live in the domain file of the operator they cover."""
    tests = Path(__file__).resolve().parent
    assert sorted(tests.glob("test_wave*.py")) == []


# Where each query of a deleted round-named module now lives (DESIGN.md
# §13). Old notes that cite one of these modules resolve through this map.
ROUND_MODULE_HOMES = {
    "queries_coverage": {
        "registry": ["p8_needs_enrichment"],
        "queries_scalar": ["fa4_is_amendment", "fj1_flatten_structs", "fs9_state_code"],
        "queries_similarity": ["ext_embedding_near_dup"],
        "queries_analytics": ["ext_approx_count_distinct"],
    },
    "queries_coverage2": {
        "registry": [
            "p1_p2_conform_contract",
            "p3_p5_value_and_length_filters",
            "p10_o4_deterministic_head",
            "a3_a5_minmax_mean",
            "a10_completeness_histogram",
            "u2_except_uncovered_nations",
            "o1_o5_sorted_frequency",
        ],
        "queries_scalar": ["fs6_fs7_fs15_string_normalize", "fs11_fa2_concat_fields"],
    },
    "queries_coverage3": {
        "queries_fixtures": [
            "p11_skip_list_scan",
            "j5_file_key_join",
            "k6_file_per_row_sink",
            "o3_latest_artifact_scan",
            "a11_stats_counters",
            "fs8_column_normalize",
            "s6_rest_pages_fixture",
            "s8_point_lookup",
            "k5_report_fixture",
        ],
    },
    "queries_misc": {
        "registry": ["w4_format_preference"],
        "queries_scalar": ["fs4_status_decode", "fs5_title_case", "fs10_safe_filename"],
        "queries_analytics": [
            "ext_histogram_equiwidth",
            "ext_pct_of_total",
            "ext_mad_outliers",
            "ext_event_transitions",
            "ext_cohort_retention",
        ],
    },
    "queries_timeseries": {
        "queries_temporal": [
            "ext_time_gap_fill",
            "ext_running_distinct_users",
            "ext_attribution_last_touch",
        ],
    },
    "queries_tpch2": {
        "queries_tpch": [
            "tpch_q4_order_priority",
            "tpch_q8_market_share",
            "tpch_q9_product_profit",
            "tpch_q12_late_lines_by_status",
            "tpch_q13_customer_distribution",
            "tpch_q15_top_supplier",
            "tpch_q16_part_supplier_variety",
            "tpch_q17_small_qty_revenue",
            "tpch_q19_disc_revenue_or",
            "tpch_q21_waiting_suppliers",
            "tpch_q22_idle_customers",
        ],
    },
    "queries_tpch3": {
        "queries_tpch": [
            "tpch_q2_min_cost_supplier",
            "tpch_q11_important_stock",
            "tpch_q20_potential_promotion",
        ],
    },
    "queries_wave3": {
        "queries_dedup": [
            "ext_chunk_dedup_clean",
            "ext_entity_resolution",
            "ext_entity_resolution_block",
        ],
        "queries_training": ["ext_token_freq_quality"],
        "queries_analytics": [
            "ext_pagerank_transitions",
            "ext_histogram_equidepth",
            "ext_group_linreg",
        ],
        "queries_fixtures": ["ext_zorder_values"],
    },
    "queries_wave4": {
        "queries_dedup": [
            "ext_containment_pairs",
            "ext_winnowing_fingerprints",
            "ext_repeated_substring_spans",
        ],
        "queries_similarity": ["ext_ann_pq_rerank"],
        "queries_training": ["ext_bigram_lm_score", "ext_ccnet_buckets"],
    },
    "queries_wave5": {
        "queries_state": ["ext_merge_upsert", "ext_cdc_apply"],
        "queries_training": [
            "ext_pmi_collocations",
            "ext_shard_assignment",
            "ext_classifier_quality_filter",
            "ext_temperature_mixture",
        ],
        "queries_temporal": ["ext_late_data_report"],
        "queries_analytics": [
            "ext_source_overlap_sketch",
            "ext_count_min_hitters",
            "ext_hll_distinct",
        ],
    },
    "queries_wave6": {
        "queries_training": ["ext_bpe_pair_counts"],
        "queries_analytics": ["ext_udaf_label_medians"],
        "queries_state": ["ext_incremental_agg"],
    },
    "queries_wave8": {
        "queries_temporal": ["ext_asof_nearest"],
        "queries_analytics": ["ext_weighted_median"],
    },
    "queries_wave9": {
        "queries_similarity": ["ext_ann_ivfpq_rerank", "ext_ann_lsh_multiprobe_topk"],
        "queries_scalar": ["ext_url_canonicalize"],
        "queries_state": ["ext_dense_ids"],
    },
}

PLANS_DIR = Path(__file__).resolve().parents[1] / "dissertation_data_pipeline_spark" / "plans"


@pytest.mark.parametrize("old", sorted(ROUND_MODULE_HOMES))
def test_round_module_queries_have_domain_homes(old):
    """A deleted round-named module is gone, and each of its queries is
    registered from the domain module the DESIGN map names."""
    import importlib

    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(f"dissertation_data_pipeline_spark.plans.{old}")
    homes = {
        name: f"dissertation_data_pipeline_spark.plans.{new}"
        for new, names in ROUND_MODULE_HOMES[old].items()
        for name in names
    }
    assert {n: QUERIES[n].fn.__module__ for n in homes} == homes


def test_plans_layout_is_by_domain():
    """plans/ holds the registry, pipelines and 14 domain modules; none
    is named after a round, and the map above covers 83 queries."""
    mods = sorted(p.stem for p in PLANS_DIR.glob("*.py"))
    assert mods == [
        "__init__",
        "pipelines",
        "queries_analytics",
        "queries_dedup",
        "queries_features",
        "queries_fixtures",
        "queries_multimodal",
        "queries_scalar",
        "queries_similarity",
        "queries_skew",
        "queries_state",
        "queries_streaming",
        "queries_temporal",
        "queries_textanalysis",
        "queries_tpch",
        "queries_training",
        "registry",
    ]
    assert not [m for m in mods if re.search(r"wave|coverage|misc|\d", m)]
    moved = [n for homes in ROUND_MODULE_HOMES.values() for ns in homes.values() for n in ns]
    assert len(moved) == len(set(moved)) == 83


def test_plans_define_one_dec():
    """The package has a single ``_dec`` money cast, in the engine's
    operators/analytics.py; every module that uses it, engine or query
    module, imports it rather than keep a copy."""
    import ast

    defs = [
        p.relative_to(PLANS_DIR.parent).as_posix()
        for p in sorted(PLANS_DIR.parent.rglob("*.py"))
        for node in ast.walk(ast.parse(p.read_text(), str(p)))
        if isinstance(node, ast.FunctionDef) and node.name == "_dec"
    ]
    assert defs == ["operators/analytics.py"]
