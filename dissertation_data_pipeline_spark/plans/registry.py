"""Driver-facing query registry (SURVEY §2 inventory -> named queries).

Every implemented operator from SURVEY §2 appears here as a named query
over the shared testdata tables, paired with an ANSI-SQL oracle that
DuckDB runs on the same parquet files. Query names carry the SURVEY
operator ids they exercise.

This module holds the relational core (P/J/U/W/A/O ids); each other
operator family has its own ``queries_*`` module, imported at the
bottom. Long-tail operators that larger queries subsume still get a
dedicated query each, so the coverage map (COVERAGE.md) points at
executable evidence, not prose. Of the operators that are driver-side
in the reference, only F-d4 (run timestamps — value inherently
nondeterministic) has no data-plane gate row.

Cross-engine exactness rules used throughout:

- **Money math in DECIMAL(18,2)** — double sums are order-dependent
  across partitionings; summing exact decimals then casting the final
  value to double is bit-reproducible in both engines.
- **Deterministic total orders** — every window/dedup/top-k has an
  explicit tiebreak column, so results don't depend on partitioning.
- **Canonical NULL** — synthesized missingness uses NULL, never ''.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from dissertation_data_pipeline_spark.functions import is_missing
from dissertation_data_pipeline_spark.operators import (
    anti_report,
    conflict_report,
    dedup_latest_per_key,
    dedup_priority,
    duplicate_groups,
    frequency,
    merge_duplicates_coalesce_fill,
    top_k_frequency,
    union_conform,
)
from dissertation_data_pipeline_spark.operators.analytics import _dec
from dissertation_data_pipeline_spark.schemas import conform
from dissertation_data_pipeline_spark.tables import load_table


@dataclass(frozen=True)
class Q:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None -> rows-only check


QUERIES: dict[str, Q] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        if name in QUERIES:
            prev = QUERIES[name].fn
            raise ValueError(
                f"query {name!r} is already registered by "
                f"{prev.__module__}.{prev.__qualname__}; "
                f"{fn.__module__}.{fn.__qualname__} cannot register it again"
            )
        QUERIES[name] = Q(fn, sql)
        return fn

    return deco


def query_fns() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, in registration order."""
    return {n: q.fn for n, q in QUERIES.items()}


def oracle_sqls() -> dict[str, str]:
    """DuckDB oracle SQL for every query that has one, in registration order."""
    return {n: q.sql for n, q in QUERIES.items() if q.sql is not None}


# ---------------------------------------------------------------------------
# Flagship (SURVEY §7.2): scan -> filter -> derive -> window-dedup -> join
# -> aggregate. Exercises P4/P10, W2, J1, A1-A4, F-d1 shapes in one plan.
# ---------------------------------------------------------------------------

@register(
    "flagship_corpus_rollup",
    """
    WITH filtered AS (
      SELECT * FROM lineitem WHERE l_quantity > 5
    ), dedup AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY l_orderkey, l_partkey
          ORDER BY l_shipdate DESC NULLS LAST, l_linenumber ASC
        ) AS rn FROM filtered
      ) WHERE rn = 1
    )
    SELECT year(o_orderdate) AS order_year,
           o_orderstatus,
           count(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue
    FROM dedup JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
    """,
)
def flagship_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §7.2 minimum end-to-end slice on the shared star schema:
    lineitem scan (filter pushed to parquet) -> latest-line-per
    (order, part) dedup (W2, one shuffle) -> join orders (AQE picks
    broadcast vs sort-merge by size) -> year/status rollup (A1-A4)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 5)
    li = dedup_latest_per_key(
        li, ["l_orderkey", "l_partkey"], ["l_shipdate"], tiebreak=["l_linenumber"]
    )
    orders = load_table(spark, sf_dir, "orders")
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.col("o_orderstatus"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(revenue).cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------

@register(
    "a1_frequency_status",
    """
    SELECT o_orderstatus, count(*) AS cnt FROM orders GROUP BY 1
    """,
)
def a1_frequency_status(spark, sf_dir):
    """A1 value_counts (build_master_corpus.py:149): groupBy-count with
    map-side partial aggregation."""
    return frequency(load_table(spark, sf_dir, "orders"), "o_orderstatus")


@register(
    "a2_orders_summary",
    """
    SELECT count(*) AS total_rows,
           count(DISTINCT o_custkey) AS distinct_custkeys,
           min(o_orderdate) AS min_orderdate,
           max(o_orderdate) AS max_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_totalprice
    FROM orders
    """,
)
def a2_orders_summary(spark, sf_dir):
    """A2/A3/A5 summary block (build_master_corpus.py:145-157) as one
    aggregate row; avg computed as exact-decimal sum / count."""
    return load_table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.countDistinct("o_custkey").alias("distinct_custkeys"),
        F.min("o_orderdate").alias("min_orderdate"),
        F.max("o_orderdate").alias("max_orderdate"),
        (F.sum(_dec("o_totalprice")).cast("double") / F.count(F.lit(1))).alias(
            "avg_totalprice"
        ),
    )


@register(
    "a4_a6_conditional_counts",
    """
    SELECT count(*) AS total_rows,
           CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent
    FROM orders
    """,
)
def a4_a6_conditional_counts(spark, sf_dir):
    """A4/A6 sum-of-booleans / count-if (normalize_corpus.py:302-305,
    build_corpus.py:112-117). DuckDB ``count_if`` returns HUGEINT
    (int128), which the driver gate's pandas canon coerces to
    object/float and hash-mismatches — the oracle casts every count to
    BIGINT so both engines emit int64."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
    )


@register(
    "a7_duplicate_groups",
    """
    SELECT o_orderkey, o_custkey, o_orderdate FROM (
      SELECT o_orderkey, o_custkey, o_orderdate,
             count(*) OVER (PARTITION BY o_custkey, o_orderdate) AS c
      FROM orders
    ) WHERE c > 1
    """,
)
def a7_duplicate_groups(spark, sf_dir):
    """A7 groupby-filter HAVING-count>1 (legiscan_normalizer.py:287-288)
    via a single window shuffle instead of groupBy + semi-join."""
    return duplicate_groups(
        load_table(spark, sf_dir, "orders"), ["o_custkey", "o_orderdate"]
    ).select("o_orderkey", "o_custkey", "o_orderdate")


@register(
    "a8_conflict_report",
    """
    SELECT o_custkey, o_orderdate, group_size, status_distinct, priority_distinct
    FROM (
      SELECT o_custkey, o_orderdate, count(*) AS group_size,
             count(DISTINCT o_orderstatus) AS status_distinct,
             count(DISTINCT o_orderpriority) AS priority_distinct
      FROM orders GROUP BY 1, 2
    ) WHERE group_size > 1 AND (status_distinct > 1 OR priority_distinct > 1)
    """,
)
def a8_conflict_report(spark, sf_dir):
    """A8 per-group conflict detection (legiscan_normalizer.py:296-302)."""
    rep = conflict_report(
        load_table(spark, sf_dir, "orders"),
        ["o_custkey", "o_orderdate"],
        ["o_orderstatus", "o_orderpriority"],
    )
    return rep.select(
        "o_custkey",
        "o_orderdate",
        "group_size",
        F.col("o_orderstatus_distinct").alias("status_distinct"),
        F.col("o_orderpriority_distinct").alias("priority_distinct"),
    )


@register(
    "a3_a5_minmax_mean",
    """
    SELECT o_orderstatus,
           min(year(o_orderdate)) AS min_year,
           max(year(o_orderdate)) AS max_year,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
             AS avg_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def a3_a5_minmax_mean(spark, sf_dir):
    """A3 (build_corpus.py:113: min/max year range) + A5
    (normalize_corpus.py:306: mean) — the mean is computed as an exact
    DECIMAL sum cast to double, divided by the count: double summation
    is reduction-order-dependent and would not hash-match the oracle."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.min(F.year("o_orderdate")).alias("min_year"),
        F.max(F.year("o_orderdate")).alias("max_year"),
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_price"),
    )


@register(
    "a10_completeness_histogram",
    """
    SELECT score, count(*) AS n FROM (
      SELECT (CASE WHEN o_orderkey % 5 <> 0 THEN 1 ELSE 0 END
            + CASE WHEN o_orderkey % 7 <> 0 THEN 1 ELSE 0 END
            + CASE WHEN o_orderkey % 11 <> 0 THEN 1 ELSE 0 END) AS score
      FROM orders
    ) GROUP BY score
    """,
)
def a10_completeness_histogram(spark, sf_dir):
    """A10 (legiscan_normalizer.py:316: row-wise completeness =
    ``notna().sum(axis=1)``) — sum of per-column not-NULL flags over
    deterministically synthesized missing fields, histogrammed."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    cols = [
        F.when(k % 5 != 0, F.col("o_orderstatus")),
        F.when(k % 7 != 0, F.col("o_orderpriority")),
        F.when(k % 11 != 0, F.col("o_orderdate").cast("string")),
    ]
    score = cols[0].isNotNull().cast("int")
    for c in cols[1:]:
        score = score + c.isNotNull().cast("int")
    return (
        o.select(score.alias("score"))
        .groupBy("score")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Projections / filters (SURVEY §2.2)
# ---------------------------------------------------------------------------

@register(
    "p4_filter_project",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2000-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 10
    """,
)
def p4_filter_project(spark, sf_dir):
    """P3-P5 predicate + projection. The filter and the 4-column read
    schema both reach the parquet scan (PushedFilters / ReadSchema)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.06)
            & (F.col("l_quantity") < 10)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@register(
    "p1_p2_conform_contract",
    """
    SELECT c_custkey AS cust_id, c_name AS name, c_mktsegment AS segment,
           CAST(NULL AS VARCHAR) AS notes
    FROM customer
    """,
)
def p1_p2_conform_contract(spark, sf_dir):
    """P1 (build_master_corpus.py:73-85: project+rename to contract) +
    P2 (legiscan_normalizer.py:255-258: back-fill missing columns) —
    rename-select onto a fixed StructType via ``conform``, which adds
    the absent ``notes`` column as a typed NULL (the engine's canonical
    missing value, replacing the reference's ``""``)."""
    contract = StructType(
        [
            StructField("cust_id", LongType()),
            StructField("name", StringType()),
            StructField("segment", StringType()),
            StructField("notes", StringType()),
        ]
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    return conform(c, contract)


@register(
    "p3_p5_value_and_length_filters",
    """
    SELECT p_partkey, p_name, p_brand
    FROM part
    WHERE upper(trim(p_brand)) <> 'BRAND#11' AND length(p_name) > 9
    """,
)
def p3_p5_value_and_length_filters(spark, sf_dir):
    """P3 (build_master_corpus.py:95: case-insensitive value-exclusion
    filter) + P5 (build_corpus.py:103-104: minimum text length) — NULLs
    fail both predicates natively, matching the reference's dropna."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        (F.upper(F.trim(F.col("p_brand"))) != "BRAND#11")
        & (F.length("p_name") > 9)
    ).select("p_partkey", "p_name", "p_brand")


@register(
    "p8_needs_enrichment",
    """
    SELECT o_orderkey, pri, clerk FROM (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL
                  WHEN o_orderkey % 5 = 1 THEN ''
                  WHEN o_orderkey % 5 = 2 THEN 'not found'
                  ELSE o_orderpriority END AS pri,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS clerk
      FROM orders
    )
    WHERE pri IS NULL OR trim(pri) = '' OR lower(trim(pri)) = 'not found'
       OR clerk IS NULL OR trim(clerk) = '' OR lower(trim(clerk)) = 'not found'
    """,
)
def p8_needs_enrichment(spark, sf_dir):
    """P8 (legiscan_enricher.py:332-338): rows needing enrichment — the
    disjunction of ``is_missing`` over the enrichable fields, with the
    reference's three-way missingness (NULL / '' / 'not found')
    synthesized deterministically."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    df = o.select(
        "o_orderkey",
        F.when(k % 5 == 0, F.lit(None))
        .when(k % 5 == 1, F.lit(""))
        .when(k % 5 == 2, F.lit("not found"))
        .otherwise(F.col("o_orderpriority"))
        .alias("pri"),
        F.when(k % 7 == 0, F.lit(None)).otherwise(F.col("o_orderstatus")).alias("clerk"),
    )
    return df.filter(is_missing("pri") | is_missing("clerk"))


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------

@register(
    "j1_left_join",
    """
    SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    """,
)
def j1_left_join(spark, sf_dir):
    """J1 left equi-join (build_corpus.py:62-64). Customer is the small
    side -> Catalyst broadcasts it; no shuffle of the fact table."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "left").select(
        "o_orderkey", "o_custkey", "c_name", "c_mktsegment", "o_totalprice"
    )


@register(
    "j2_dim_rollup",
    """
    SELECT r_name, count(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY 1
    """,
)
def j2_dim_rollup(spark, sf_dir):
    """J2 dimension lookup (build_master_corpus.py:66-67) as explicit
    broadcast joins — the 51-row dim pattern at any scale."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_acctbal"),
        )
    )


@register(
    "j3_anti_join",
    """
    SELECT n_nationkey, n_name FROM nation n
    WHERE NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9900
    )
    """,
)
def j3_anti_join(spark, sf_dir):
    """J3/U2 anti-join set difference — the missing-states report
    (build_master_corpus.py:153-156)."""
    n = load_table(spark, sf_dir, "nation")
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .select(F.col("c_nationkey").alias("n_nationkey"))
    )
    return anti_report(n, c, "n_nationkey").select("n_nationkey", "n_name")


@register(
    "j6_multikey_join",
    """
    SELECT year(o_orderdate) AS order_year, c_mktsegment,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS segment_value
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
    """,
)
def j6_multikey_join(spark, sf_dir):
    """J6 — the reference's *planned* analytical join (state-year panel,
    README.md:12-16): fact x covariate on a compound key, here
    (year, segment) after an equi-join."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.year("o_orderdate").alias("order_year"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("segment_value"),
        )
    )


# ---------------------------------------------------------------------------
# Set ops (SURVEY §2.7)
# ---------------------------------------------------------------------------

@register(
    "u1_union_conform",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE)
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def u1_union_conform(spark, sf_dir):
    """U1 schema-aligned union (pd.concat, build_master_corpus.py:122):
    the second input omits a contract column and is NULL-backfilled by
    unionByName(allowMissingColumns=True)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b = o.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderstatus")
    return union_conform(a, b)


@register(
    "u3_distinct",
    """
    SELECT DISTINCT o_custkey, o_orderpriority FROM orders
    """,
)
def u3_distinct(spark, sf_dir):
    """U3 distinct (.unique(), legiscan_normalizer.py:293)."""
    return load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority").distinct()


@register(
    "u2_except_uncovered_nations",
    """
    SELECT n_nationkey AS nationkey FROM nation
    EXCEPT
    SELECT c_nationkey FROM customer WHERE c_custkey % 50 = 0
    """,
)
def u2_except_uncovered_nations(spark, sf_dir):
    """U2 (build_master_corpus.py:154-156: set difference for the
    missing-states report) — relational EXCEPT (``subtract``), the
    engine-native form of the reference's ``set(a) - set(b)``."""
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey")
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 50 == 0)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    return n.subtract(c)


# ---------------------------------------------------------------------------
# Windows / dedup (SURVEY §2.5) + sorts/top-k (§2.6)
# ---------------------------------------------------------------------------

#: explicit priority ladder replacing the reference's lexicographic accident
PRIORITY_ORDER = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@register(
    "w1_dedup_priority",
    """
    SELECT o_custkey, o_orderkey, o_orderpriority FROM (
      SELECT o_custkey, o_orderkey, o_orderpriority, row_number() OVER (
        PARTITION BY o_custkey
        ORDER BY CASE o_orderpriority
                   WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
                   WHEN '3-MEDIUM' THEN 2 WHEN '4-NOT SPECIFIED' THEN 3
                   WHEN '5-LOW' THEN 4 ELSE 5 END ASC,
                 o_orderkey ASC
      ) AS rn FROM orders
    ) WHERE rn = 1
    """,
)
def w1_dedup_priority(spark, sf_dir):
    """W1 keep-first-per-key with *explicit* priority order
    (build_master_corpus.py:137-139; the reference relied on
    lexicographic ordering of method labels)."""
    return dedup_priority(
        load_table(spark, sf_dir, "orders"),
        "o_custkey",
        "o_orderpriority",
        PRIORITY_ORDER,
        tiebreak=["o_orderkey"],
    ).select("o_custkey", "o_orderkey", "o_orderpriority")


@register(
    "w2_latest_per_key",
    """
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
      SELECT *, row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC NULLS LAST, o_orderkey ASC
      ) AS rn FROM orders
    ) WHERE rn = 1
    """,
)
def w2_latest_per_key(spark, sf_dir):
    """W2 latest-per-key (legiscan_normalizer.py:314-321)."""
    return dedup_latest_per_key(
        load_table(spark, sf_dir, "orders"),
        "o_custkey",
        ["o_orderdate"],
        tiebreak=["o_orderkey"],
    ).select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


@register(
    "w5_flag_both_sources",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN count(DISTINCT o_orderstatus)
                     OVER (PARTITION BY o_custkey, o_orderdate) > 1
                THEN 'Both_Manual_and_API' ELSE o_orderstatus END AS collection_method
    FROM orders
    """,
)
def w5_flag_both_sources(spark, sf_dir):
    """W5 both-sources provenance flag (build_master_corpus.py:127-135):
    o_orderstatus stands in for the collection-method column; keys with
    >1 distinct method get the merged label before dedup."""
    from dissertation_data_pipeline_spark.operators import flag_both_sources

    o = load_table(spark, sf_dir, "orders")
    flagged = flag_both_sources(
        o, ["o_custkey", "o_orderdate"], method_col="o_orderstatus",
    )
    return flagged.select(
        "o_orderkey", "o_custkey", F.col("o_orderstatus").alias("collection_method")
    )


@register(
    "a9_coalesce_fill",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderdate,
             o_orderkey % 2 AS version,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderpriority END AS pri,
             CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE o_totalprice END AS price
      FROM orders
    ), scored AS (
      SELECT *,
             (CASE WHEN pri IS NOT NULL AND trim(pri) <> '' THEN 1 ELSE 0 END
              + CASE WHEN price IS NOT NULL THEN 1 ELSE 0 END) AS comp
      FROM base
    ), ranked AS (
      SELECT *, row_number() OVER w AS rn,
             first_value(CASE WHEN pri IS NOT NULL AND trim(pri) <> '' THEN pri END IGNORE NULLS) OVER wf AS pri_f,
             first_value(price IGNORE NULLS) OVER wf AS price_f
      FROM scored
      WINDOW w AS (PARTITION BY o_custkey, o_orderdate
                   ORDER BY version DESC NULLS LAST, comp DESC, o_orderkey ASC),
             wf AS (PARTITION BY o_custkey, o_orderdate
                    ORDER BY version DESC NULLS LAST, comp DESC, o_orderkey ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    )
    SELECT o_orderkey, o_custkey, o_orderdate,
           pri_f AS o_orderpriority, price_f AS o_totalprice
    FROM ranked WHERE rn = 1
    """,
)
def a9_coalesce_fill(spark, sf_dir):
    """A9 group-merge with coalesce-fill (legiscan_normalizer.py:306-331):
    per duplicate group pick the best row (version desc, completeness
    desc, explicit tiebreak) and fill its missing fields from the other
    rows in the same deterministic order. Missingness is synthesized
    with NULLs keyed on o_orderkey."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        (F.col("o_orderkey") % 2).alias("version"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
        F.when(F.col("o_orderkey") % 4 == 0, F.lit(None))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    merged = merge_duplicates_coalesce_fill(
        o,
        ["o_custkey", "o_orderdate"],
        order_date_col="version",
        fill_cols=["o_orderpriority", "o_totalprice"],
        tiebreak=["o_orderkey"],
    )
    return merged.select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )


@register(
    "o2_top_k_frequency",
    """
    SELECT c_mktsegment, cnt FROM (
      SELECT c_mktsegment, count(*) AS cnt FROM customer GROUP BY 1
    ) ORDER BY cnt DESC, c_mktsegment LIMIT 3
    """,
)
def o2_top_k_frequency(spark, sf_dir):
    """O2 top-k frequency (build_corpus.py:122) — TakeOrdered, no global
    sort."""
    return top_k_frequency(load_table(spark, sf_dir, "customer"), "c_mktsegment", 3)


@register(
    "w4_format_preference",
    """
    SELECT l_orderkey,
           best.pref AS pref,
           best.l_linenumber AS l_linenumber,
           best.l_partkey AS l_partkey
    FROM (
      SELECT l_orderkey,
             (list(struct_pack(pref := CASE WHEN l_linestatus = 'O' THEN 0 ELSE 1 END,
                               l_linenumber := l_linenumber,
                               l_partkey := l_partkey)
                   ORDER BY CASE WHEN l_linestatus = 'O' THEN 0 ELSE 1 END,
                            l_linenumber, l_partkey))[1] AS best
      FROM lineitem GROUP BY 1
    )
    """,
)
def w4_format_preference(spark, sf_dir):
    """W4 (legiscan_collector.py:171-177): pick the preferred element of
    a nested list by an explicit preference ladder (mime preference in
    the reference; l_linestatus here), deterministic tiebreaks."""
    li = load_table(spark, sf_dir, "lineitem")
    pref = F.when(F.col("l_linestatus") == "O", 0).otherwise(1)
    entry = F.struct(
        pref.alias("pref"),
        F.col("l_linenumber").alias("l_linenumber"),
        F.col("l_partkey").alias("l_partkey"),
    )
    return (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list(entry)).alias("ranked"))
        .select(
            "l_orderkey",
            F.col("ranked")[0]["pref"].alias("pref"),
            F.col("ranked")[0]["l_linenumber"].alias("l_linenumber"),
            F.col("ranked")[0]["l_partkey"].alias("l_partkey"),
        )
    )


@register(
    "p10_o4_deterministic_head",
    """
    SELECT o_orderkey, o_orderstatus, o_orderpriority
    FROM orders ORDER BY o_orderkey LIMIT 10
    """,
)
def p10_o4_deterministic_head(spark, sf_dir):
    """P10 (fetch_texts.py:86-87: --limit test runs) + O4
    (legiscan_normalizer.py:376: head-N preview) — ``limit`` pinned to
    a total order on the unique key; a bare limit is
    partition-nondeterministic and would not oracle-match."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy("o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
    )


@register(
    "o1_o5_sorted_frequency",
    """
    SELECT o_orderpriority, count(*) AS n
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def o1_o5_sorted_frequency(spark, sf_dir):
    """O1 (build_master_corpus.py:138: global sort) + O5
    (build_corpus.py:119: ``value_counts().sort_index()`` by-key output
    convention) — frequency table ordered by key, one shuffle + a
    global sort of the tiny aggregate."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority")
    )


# -- sibling query modules register themselves on import (kept at the
# bottom: they import `register` from this module) ---------------------------
from dissertation_data_pipeline_spark.plans import queries_scalar  # noqa: E402,F401
from dissertation_data_pipeline_spark.plans import queries_dedup  # noqa: E402,F401
from dissertation_data_pipeline_spark.plans import queries_similarity  # noqa: E402,F401
from dissertation_data_pipeline_spark.plans import queries_textanalysis  # noqa: E402,F401
from dissertation_data_pipeline_spark.plans import queries_streaming  # noqa: E402,F401
from dissertation_data_pipeline_spark.plans import queries_tpch  # noqa: E402,F401
from dissertation_data_pipeline_spark.plans import queries_training  # noqa: E402,F401
from dissertation_data_pipeline_spark.plans import queries_multimodal  # noqa: E402,F401
from dissertation_data_pipeline_spark.plans import queries_skew  # noqa: E402,F401
from dissertation_data_pipeline_spark.plans import queries_temporal  # noqa: E402,F401
from dissertation_data_pipeline_spark.plans import queries_analytics  # noqa: E402,F401
from dissertation_data_pipeline_spark.plans import queries_features  # noqa: E402,F401
from dissertation_data_pipeline_spark.plans import queries_fixtures  # noqa: E402,F401
from dissertation_data_pipeline_spark.plans import queries_state  # noqa: E402,F401
