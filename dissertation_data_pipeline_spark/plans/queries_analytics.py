"""[EXT] analytics queries: pivot/unpivot, CUBE, window suite,
funnel, fuzzy matching, TF-IDF / BM25 ranking, set intersection,
graph ranking, histograms, regression, sketches, holistic aggregates
and behaviour reports.

Cross-engine conventions (registry module docstring applies):
- counts CAST to BIGINT in DuckDB (its integer SUM widens to HUGEINT,
  which the gate canon mis-hashes);
- money sums in DECIMAL(18,2), final cast to DOUBLE;
- every float division rounded to 6dp on both sides;
- BM25 contributions integer-canonicalized (micro-units) before the
  per-document sum so float addition order can't matter;
- ``ln`` is the one libm call (TF-IDF idf, BM25 idf): both engines
  evaluate the same double expression and the result is rounded before
  ranking/publication.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.operators import analytics as an
from dissertation_data_pipeline_spark.operators import textrank as tr
from dissertation_data_pipeline_spark.operators.analytics import grouped_weighted_median
from dissertation_data_pipeline_spark.operators.graphs import pagerank_int
from dissertation_data_pipeline_spark.operators.sketches import (
    bottomk_sketches,
    sketch_overlap_pairs,
)
from dissertation_data_pipeline_spark.operators.udafs import label_dim_medians
from dissertation_data_pipeline_spark.plans.queries_dedup import _HEXVAL
from dissertation_data_pipeline_spark.plans.registry import register
from dissertation_data_pipeline_spark.tables import load_table


@register(
    "ext_pivot_wide",
    """
    SELECT year(o_orderdate) AS order_year,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_p
    FROM orders GROUP BY 1
    """,
)
def ext_pivot_wide(spark, sf_dir):
    """[EXT] year × status pivot with an explicit value list — one
    aggregation pass, fixed schema, no value-discovery job (the
    distributed form of the reference's driver-side value_counts
    crosstabs, build_master_corpus.py:149-151)."""
    return an.pivot_year_status(load_table(spark, sf_dir, "orders"))


@register(
    "ext_unpivot_melt",
    """
    WITH wide AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n_lines,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, 'n_lines' AS metric, n_lines AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_qty', sum_qty FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM wide
    """,
)
def ext_unpivot_melt(spark, sf_dir):
    """[EXT] melt (unpivot) a wide per-flag aggregate into long form —
    an Expand over the metric columns, zero shuffles beyond the
    aggregation itself."""
    return an.unpivot_returnflag_metrics(load_table(spark, sf_dir, "lineitem"))


@register(
    "ext_cube_totals",
    """
    SELECT o_orderstatus,
           year(o_orderdate) AS order_year,
           CAST(GROUPING(o_orderstatus, year(o_orderdate)) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE(o_orderstatus, year(o_orderdate))
    """,
)
def ext_cube_totals(spark, sf_dir):
    """[EXT] CUBE(status, year): cells, both subtotal planes, grand
    total — ONE Expand + one aggregation with map-side partials, not
    four scans. grouping_id bit order (first col = MSB) matches
    DuckDB's GROUPING()."""
    return an.cube_status_year(load_table(spark, sf_dir, "orders")).withColumn(
        "gid", F.col("gid").cast("long")
    )


@register(
    "ext_window_suite",
    """
    SELECT o_custkey, o_orderkey,
           row_number() OVER w AS seq,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume_dist,
           date_diff('day',
                     lag(CAST(o_orderdate AS DATE)) OVER w,
                     CAST(o_orderdate AS DATE)) AS days_since_prev,
           round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w3 AS DOUBLE)
                 / (COUNT(*) OVER w3), 6) AS moving_avg_3,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER wrun AS DOUBLE) AS running_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           w3 AS (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
           wrun AS (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def ext_window_suite(spark, sf_dir):
    """[EXT] per-customer order-sequence window suite: all seven
    analytics share one window spec -> one shuffle + one sort.
    Deterministic total order (date, orderkey); moving average is an
    exact DECIMAL frame-sum over the frame count."""
    return an.window_suite(load_table(spark, sf_dir, "orders"))


@register(
    "ext_funnel_stages",
    """
    WITH s1 AS (
      SELECT user_id AS u, min(ts) AS t FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ), s2 AS (
      SELECT e.user_id AS u, min(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.u
      WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1
    ), s3 AS (
      SELECT e.user_id AS u, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.u
      WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1
    ), s4 AS (
      SELECT e.user_id AS u, min(e.ts) AS t FROM events e JOIN s3 ON e.user_id = s3.u
      WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1
    )
    SELECT CAST(1 AS INTEGER) AS stage_idx, 'signup' AS stage, (SELECT COUNT(*) FROM s1) AS n_users
    UNION ALL SELECT 2, 'view', (SELECT COUNT(*) FROM s2)
    UNION ALL SELECT 3, 'click', (SELECT COUNT(*) FROM s3)
    UNION ALL SELECT 4, 'purchase', (SELECT COUNT(*) FROM s4)
    """,
)
def ext_funnel_stages(spark, sf_dir):
    """[EXT] ordered-stage funnel (signup -> view -> click ->
    purchase): per stage one groupBy(user).min(ts) + equi-join on the
    previous stage — shuffles on user_id only, never an event-level
    self-join."""
    return an.funnel_conversion(load_table(spark, sf_dir, "events"))


@register(
    "ext_fuzzy_levenshtein_pairs",
    """
    SELECT a.p_brand, a.p_type,
           a.p_partkey AS id_a, b.p_partkey AS id_b,
           levenshtein(a.p_name, b.p_name) AS distance
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_type = b.p_type
     AND a.p_partkey < b.p_partkey
    WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
       AND levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def ext_fuzzy_levenshtein_pairs(spark, sf_dir):
    """[EXT] blocked edit-distance matching over part names within
    (brand, type) blocks — co-located equi-join, quadratic only per
    block, levenshtein evaluated inside the join stage."""
    return an.fuzzy_pairs_levenshtein(
        load_table(spark, sf_dir, "part"),
        "p_partkey",
        "p_name",
        ["p_brand", "p_type"],
        max_distance=2,
    )


_TF_SQL = r"""
  SELECT doc_id AS _id, tok AS _tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
    FROM documents
  ) WHERE len(tok) > 0 GROUP BY 1, 2
"""


@register(
    "ext_tfidf_top_terms",
    f"""
    WITH tf AS ({_TF_SQL}),
    dfreq AS (SELECT _tok, CAST(COUNT(*) AS BIGINT) AS _df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS _n FROM documents),
    scored AS (
      SELECT tf._id, tf._tok,
             round(tf.tf * (ln((n._n + 1) / (dfreq._df + 1)) + 1.0), 6) AS score
      FROM tf JOIN dfreq ON tf._tok = dfreq._tok CROSS JOIN n
    )
    SELECT _id AS doc_id, _tok AS term, term_rank, score FROM (
      SELECT *, row_number() OVER (PARTITION BY _id ORDER BY score DESC, _tok ASC) AS term_rank
      FROM scored
    ) WHERE term_rank <= 3
    """,
)
def ext_tfidf_top_terms(spark, sf_dir):
    """[EXT] top-3 characteristic terms per document by smoothed
    TF-IDF — single-exchange tf build, map-side-combined df, broadcast
    corpus size, one per-doc ranking window."""
    return tr.tfidf_top_terms(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", k=3
    )


#: fixed query for the BM25 demo: mixed-df terms from the corpus vocab
BM25_QUERY = ("spark", "query", "vector")


@register(
    "ext_bm25_rank",
    f"""
    WITH tf AS ({_TF_SQL}),
    dl AS (SELECT _id, CAST(SUM(tf) AS BIGINT) AS _dl FROM tf GROUP BY 1),
    qtf AS (SELECT * FROM tf WHERE _tok IN ('spark', 'query', 'vector')),
    dfreq AS (SELECT _tok, CAST(COUNT(*) AS BIGINT) AS _df FROM qtf GROUP BY 1),
    corpus AS (
      SELECT COUNT(*) AS _n,
             CAST(CAST(SUM(_dl) AS DECIMAL(38,10)) / COUNT(*) AS DOUBLE) AS _avgdl
      FROM dl
    ),
    scored AS (
      SELECT qtf._id,
             SUM(CAST(round(
               ln(1.0 + (corpus._n - dfreq._df + 0.5) / (dfreq._df + 0.5))
               * (qtf.tf * (1.2 + 1)) / (qtf.tf + 1.2 * (1 - 0.75 + 0.75 * dl._dl / corpus._avgdl))
               * 1e6, 0) AS BIGINT)) / 1e6 AS score
      FROM qtf
      JOIN dfreq ON qtf._tok = dfreq._tok
      JOIN dl ON qtf._id = dl._id
      CROSS JOIN corpus
      GROUP BY 1
    )
    SELECT rank, doc_id, score FROM (
      SELECT row_number() OVER (ORDER BY score DESC, _id ASC) AS rank,
             _id AS doc_id, score
      FROM scored
    ) WHERE rank <= 20
    """,
)
def ext_bm25_rank(spark, sf_dir):
    """[EXT] Okapi BM25 (k1=1.2, b=0.75) top-20 over the corpus for a
    fixed term set — integer-canonicalized contributions, TakeOrdered
    top-n (never a global single-partition sort of the corpus)."""
    return tr.bm25_rank(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        BM25_QUERY,
        k1=1.2,
        b=0.75,
        top_n=20,
    )


@register(
    "ext_intersect_segments",
    """
    SELECT DISTINCT c_mktsegment FROM customer WHERE c_nationkey = 0
    INTERSECT
    SELECT DISTINCT c_mktsegment FROM customer WHERE c_nationkey = 1
    """,
)
def ext_intersect_segments(spark, sf_dir):
    """[EXT] INTERSECT set operation (the U-family sibling of
    u2_except): market segments present in both nation 0 and
    nation 1."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_nationkey") == 0)
        .select("c_mktsegment")
        .intersect(c.filter(F.col("c_nationkey") == 1).select("c_mktsegment"))
    )


@register(
    "ext_dq_checks",
    """
    WITH n AS (SELECT COUNT(*) AS n_rows FROM orders),
    report AS (
      SELECT 'foreign_key(o_custkey)' AS "check",
             CAST((SELECT COUNT(*) FROM orders o
                   WHERE o.o_custkey IS NOT NULL
                     AND NOT EXISTS (SELECT 1 FROM customer c
                                     WHERE c.c_custkey = o.o_custkey)) AS BIGINT) AS violations,
             (SELECT n_rows FROM n) AS n_rows
      UNION ALL
      SELECT 'in_range(o_totalprice)',
             CAST((SELECT COUNT(*) FROM orders
                   WHERE o_totalprice IS NULL OR o_totalprice < 0
                      OR o_totalprice > 1000000) AS BIGINT),
             (SELECT n_rows FROM n)
      UNION ALL
      SELECT 'in_set(o_orderstatus)',
             CAST((SELECT COUNT(*) FROM orders
                   WHERE o_orderstatus IS NULL
                      OR o_orderstatus NOT IN ('F', 'O', 'P')) AS BIGINT),
             (SELECT n_rows FROM n)
      UNION ALL
      SELECT 'matches(o_orderpriority)',
             CAST((SELECT COUNT(*) FROM orders
                   WHERE o_orderpriority IS NULL
                      OR NOT regexp_full_match(o_orderpriority, '[1-5]-[A-Z ]+')) AS BIGINT),
             (SELECT n_rows FROM n)
      UNION ALL
      SELECT 'not_null(o_orderdate)',
             CAST((SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL) AS BIGINT),
             (SELECT n_rows FROM n)
      UNION ALL
      SELECT 'not_null(o_orderkey)',
             CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL) AS BIGINT),
             (SELECT n_rows FROM n)
      UNION ALL
      SELECT 'unique(o_orderkey)',
             CAST((SELECT COALESCE(SUM(cnt), 0) FROM (
                     SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey
                   ) WHERE cnt > 1) AS BIGINT),
             (SELECT n_rows FROM n)
    )
    SELECT "check", violations, n_rows, violations = 0 AS passed
    FROM report ORDER BY 1
    """,
)
def ext_dq_checks(spark, sf_dir):
    """[EXT] declarative expectations over orders: six constraint kinds
    in one report — all row-local checks share ONE aggregation pass;
    unique adds one key-only groupBy; the FK check is a broadcast
    left-anti count (quality_checks.py; the reference's ad-hoc
    analogues: legiscan_enricher.py:333-341, build_corpus.py:103)."""
    from dissertation_data_pipeline_spark.operators import quality_checks as qc

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return qc.run_checks(
        o,
        [
            qc.not_null("o_orderkey"),
            qc.not_null("o_orderdate"),
            qc.in_set("o_orderstatus", ["F", "O", "P"]),
            qc.in_range("o_totalprice", 0, 1_000_000),
            qc.matches("o_orderpriority", "[1-5]-[A-Z ]+"),
            qc.unique("o_orderkey"),
            qc.foreign_key("o_custkey", c, "c_custkey"),
        ],
    )


def _topic_sql(words) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        r"len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\s+')), "
        f"[{lst}])) > 0"
    )


@register(
    "ext_rule_classifier",
    f"""
    WITH flags AS (
      SELECT doc_id,
             {_topic_sql(tr.TOPIC_RULES["scans"])} AS has_scans,
             {_topic_sql(tr.TOPIC_RULES["joins"])} AS has_joins,
             {_topic_sql(tr.TOPIC_RULES["aggregation"])} AS has_aggregation,
             {_topic_sql(tr.TOPIC_RULES["streaming"])} AS has_streaming,
             {_topic_sql(tr.TOPIC_RULES["storage"])} AS has_storage,
             {_topic_sql(tr.TOPIC_RULES["performance"])} AS has_performance,
             {_topic_sql(tr.TOPIC_RULES["vectors"])} AS has_vectors
      FROM documents
    )
    SELECT doc_id, has_scans, has_joins, has_aggregation, has_streaming,
           has_storage, has_performance, has_vectors,
           (has_scans::INT + has_joins::INT + has_aggregation::INT
            + has_streaming::INT + has_storage::INT + has_performance::INT
            + has_vectors::INT) AS n_topics,
           CASE WHEN NOT (has_scans OR has_joins OR has_aggregation OR has_streaming
                          OR has_storage OR has_performance OR has_vectors)
                THEN 'covers: none'
                ELSE 'covers: ' || concat_ws(', ',
                  CASE WHEN has_scans THEN 'scans' END,
                  CASE WHEN has_joins THEN 'joins' END,
                  CASE WHEN has_aggregation THEN 'aggregation' END,
                  CASE WHEN has_streaming THEN 'streaming' END,
                  CASE WHEN has_storage THEN 'storage' END,
                  CASE WHEN has_performance THEN 'performance' END,
                  CASE WHEN has_vectors THEN 'vectors' END)
           END AS summary
    FROM flags
    """,
)
def ext_rule_classifier(spark, sf_dir):
    """[EXT-parity] rule-based multi-label classifier: the shape of the
    reference's co_pilot_summary.csv (7 binary strategy columns +
    plain_language_summary; the producing classify_co_pilot.py is
    absent upstream — SURVEY §2.10). Topic dictionaries over distinct
    tokens, topic count, and an assembled summary — pure scan-speed
    expressions."""
    d = load_table(spark, sf_dir, "documents")
    cls = tr.rule_classify("text")
    return d.select("doc_id", *[c.alias(n) for n, c in cls.items()])


@register(
    "ext_snapshot_diff",
    """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
    ), new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 5 <> 0
    )
    SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                WHEN old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
                  OR old.o_totalprice IS DISTINCT FROM new.o_totalprice THEN 'changed'
                ELSE 'unchanged' END AS status,
           CASE WHEN old.o_orderkey IS NOT NULL AND new.o_orderkey IS NOT NULL
                 AND (old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
                      OR old.o_totalprice IS DISTINCT FROM new.o_totalprice)
                THEN concat_ws(',',
                  CASE WHEN old.o_orderstatus IS DISTINCT FROM new.o_orderstatus THEN 'o_orderstatus' END,
                  CASE WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice THEN 'o_totalprice' END)
                ELSE '' END AS changed_cols
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    """,
)
def ext_snapshot_diff(spark, sf_dir):
    """[EXT] full-outer snapshot reconciliation (added / removed /
    changed / unchanged + changed-column list) between two synthesized
    order snapshots — the incremental-pipeline "what changed this run"
    primitive, one shuffle join on the key
    (operators/relational.py::snapshot_diff)."""
    from dissertation_data_pipeline_spark.operators.relational import snapshot_diff

    o = load_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = o.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


@register(
    "ext_triangle_count",
    """
    WITH li AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 40
    ), edges AS (
      SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                      greatest(a.l_partkey, b.l_partkey) AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT (SELECT COUNT(*) FROM edges e1
            JOIN edges e2 ON e1.v = e2.u
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles,
           (SELECT COUNT(*) FROM (SELECT DISTINCT id FROM
              (SELECT u AS id FROM edges UNION ALL SELECT v FROM edges))) AS n_nodes,
           (SELECT COUNT(*) FROM edges) AS n_edges,
           CAST(0 AS BIGINT) AS n_dropped_nodes
    """,
)
def ext_triangle_count(spark, sf_dir):
    """[EXT] exact triangle count of the high-quantity co-purchase
    graph (parts sharing an order) by degree-ordered wedge closing
    (operators/graphs.py — Suri & Vassilvitskii orientation: out-degree
    bounded by O(sqrt m), no reducer owns a hub's neighborhood). The
    oracle brute-forces the 3-way edge join over normalized u<v<w
    edges — same count, quadratic shape the operator avoids."""
    from dissertation_data_pipeline_spark.operators import graphs as g

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("id_a"), F.col("b.l_partkey").alias("id_b")
    )
    return g.triangle_count(g.normalize_edges(pairs))


@register(
    "ext_rolling_features",
    """
    WITH cents AS (
      SELECT user_id, ts, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ), roll AS (
      SELECT user_id, ts, event_id, v,
             lag(v, 1) OVER w AS l1,
             lag(v, 2) OVER w AS l2,
             lag(v, 3) OVER w AS l3,
             CAST(count(*) OVER w4 AS BIGINT) AS n,
             CAST(sum(v) OVER w4 AS BIGINT) AS s,
             CAST(sum(v * v) OVER w4 AS BIGINT) AS s2
      FROM cents
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
             w4 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, ts, event_id,
           round(v::DOUBLE / 100, 6) AS value,
           round(l1::DOUBLE / 100, 6) AS lag1,
           round(s::DOUBLE / n / 100, 6) AS roll_mean,
           round(sqrt(greatest(s2::DOUBLE / n
                               - (s::DOUBLE / n) * (s::DOUBLE / n), 0))
                 / 100, 6) AS roll_std,
           round((v * 8 + COALESCE(l1 * 4, 0) + COALESCE(l2 * 2, 0)
                  + COALESCE(l3, 0))::DOUBLE
                 / (8 + CASE WHEN l1 IS NULL THEN 0 ELSE 4 END
                      + CASE WHEN l2 IS NULL THEN 0 ELSE 2 END
                      + CASE WHEN l3 IS NULL THEN 0 ELSE 1 END)
                 / 100, 6) AS ewma
    FROM roll
    """,
)
def ext_rolling_features(spark, sf_dir):
    """[EXT] per-user rolling ML features (lag, 4-row rolling mean /
    population std from exact integer moments, bounded EWMA with
    power-of-two weights) — the standard temporal feature block, in
    the engine's exact-arithmetic discipline: every float output is a
    bounded number of ops over bit-identical int64 inputs, rounded to
    6dp. One shuffle on user_id; all windows share the (ts, event_id)
    total order."""
    from dissertation_data_pipeline_spark.operators.analytics import (
        rolling_features,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return rolling_features(
        ev, "user_id", "ts", "value", id_col="event_id", window_rows=4
    )


# ---------------------------------------------------------------------------
# Integer-exact PageRank, equi-depth histograms, per-group linear
# regression. Every accumulating computation stays in integer/decimal
# space; any final division of two exact integers is one IEEE op both
# engines perform identically.
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000_000


_PR_ITER = 6


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank in pure integer arithmetic —
    bit-identical to ``operators.graphs.pagerank_int`` by construction
    (same floor divisions in the same order on exact integers)."""
    head = f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ), edges AS (
      SELECT prev_type AS src, event_type AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ), nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ), consts AS (
      SELECT {_PR_SCALE} // COUNT(*) AS base_total,
             (15 * ({_PR_SCALE} // COUNT(*))) // 100 AS base
      FROM nodes
    ), outw AS (
      SELECT src, SUM(w) AS ow FROM edges GROUP BY 1
    ), r0 AS (
      SELECT node, base_total AS r FROM nodes, consts
    )"""
    its = []
    for k in range(1, _PR_ITER + 1):
        its.append(f""", r{k} AS (
      SELECT n.node,
             (SELECT base FROM consts) + (85 * COALESCE(c.s, 0)) // 100 AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM((p.r * e.w) // o.ow) AS s
        FROM edges e JOIN outw o USING (src) JOIN r{k - 1} p ON e.src = p.node
        GROUP BY 1
      ) c ON n.node = c.node
    )""")
    return (
        head
        + "".join(its)
        + f"""
    SELECT node AS event_type, CAST(r AS BIGINT) AS rank_scaled FROM r{_PR_ITER}
    """
    )


@register("ext_pagerank_transitions", _pagerank_oracle())
def ext_pagerank_transitions(spark, sf_dir):
    """[EXT] PageRank over the event-type transition graph (edges =
    Markov transition counts from per-user event sequences), computed
    by ``pagerank_int`` in scaled-integer arithmetic: float PageRank is
    partition-order dependent (float contribution sums), the integer
    variant is bit-reproducible on any engine or partitioning — which
    is what lets a recursive oracle verify a distributed iterative
    algorithm value-for-value.

    The node set here is small (event types), but the loop is the
    genuine distributed shape: per iteration one join of ranks onto
    edges on src, one map-side-combined groupBy dst, one left join onto
    the node list, lineage cut per round. Swap the edge list for a
    web/citation graph and the same code runs at 100 TB.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        e.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("src"), F.col("event_type").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ranks = pagerank_int(
        edges, iterations=_PR_ITER, scale=_PR_SCALE, damping_pct=85
    )
    return ranks.select(
        F.col("node").alias("event_type"), F.col("r").alias("rank_scaled")
    )


@register(
    "ext_histogram_equidepth",
    """
    WITH cents AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM orders
    ), hist AS (
      SELECT v, COUNT(*) AS c FROM cents GROUP BY 1
    ), cum AS (
      SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM hist
    ), tot AS (
      SELECT COUNT(*) AS n FROM cents
    ), ks AS (
      SELECT unnest(range(1, 10)) AS k
    ), bounds AS (
      SELECT k, MIN(v) AS b
      FROM cum, tot, ks
      WHERE cum > (k * (n - 1)) // 10
      GROUP BY 1
    ), blist AS (
      SELECT list(b ORDER BY k) AS bs FROM bounds
    )
    SELECT CAST(len(list_filter(bs, b -> v > b)) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(v) AS lo_cents,
           MAX(v) AS hi_cents
    FROM cents, blist
    GROUP BY 1
    """,
)
def ext_histogram_equidepth(spark, sf_dir):
    """[EXT] Equi-depth (decile) histogram of order values WITHOUT a
    global sort: boundary k is the exact order statistic at 0-based
    index (k*(n-1)) div 10, recovered from a cumulative count over the
    *distinct-value* histogram — the standard exact-quantile-via-
    histogram trick. The ordered window runs over distinct integer
    cents (bounded by the value domain, not the row count), so there is
    no scale-killing whole-data sort; rows then bin against the 9
    broadcast boundaries with a pure codegen filter-count. All integer,
    so both engines agree exactly — no percentile interpolation floats.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v")
    )
    hist = cents.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select("v", F.sum("c").over(wcum).alias("cum"))
    tot = cents.agg(F.count(F.lit(1)).alias("n"))
    ks = cum.sparkSession.range(1, 10).select(F.col("id").alias("k"))
    bounds = (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ks))
        .filter(F.col("cum") > F.expr("(k * (n - 1)) div 10"))
        .groupBy("k")
        .agg(F.min("v").alias("b"))
    )
    blist = bounds.agg(
        F.array_sort(F.collect_list(F.struct("k", "b"))).alias("kb")
    ).select(F.transform("kb", lambda s: s.getField("b")).alias("bs"))
    binned = cents.crossJoin(F.broadcast(blist)).select(
        F.size(F.filter("bs", lambda b: F.col("v") > b))
        .cast("long")
        .alias("bucket"),
        "v",
    )
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("lo_cents"),
        F.max("v").alias("hi_cents"),
    )


@register(
    "ext_group_linreg",
    """
    WITH pts AS (
      SELECT event_type,
             (CAST(ts AS DATE) - DATE '2024-01-01') * 24
               + CAST(hour(ts) AS BIGINT) AS x,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM events
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pts GROUP BY 1
    )
    , d AS (
      SELECT event_type, n,
             CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
             CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
             CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd
      FROM m
    )
    SELECT event_type, n,
           round((nd * sxyd - sxd * syd)
                 / (nd * sxxd - sxd * sxd), 6)
             AS slope_cents_per_hour,
           round((syd
                    - (nd * sxyd - sxd * syd)
                      / (nd * sxxd - sxd * sxd) * sxd)
                 / nd, 6) AS intercept_cents,
           round((nd * sxyd - sxd * syd)
                 * (nd * sxyd - sxd * syd)
                 / ((nd * sxxd - sxd * sxd)
                    * (nd * syyd - syd * syd)), 6) AS r2
    FROM d
    """,
)
def ext_group_linreg(spark, sf_dir):
    """[EXT] Per-group ordinary least squares (value-vs-time trend per
    event type) from exact integer moment sums: x = whole hours since
    2024-01-01 (date arithmetic — timezone-free in both engines), y =
    integer cents. n, Sx, Sy, Sxx, Sxy, Syy accumulate as BIGINTs (one
    distributed aggregation, map-side combined, order-invariant), then
    slope/intercept/r² are a handful of IEEE ops on identical exact
    integers — so a float regression result becomes value-hashable.
    Magnitude audit: x<=720, y<2^23 keep the int64 SUMS exact through
    ~sf100 (Syy worst ~6e17 < 2^63), but the CROSS-PRODUCTS (n*Syy,
    Sy*Sy) overflow int64 already at sf1 (n=2e5/group -> n*Syy ~1e20;
    found by the round-4 sf1 oracle sweep), so both engines form them
    in IEEE double: identical operands (exact int64 sums), identical
    op shapes -> bit-identical rounding, hash-stable at any scale.

    This is the moment-sketch pattern every distributed ML system uses
    for closed-form estimators: one pass, six numbers per group, no
    iteration — the 100 TB plan is identical to the sf0.01 plan.
    """
    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "event_type",
        (
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            * 24
            + F.hour("ts")
        ).cast("long").alias("x"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("y"),
    )
    m = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd, sxd, syd = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    sxxd, sxyd, syyd = (
        F.col(c).cast("double") for c in ("sxx", "sxy", "syy")
    )
    num = nd * sxyd - sxd * syd
    den = nd * sxxd - sxd * sxd
    deny = nd * syyd - syd * syd
    slope = num / den
    return m.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope_cents_per_hour"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
            6,
        ).alias("intercept_cents"),
        F.round(num * num / (den * deny), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Sketches: bottom-k overlap (Cohen & Kaplan 2007; deterministic
# md5-derived bottom-64 sketches per source + pairwise Jaccard
# estimates, quadratic only on sketches), count-min heavy hitters,
# HyperLogLog distinct counts, and approx_count_distinct.
# ---------------------------------------------------------------------------

@register(
    "ext_source_overlap_sketch",
    rf"""
    WITH toks AS (
      SELECT doc_id, source,
             string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' '))
               ELSE [array_to_string(t, ' ')] END) AS shingles
      FROM toks
    ),
    post AS (SELECT DISTINCT source, unnest(shingles) AS s FROM sh),
    hs AS (SELECT DISTINCT source, {_HEXVAL} AS h FROM post),
    sk AS (
      SELECT source, list_sort(list(h))[1:64] AS sketch,
             CAST(count(*) AS BIGINT) AS n_distinct
      FROM hs GROUP BY 1
    ),
    pairs AS (
      SELECT a.source AS g_a, b.source AS g_b,
             a.n_distinct AS n_a, b.n_distinct AS n_b,
             list_sort(list_distinct(list_concat(a.sketch, b.sketch)))[1:64] AS B,
             list_intersect(a.sketch, b.sketch) AS I
      FROM sk a JOIN sk b ON a.source < b.source
    )
    SELECT g_a, g_b, n_a, n_b,
           CAST(len(list_filter(B, x -> list_contains(I, x))) AS BIGINT)
             AS n_shared_in_sample,
           CAST(len(B) AS BIGINT) AS sample_size,
           round(len(list_filter(B, x -> list_contains(I, x)))::DOUBLE
                 / len(B), 6) AS jaccard_est
    FROM pairs
    """,
)
def ext_source_overlap_sketch(spark, sf_dir):
    """[EXT] pairwise source-overlap estimation from bottom-64 shingle
    sketches: each source reduces to its 64 smallest md5-derived
    shingle hashes, then every source pair gets a Jaccard estimate
    from the merged sketch — quadratic only on the |sources| sketch
    rows (512 bytes each), never on documents. The md5 hash makes the
    estimate itself deterministic, so the oracle reproduces it
    exactly."""
    sk = bottomk_sketches(
        load_table(spark, sf_dir, "documents"),
        "source",
        "text",
        id_col="doc_id",
        k=64,
    )
    return sketch_overlap_pairs(sk, "source", k=64)


_CMS_HEX = "0123456789abcdef"


def _cms_bucket(tok_expr: str) -> str:
    """DuckDB twin of the Spark bucket fn: first two hex digits of
    md5(d || ':' || token) as an int in 0..255."""
    h = f"md5(CAST(d AS VARCHAR) || ':' || {tok_expr})"
    return (
        f"((strpos('{_CMS_HEX}', substr({h}, 1, 1)) - 1) * 16"
        f" + (strpos('{_CMS_HEX}', substr({h}, 2, 1)) - 1))"
    )


@register(
    "ext_count_min_hitters",
    rf"""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents
    ),
    nz AS (SELECT tok FROM toks WHERE length(tok) > 0),
    tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS true_cnt
           FROM nz GROUP BY 1),
    top AS (SELECT tok, true_cnt FROM tc
            ORDER BY true_cnt DESC, tok ASC LIMIT 10),
    posts AS (
      SELECT tok, d, {_cms_bucket('tok')} AS b
      FROM nz CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d)
    ),
    cms AS (SELECT d, b, CAST(count(*) AS BIGINT) AS cnt
            FROM posts GROUP BY 1, 2),
    probe AS (
      SELECT t.tok, t.true_cnt, dd.d, {_cms_bucket('t.tok')} AS b
      FROM top t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d) dd
    )
    SELECT p.tok, p.true_cnt, CAST(min(c.cnt) AS BIGINT) AS est_cnt
    FROM probe p JOIN cms c ON c.d = p.d AND c.b = p.b
    GROUP BY 1, 2
    """,
)
def ext_count_min_hitters(spark, sf_dir):
    """[EXT] count-min sketch heavy hitters (Cormode & Muthukrishnan
    2005): a 4x256 md5-bucketed counter matrix over the corpus token
    stream, probed at the true top-10 tokens so the one-sided
    estimate >= truth guarantee is gate-checked data, not prose. The
    sketch is mergeable cell-wise — the streaming/distributed
    heavy-hitter structure at any scale."""
    from dissertation_data_pipeline_spark.operators.sketches import (
        count_min_heavy_hitters,
    )

    return count_min_heavy_hitters(load_table(spark, sf_dir, "documents"))


@register(
    "ext_hll_distinct",
    r"""
    WITH toks AS (
      SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents
    ),
    dist AS (SELECT DISTINCT source, tok FROM toks WHERE length(tok) > 0),
    hx AS (SELECT source, md5(tok) AS h FROM dist),
    parts AS (
      SELECT source,
             ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) AS j,
             substr(h, 3, 12) AS tail,
             length(regexp_extract(substr(h, 3, 12), '^(0*)', 1)) AS z
      FROM hx
    ),
    rho AS (
      SELECT source, j,
             CASE WHEN z = 12 THEN 49
                  ELSE z * 4
                       + CASE substr(tail, z + 1, 1)
                           WHEN '1' THEN 3
                           WHEN '2' THEN 2 WHEN '3' THEN 2
                           WHEN '4' THEN 1 WHEN '5' THEN 1
                           WHEN '6' THEN 1 WHEN '7' THEN 1
                           ELSE 0 END
                       + 1 END AS rho
      FROM parts
    ),
    regs AS (SELECT source, j, max(rho) AS r FROM rho GROUP BY 1, 2),
    per_group AS (
      SELECT source,
             CAST(sum(CAST(1 AS BIGINT) << (49 - r))
                  + (256 - count(*)) * (CAST(1 AS BIGINT) << 49)
                  AS BIGINT) AS reg_sum,
             CAST(256 - count(*) AS BIGINT) AS zero_regs
      FROM regs GROUP BY 1
    ),
    exact AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact
              FROM dist GROUP BY 1)
    SELECT p.source, e.n_exact, p.reg_sum, p.zero_regs,
           round(CASE WHEN (2.6499581405668102e+19 / CAST(p.reg_sum AS DOUBLE)) <= 640.0
                           AND p.zero_regs > 0
                      THEN 256.0 * ln(256.0 / CAST(p.zero_regs AS DOUBLE))
                      ELSE 2.6499581405668102e+19 / CAST(p.reg_sum AS DOUBLE)
                 END, 4) AS hll_est
    FROM per_group p JOIN exact e USING (source)
    """,
)
def ext_hll_distinct(spark, sf_dir):
    """[EXT] HyperLogLog distinct-token count per source (Flajolet et
    al. 2007) reported beside the exact distinct count: 256
    md5-addressed registers, rho from integer/string ops only, the
    harmonic denominator formed as an exact int64 sum so partition
    order cannot perturb it. Mergeable by cell-wise max — the
    distributed distinct-count structure; the register-state column
    (reg_sum) keeps the sketch itself, not just the estimate, under
    the gate."""
    from dissertation_data_pipeline_spark.operators.sketches import (
        hll_distinct_by_group,
    )

    return hll_distinct_by_group(
        load_table(spark, sf_dir, "documents"), "source"
    )


@register(
    "ext_approx_count_distinct",
    """
    SELECT count(DISTINCT o_custkey) AS exact_custkeys,
           TRUE AS approx_within_5pct
    FROM orders
    """,
)
def ext_approx_count_distinct(spark, sf_dir):
    """[EXT] approx_count_distinct (A2's 100 TB path): HLL++ sketch,
    one pass, no exact-distinct shuffle. HLL estimates are
    engine-specific, so the hashable contract is the part both engines
    agree on: the exact distinct count plus a boolean asserting the
    sketch landed within 5% of it (rsd=0.02, so 5% is a 2.5-sigma
    bound; deterministic for a fixed dataset). The unit test bounds the
    relative error independently."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("exact_custkeys"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", 0.02)
                - F.countDistinct("o_custkey")
            )
            <= 0.05 * F.countDistinct("o_custkey")
        ).alias("approx_within_5pct"),
    )


# ---------------------------------------------------------------------------
# Holistic aggregates Spark lacks natively: the grouped-agg pandas UDAF
# (operators.udafs, per-label coordinate-wise embedding median, exploded
# to long form so the gate can hash it) and the grouped weighted median
# (operators.analytics.grouped_weighted_median, exact int64 cumulative
# weights along a documented total order).
# ---------------------------------------------------------------------------

@register(
    "ext_udaf_label_medians",
    """
    WITH long AS (
      SELECT label, i AS dim, CAST(embedding[i] AS DOUBLE) AS v
      FROM (
        SELECT label, embedding,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings
      )
    )
    SELECT label, CAST(dim AS BIGINT) AS dim, round(median(v), 6) AS med
    FROM long GROUP BY 1, 2
    """,
)
def ext_udaf_label_medians(spark, sf_dir):
    """[EXT] the GROUPED_AGG pandas-UDAF surface: per-label
    coordinate-wise embedding median (order-statistic aggregate, no
    Spark built-in), float32 widened to float64 before sorting so the
    middle-pair average is bit-identical to the oracle's DOUBLE
    median. Long-form (label, dim, med) output."""
    return label_dim_medians(load_table(spark, sf_dir, "embeddings"))


@register(
    "ext_weighted_median",
    """
    WITH base AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             CAST(1 + user_id % 5 AS BIGINT) AS wgt,
             event_id
      FROM events WHERE value IS NOT NULL
    ),
    scored AS (
      SELECT event_type, cents,
             SUM(wgt) OVER (
               PARTITION BY event_type
               ORDER BY cents ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum,
             SUM(wgt) OVER (PARTITION BY event_type) AS tot
      FROM base
    )
    SELECT event_type,
           MIN(cents) AS weighted_median,
           CAST(MAX(tot) AS BIGINT) AS total_weight
    FROM scored WHERE 2 * cum >= tot
    GROUP BY 1
    """,
)
def ext_weighted_median(spark, sf_dir):
    """[EXT] per-event-type weighted (lower) median of the value in
    exact cents, weighted by a deterministic per-user weight — int64
    cumulative weights along the (value, event_id) total order, so the
    crossing row is engine-independent."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        (1 + F.col("user_id") % 5).cast("long").alias("wgt"),
        "event_id",
    )
    return grouped_weighted_median(
        base, ["event_type"], "cents", "wgt", tiebreak_col="event_id"
    )


# ---------------------------------------------------------------------------
# Distribution and behaviour reports: equi-width histogram, percent of
# total, MAD outliers, event transitions, cohort retention.
# ---------------------------------------------------------------------------

@register(
    "ext_histogram_equiwidth",
    """
    WITH mm AS (
      SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
    )
    SELECT least(CAST(floor((o_totalprice - lo) * 10 / (hi - lo)) AS BIGINT), 9) AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders CROSS JOIN mm
    GROUP BY 1
    """,
)
def ext_histogram_equiwidth(spark, sf_dir):
    """[EXT] 10-bin equal-width histogram of order values: global
    min/max attach as a broadcast 1-row aggregate, binning is a codegen
    expression, counts aggregate map-side — two passes over the scan,
    zero driver-side math. Bin edges are the same IEEE doubles in both
    engines, so bucket assignment is identical."""
    o = load_table(spark, sf_dir, "orders")
    mm = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    bucket = F.least(
        F.floor(
            (F.col("o_totalprice") - F.col("lo")) * 10 / (F.col("hi") - F.col("lo"))
        ).cast("long"),
        F.lit(9).cast("long"),
    )
    return (
        o.crossJoin(F.broadcast(mm))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
    )


@register(
    "ext_pct_of_total",
    """
    WITH rev AS (
      SELECT n_name,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1
    )
    SELECT n_name,
           CAST(r AS DOUBLE) AS revenue,
           round(CAST(r AS DOUBLE) / CAST(SUM(r) OVER () AS DOUBLE), 6) AS share
    FROM rev
    """,
)
def ext_pct_of_total(spark, sf_dir):
    """[EXT] ratio-to-report: each nation's revenue share of the
    corpus total via an empty-frame window sum over the (tiny)
    aggregated frame — the denominators never touch fact-table rows.
    Exact decimal sums on both sides of the division."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r"))
    )
    w = Window.partitionBy()
    return rev.select(
        "n_name",
        F.col("r").cast("double").alias("revenue"),
        F.round(
            F.col("r").cast("double") / F.sum("r").over(w).cast("double"), 6
        ).alias("share"),
    )


@register(
    "ext_mad_outliers",
    """
    WITH cents AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events
    ), med AS (
      SELECT event_type, quantile_cont(v, 0.5) AS m FROM cents GROUP BY 1
    ), dev AS (
      SELECT c.event_type, c.v, med.m, abs(c.v - med.m) AS d
      FROM cents c JOIN med USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY 1
    )
    SELECT dev.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN dev.d > 5 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY 1
    """,
)
def ext_mad_outliers(spark, sf_dir):
    """[EXT] robust outlier screen: median absolute deviation per
    event_type over integer cents (exact percentile interpolation —
    both engines IEEE-agree), outliers = |v - median| > 5*MAD. Two
    grouped percentile passes + one flagging aggregation; the per-type
    medians ride broadcast joins back onto the rows."""
    e = load_table(spark, sf_dir, "events")
    cents = e.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("v"),
    )
    med = cents.groupBy("event_type").agg(
        F.percentile("v", F.lit(0.5)).alias("m")
    )
    dev = cents.join(F.broadcast(med), "event_type").select(
        "event_type", "v", F.abs(F.col("v") - F.col("m")).alias("d")
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("d", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("d") > 5 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
    )


@register(
    "ext_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def ext_event_transitions(spark, sf_dir):
    """[EXT] first-order Markov transition counts over per-user event
    sequences: one window shuffle on user_id (total order (ts,
    event_id) — partition-count invariant), then a map-side-combined
    pair count. The behavioral-analytics primitive behind funnels and
    session models."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "ext_cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY 1
    )
    SELECT f.cohort_week,
           CAST(floor(date_diff('day', f.cohort_week,
                                CAST(e.ts AS DATE)) / 7.0) AS BIGINT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_active
    FROM events e JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
)
def ext_cohort_retention(spark, sf_dir):
    """[EXT] cohort retention: users cohorted by the ISO week of their
    first event; per (cohort, week-offset) distinct active users. One
    groupBy for cohort assignment (broadcast back onto events — the
    cohort table is |users|-sized, far under the fact table), one
    count-distinct aggregation."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    joined = e.join(F.broadcast(firsts), "user_id")
    offset = F.floor(
        F.datediff(F.col("ts").cast("date"), F.col("cohort_week")) / 7.0
    ).cast("long")
    return joined.groupBy(
        "cohort_week", offset.alias("week_offset")
    ).agg(F.countDistinct("user_id").alias("n_active"))
