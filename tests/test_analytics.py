"""Analytics: pivot/unpivot, CUBE, window suite, funnel, fuzzy
matching, TF-IDF/BM25, per-group OLS, equi-depth histogram, sketches
(bottom-k, count-min, HyperLogLog), grouped-agg pandas UDAF — semantics
+ the plan shapes that matter."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.operators import analytics as an
from dissertation_data_pipeline_spark.operators import textrank as tr
from dissertation_data_pipeline_spark.operators.sketches import (
    bottomk_sketches,
    sketch_overlap_pairs,
)
from dissertation_data_pipeline_spark.operators.udafs import label_dim_medians
from dissertation_data_pipeline_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from dissertation_data_pipeline_spark.session import get_spark

    return get_spark()


@pytest.fixture(scope="module")
def orders(spark):
    return load_table(spark, SF_DIR, "orders")


def _plan(df) -> str:
    # executedPlan().toString() prints each node once (the formatted
    # mode lists every node twice: tree line + detail block)
    return df._jdf.queryExecution().executedPlan().toString()


def test_pivot_round_trips_the_groupby(spark, orders):
    """Pivot cell (year, status) must equal the plain groupBy count."""
    wide = an.pivot_year_status(orders).collect()
    plain = {
        (r["order_year"], r["o_orderstatus"]): r["n"]
        for r in orders.groupBy(
            F.year("o_orderdate").alias("order_year"), "o_orderstatus"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for row in wide:
        for s in ("f", "o", "p"):
            assert row[f"n_{s}"] == plain.get((row["order_year"], s.upper()), 0)


def test_pivot_is_single_pass(spark, orders):
    """Explicit value list -> ONE scan and the standard two-phase
    pivot aggregation (partial on (year, status), final on year) —
    no distinct-discovery job, no per-status scan."""
    plan = _plan(an.pivot_year_status(orders))
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange") <= 2, plan


def test_unpivot_is_expand_only(spark, orders):
    li = load_table(spark, SF_DIR, "lineitem")
    df = an.unpivot_returnflag_metrics(li)
    plan = _plan(df)
    # one Exchange for the groupBy; the melt itself adds none
    assert plan.count("Exchange hashpartitioning") == 1, plan
    rows = df.collect()
    flags = {r["l_returnflag"] for r in rows}
    assert {r["metric"] for r in rows} == {"n_lines", "sum_qty", "sum_price"}
    assert len(rows) == 3 * len(flags)


def test_cube_levels_are_consistent(spark, orders):
    rows = an.cube_status_year(orders).collect()
    total = [r for r in rows if r["gid"] == 3]
    assert len(total) == 1
    cells = [r for r in rows if r["gid"] == 0]
    # subtotal planes sum to the grand total
    by_status = [r for r in rows if r["gid"] == 2]  # year rolled up
    by_year = [r for r in rows if r["gid"] == 1]  # status rolled up
    assert sum(r["n_orders"] for r in by_status) == total[0]["n_orders"]
    assert sum(r["n_orders"] for r in by_year) == total[0]["n_orders"]
    assert sum(r["n_orders"] for r in cells) == total[0]["n_orders"]


def test_window_suite_single_sort(spark, orders):
    """All seven analytics share one window spec: one exchange on
    custkey, one Sort node."""
    plan = _plan(an.window_suite(orders))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Sort ") == 1, plan


def test_window_suite_semantics(spark, orders):
    rows = (
        an.window_suite(orders)
        .filter(F.col("o_custkey") == 1)
        .orderBy("seq")
        .collect()
    )
    assert [r["seq"] for r in rows] == list(range(1, len(rows) + 1))
    assert rows[0]["days_since_prev"] is None
    assert rows[0]["moving_avg_3"] == pytest.approx(rows[0]["running_total"])
    run = 0.0
    for r in rows:
        run += float(r["running_total"]) - run  # running_total is cumulative
    assert rows[-1]["running_total"] >= rows[0]["running_total"]


def test_funnel_is_monotone(spark):
    ev = load_table(spark, SF_DIR, "events")
    rows = an.funnel_conversion(ev).orderBy("stage_idx").collect()
    assert [r["stage"] for r in rows] == list(an.FUNNEL_STAGES)
    counts = [r["n_users"] for r in rows]
    assert all(a >= b for a, b in zip(counts, counts[1:])), counts


def test_funnel_respects_order(spark):
    """A user whose purchase precedes their click must not reach the
    purchase stage."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: full ordered chain
        (1, base, "signup"),
        (1, base + dt.timedelta(minutes=1), "view"),
        (1, base + dt.timedelta(minutes=2), "click"),
        (1, base + dt.timedelta(minutes=3), "purchase"),
        # user 2: purchase BEFORE click
        (2, base, "signup"),
        (2, base + dt.timedelta(minutes=1), "view"),
        (2, base + dt.timedelta(minutes=3), "click"),
        (2, base + dt.timedelta(minutes=2), "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r["stage"]: r["n_users"] for r in an.funnel_conversion(ev).collect()
    }
    assert got == {"signup": 2, "view": 2, "click": 2, "purchase": 1}


def test_fuzzy_requires_blocks(spark):
    part = load_table(spark, SF_DIR, "part")
    with pytest.raises(AssertionError):
        an.fuzzy_pairs_levenshtein(part, "p_partkey", "p_name", [])


def test_fuzzy_pairs_are_within_blocks(spark):
    part = load_table(spark, SF_DIR, "part")
    out = an.fuzzy_pairs_levenshtein(
        part, "p_partkey", "p_name", ["p_brand", "p_type"], max_distance=4
    )
    rows = out.collect()
    assert rows, "expected at least one fuzzy pair on the testdata"
    assert all(r["distance"] <= 4 and r["id_a"] < r["id_b"] for r in rows)


def test_fuzzy_resolution_edges_components_equivalence(spark):
    # The contraction's whole claim: connected components over the
    # rep-star + rep-pair edge set == components over the full
    # quadratic pair set, with the same node set (no-match rows
    # excluded from both). Frame covers: dense exact-dup groups,
    # cross-text chains through a rep, a singleton text with a fuzzy
    # partner, and a no-match row that must appear in NEITHER.
    from dissertation_data_pipeline_spark.operators.clusters import (
        connected_components,
    )

    df = spark.createDataFrame(
        [
            # block A: 'cat' x3 (dup clique), 'cap' (chains to cat),
            # 'dog' (no match within distance 1)
            (1, "A", "cat"), (2, "A", "cat"), (3, "A", "cat"),
            (4, "A", "cap"), (5, "A", "dog"),
            # block B: same texts must NOT pair across blocks
            (6, "B", "cat"), (7, "B", "cot"),
            # block C: singleton clique of two identical no-neighbor
            # texts (member edges only)
            (8, "C", "zebra"), (9, "C", "zebra"),
        ],
        "id long, blk string, txt string",
    )

    def comps(pairs):
        return {
            (r["doc_id"], r["component_id"])
            for r in connected_components(pairs).collect()
        }

    full = comps(
        an.fuzzy_pairs_levenshtein(df, "id", "txt", ["blk"], max_distance=1)
    )
    contracted = comps(
        an.fuzzy_resolution_edges(df, "id", "txt", ["blk"], max_distance=1)
    )
    assert contracted == full
    assert full == {
        (1, 1), (2, 1), (3, 1), (4, 1),   # cat-clique + cap via rep
        (6, 6), (7, 6),                    # block B chain
        (8, 8), (9, 8),                    # zebra dup clique
    }  # id 5 (dog) matches nothing -> absent from both


def test_tfidf_ranks_rare_terms_higher(spark):
    docs = spark.createDataFrame(
        [
            (1, "common rare"),
            (2, "common filler words here"),
            (3, "common other text rows"),
        ],
        "doc_id long, text string",
    )
    top = {
        r["term_rank"]: r["term"]
        for r in tr.tfidf_top_terms(docs, "doc_id", "text", k=2)
        .filter(F.col("doc_id") == 1)
        .collect()
    }
    # equal tf, but 'rare' (df=1) carries higher idf than 'common' (df=3)
    assert top[1] == "rare" and top[2] == "common"


def test_bm25_is_deterministic_and_bounded(spark):
    docs = load_table(spark, SF_DIR, "documents")
    a = tr.bm25_rank(docs, "doc_id", "text", ["spark", "query"], top_n=10).collect()
    b = tr.bm25_rank(docs, "doc_id", "text", ["spark", "query"], top_n=10).collect()
    assert [(r["rank"], r["doc_id"], r["score"]) for r in a] == [
        (r["rank"], r["doc_id"], r["score"]) for r in b
    ]
    assert len(a) <= 10
    scores = [r["score"] for r in a]
    assert scores == sorted(scores, reverse=True)


def test_bm25_top_n_is_take_ordered(spark):
    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(tr.bm25_rank(docs, "doc_id", "text", ["spark"], top_n=5))
    assert "TakeOrderedAndProject" in plan, plan


# ----------------------------------------------------------- time series
def test_gap_fill_grid_is_dense_and_mass_preserving(spark, sf_dir):
    from dissertation_data_pipeline_spark.plans.registry import QUERIES
    from dissertation_data_pipeline_spark.tables import load_table

    out = QUERIES["ext_time_gap_fill"].fn(spark, sf_dir)
    e = load_table(spark, sf_dir, "events")
    n_types = e.select("event_type").distinct().count()
    hours = out.select("h").distinct().count()
    assert out.count() == n_types * hours  # fully dense grid
    # zero rows exist (the corpus has silent hours per type)...
    assert out.filter(F.col("n") == 0).count() > 0
    # ...and event mass is preserved exactly
    assert out.agg(F.sum("n")).collect()[0][0] == e.count()


def test_running_distinct_users_matches_bruteforce_prefixes(spark, sf_dir):
    from dissertation_data_pipeline_spark.plans.registry import QUERIES
    from dissertation_data_pipeline_spark.tables import load_table

    rows = sorted(
        QUERIES["ext_running_distinct_users"].fn(spark, sf_dir).collect(),
        key=lambda r: r["day"],
    )
    e = load_table(spark, sf_dir, "events").select(
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("d"),
        "user_id",
    )
    for r in rows:
        brute = (
            e.filter(F.col("d") <= r["day"]).select("user_id").distinct().count()
        )
        assert r["cum_users"] == brute  # exact COUNT(DISTINCT) per prefix


def test_attribution_credits_only_preceding_touches(spark):
    from dissertation_data_pipeline_spark.plans.registry import QUERIES
    import datetime as dt

    # crafted stream: purchase at t2 credits the click at t1, not the
    # view at t3; the t0 purchase (no prior touch) is excluded
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    df = spark.createDataFrame(
        [
            (1, t(0), 7, "purchase", 100.0, None),
            (2, t(1), 7, "click", 0.0, None),
            (3, t(2), 7, "purchase", 50.0, None),
            (4, t(3), 7, "view", 0.0, None),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")  # only table this query reads
        out = QUERIES["ext_attribution_last_touch"].fn(spark, d).collect()
    assert [(r["touch_type"], r["n_purchases"], r["attributed_cents"]) for r in out] == [
        ("click", 1, 5000)
    ]


def test_grouped_weighted_median_exact_crossing(spark):
    from pyspark.sql import Row

    from dissertation_data_pipeline_spark.operators.analytics import (
        grouped_weighted_median,
    )

    rows = [
        # group a: values 1(w1), 2(w1), 10(w2) -> total 4, crossing at 2
        Row(g="a", v=1, w=1, i=1), Row(g="a", v=2, w=1, i=2),
        Row(g="a", v=10, w=2, i=3),
        # group b: heavy low value dominates: 1(w5), 100(w1) -> median 1
        Row(g="b", v=100, w=1, i=4), Row(g="b", v=1, w=5, i=5),
        # NULLs and non-positive weights excluded
        Row(g="a", v=None, w=9, i=6), Row(g="a", v=50, w=0, i=7),
    ]
    df = spark.createDataFrame(rows, "g string, v int, w int, i int")
    got = {
        r.g: (r.weighted_median, r.total_weight)
        for r in grouped_weighted_median(df, ["g"], "v", "w", tiebreak_col="i").collect()
    }
    assert got == {"a": (2, 4), "b": (1, 6)}


def test_rolling_features_semantics(spark):
    from dissertation_data_pipeline_spark.operators.analytics import (
        rolling_features,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 1, 10.0),
        (1, "2024-01-01 00:01:00", 2, 20.0),
        (1, "2024-01-01 00:02:00", 3, 30.0),
        (1, "2024-01-01 00:03:00", 4, 40.0),
        (1, "2024-01-01 00:04:00", 5, 50.0),
        (2, "2024-01-01 00:00:00", 6, 7.0),   # constant-series key
        (2, "2024-01-01 00:01:00", 7, 7.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r.event_id: r
        for r in rolling_features(
            df, "user_id", "ts", "value", id_col="event_id", window_rows=4
        ).collect()
    }
    # first row of a key: no lag, window of itself
    assert out[1].lag1 is None and out[1].roll_mean == 10.0
    assert out[1].roll_std == 0.0 and out[1].ewma == 10.0
    # full window at row 5: mean of 20..50, EWMA = (50*8+40*4+30*2+20)/15
    assert out[5].lag1 == 40.0
    assert out[5].roll_mean == 35.0
    assert out[5].ewma == round((50 * 8 + 40 * 4 + 30 * 2 + 20) / 15, 6)
    # population std of {20,30,40,50} = sqrt(125)
    assert out[5].roll_std == round(125 ** 0.5, 6)
    # constant series: zero std, ewma equals the value
    assert out[7].roll_std == 0.0 and out[7].ewma == 7.0


# --- per-group OLS ---------------------------------------------------------

def test_linreg_recovers_perfect_line(spark):
    # y = 700x + 300 (cents), three groups' worth of x values
    rows = [("t", x, 700 * x + 300) for x in range(0, 50)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    m = df.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    row = m.select(
        (num / den).alias("slope"),
        (
            (F.col("sy").cast("double") - num / den * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("icept"),
    ).collect()[0]
    assert row["slope"] == pytest.approx(700.0, abs=1e-9)
    assert row["icept"] == pytest.approx(300.0, abs=1e-6)


def test_linreg_query_r2_in_unit_interval(spark, sf_dir):
    from dissertation_data_pipeline_spark.plans.registry import QUERIES

    for r in QUERIES["ext_group_linreg"].fn(spark, sf_dir).collect():
        assert 0.0 <= r["r2"] <= 1.0


# --- equi-depth histogram --------------------------------------------------

def test_equidepth_buckets_are_balanced(spark, sf_dir):
    from dissertation_data_pipeline_spark.plans.registry import QUERIES

    rows = QUERIES["ext_histogram_equidepth"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    counts = {r["bucket"]: r["n"] for r in rows}
    n = sum(counts.values())
    # exact order-statistic boundaries: every bucket within 2 of n/10
    # unless ties force spill (synthetic prices are near-unique)
    for b in range(10):
        assert abs(counts[b] - n / 10) <= max(2, 0.02 * n)
    # buckets tile the value range in order
    ordered = [r for _, r in sorted((r["bucket"], r) for r in rows)]
    for lo_r, hi_r in zip(ordered, ordered[1:]):
        assert lo_r["hi_cents"] <= hi_r["lo_cents"]


# --- sketches: bottom-k, count-min, HyperLogLog ----------------------------

def test_bottomk_sketch_identical_groups_estimate_one(spark):
    text = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [Row(doc_id=1, g="a", text=text), Row(doc_id=2, g="b", text=text),
         Row(doc_id=3, g="c", text="totally different words here now " * 8)]
    )
    sk = bottomk_sketches(docs, "g", "text", id_col="doc_id", k=16)
    got = {r.g: r for r in sk.collect()}
    assert got["a"].sketch == got["b"].sketch
    assert got["a"].sketch == sorted(got["a"].sketch)
    assert len(got["a"].sketch) <= 16
    pairs = {
        (r.g_a, r.g_b): r
        for r in sketch_overlap_pairs(sk, "g", k=16).collect()
    }
    assert pairs[("a", "b")].jaccard_est == 1.0
    assert pairs[("a", "c")].jaccard_est < 0.5
    assert pairs[("a", "b")].sample_size == len(got["a"].sketch)


def test_bottomk_sketch_caps_at_k(spark):
    long_text = " ".join(f"tok{i}" for i in range(500))
    docs = spark.createDataFrame([Row(doc_id=1, g="a", text=long_text)])
    got = bottomk_sketches(docs, "g", "text", id_col="doc_id", k=8).collect()[0]
    assert len(got.sketch) == 8
    assert got.n_distinct == 498  # 500 tokens -> 498 word-3-grams


def test_count_min_guarantee_and_mergeability(spark, sf_dir):
    """CMS one-sided guarantee on real data (est >= truth for every
    probed heavy hitter) and the property that makes it the streaming
    structure: the sketch of a union is the cell-wise sum of the
    parts' sketches."""
    from dissertation_data_pipeline_spark.operators import dedup_ext as dx
    from dissertation_data_pipeline_spark.operators.sketches import (
        count_min_heavy_hitters,
    )
    from dissertation_data_pipeline_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = count_min_heavy_hitters(docs).collect()
    assert len(out) == 10
    assert all(r.est_cnt >= r.true_cnt for r in out)

    # mergeability: split the corpus, build each half's counter matrix
    # with the same bucket fns, and check cell-wise sums reproduce the
    # full-corpus matrix
    def matrix(df):
        toks = df.select(F.explode(dx.tokens("text")).alias("tok")).filter(
            F.length("tok") > 0
        )
        cells = toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            F.conv(
                                F.substring(
                                    F.md5(F.concat(F.lit(f"{d}:"), F.col("tok"))),
                                    1,
                                    2,
                                ),
                                16,
                                10,
                            ).cast("int").alias("b"),
                        )
                        for d in range(4)
                    ]
                )
            ).alias("_db")
        )
        rows = (
            cells.groupBy("_db.d", "_db.b").count().collect()
        )
        return {(r.d, r.b): r["count"] for r in rows}

    full = matrix(docs)
    a = matrix(docs.filter(F.col("doc_id") % 2 == 0))
    b = matrix(docs.filter(F.col("doc_id") % 2 == 1))
    merged = dict(a)
    for k, v in b.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == full


def _py_rho(hexstr: str) -> int:
    """Reference rho: 1 + leading zero bits of the 48-bit tail."""
    tail = hexstr[2:14]
    v = int(tail, 16)
    if v == 0:
        return 49
    return 48 - v.bit_length() + 1


def test_hll_rho_matches_bitwise_reference(spark):
    """The string-ops rho expression equals the arithmetic definition
    (1 + leading-zero bits) for tokens covering every nibble class."""
    import hashlib

    from dissertation_data_pipeline_spark.operators.sketches import _hll_rho

    toks = [f"tok{i}" for i in range(200)]
    df = spark.createDataFrame([Row(tok=t) for t in toks])
    out = {
        r.tok: r.rho
        for r in df.select(
            "tok", _hll_rho(F.substring(F.md5("tok"), 3, 12)).alias("rho")
        ).collect()
    }
    for t in toks:
        h = hashlib.md5(t.encode()).hexdigest()
        assert out[t] == _py_rho(h), (t, h)


def test_hll_estimate_accuracy_and_exactness_columns(spark, sf_dir):
    """HLL-256 typical error is 1.04/sqrt(256) ~ 6.5%; assert every
    per-source estimate lands within 4 sigma (26%) of the exact count
    it is reported beside."""
    from dissertation_data_pipeline_spark.operators.sketches import (
        hll_distinct_by_group,
    )
    from dissertation_data_pipeline_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = hll_distinct_by_group(docs, "source").collect()
    assert rows
    for r in rows:
        assert r.n_exact > 0
        assert abs(r.hll_est - r.n_exact) / r.n_exact < 0.26, r


def test_hll_registers_merge_by_cellwise_max(spark, sf_dir):
    """The property that makes HLL the distributed structure: the
    union's register vector is the cell-wise max of the parts'."""
    from dissertation_data_pipeline_spark.operators import dedup_ext as dx
    from dissertation_data_pipeline_spark.operators.sketches import _hll_rho
    from dissertation_data_pipeline_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    def registers(df):
        toks = (
            df.select(F.explode(dx.tokens("text")).alias("tok"))
            .filter(F.length("tok") > 0)
            .distinct()
        )
        h = F.md5(F.col("tok"))
        rows = (
            toks.select(
                F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("j"),
                _hll_rho(F.substring(h, 3, 12)).alias("rho"),
            )
            .groupBy("j")
            .agg(F.max("rho").alias("r"))
            .collect()
        )
        return {r.j: r.r for r in rows}

    full = registers(docs)
    a = registers(docs.filter(F.col("doc_id") % 2 == 0))
    b = registers(docs.filter(F.col("doc_id") % 2 == 1))
    merged = dict(a)
    for j, r in b.items():
        merged[j] = max(merged.get(j, 0), r)
    assert merged == full


# --- grouped-agg pandas UDAF -----------------------------------------------

def test_udaf_label_medians_exact(spark):
    rows = [
        Row(vec_id=1, label=0, embedding=[1.0, 10.0]),
        Row(vec_id=2, label=0, embedding=[3.0, 30.0]),
        Row(vec_id=3, label=0, embedding=[2.0, -20.0]),
        Row(vec_id=4, label=1, embedding=[5.0, 7.0]),
        Row(vec_id=5, label=1, embedding=[9.0, 3.0]),
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r.label, r.dim): r.med
        for r in label_dim_medians(df).collect()
    }
    assert got[(0, 1)] == 2.0 and got[(0, 2)] == 10.0  # odd count: middle
    assert got[(1, 1)] == 7.0 and got[(1, 2)] == 5.0  # even count: midpair avg
