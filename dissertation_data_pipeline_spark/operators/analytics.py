"""[EXT] Wide-form analytics: pivot/unpivot, CUBE, window suites,
funnels, and blocked fuzzy matching.

The reference reports cross-tabulations only as driver-side pandas
``value_counts`` prints (build_master_corpus.py:149-151,
scripts/legislation/build_corpus.py:119-122); this module provides the
distributed equivalents a reporting layer actually needs — wide pivot
tables, long-form melts, multi-level CUBE totals, per-entity window
analytics, ordered-stage funnels, and edit-distance fuzzy pair
matching — all as single declarative plans.

Scale notes:
- ``pivot`` with an **explicit value list** compiles to one aggregate
  with N conditional columns — one shuffle, no value-discovery job,
  deterministic column order (pivot without values runs a distinct
  scan first and column order follows data order: never at 100 TB).
- ``unpivot`` is an Expand (rows × metrics) — map-side only, no
  shuffle at all.
- CUBE is one Expand + one aggregation: every grouping level gets
  map-side partial aggregation in the same pass; four separate
  groupBys would scan four times.
- The window suite shares ONE window spec across every ranking
  column, so all of them ride a single sort within one shuffle.
- The funnel is per-stage conditional min-aggregation joined on the
  entity key — each stage is one shuffle on user_id; no event-level
  self-join ever happens (events × events would be quadratic).
- Fuzzy matching is block-bounded (brand × type here): the quadratic
  term is per-block, the classic blocking trade; an unblocked variant
  is refused by design, matching blocked_jaccard_pairs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.session import pin_spread


def _dec(col: Column | str) -> Column:
    """The engine's one exact money representation: DECIMAL(18,2) sums
    are order-independent, so every partitioning and the DuckDB oracle
    agree to the cent."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def pivot_year_status(
    orders: DataFrame, statuses: Sequence[str] = ("F", "O", "P")
) -> DataFrame:
    """Order-year × order-status pivot: per year, one count column and
    one revenue column per status. Explicit status list -> single-pass
    plan and a fixed schema (see module docstring). Counts coalesce to
    0 for absent combinations; revenue stays NULL (SUM-over-empty), the
    same convention a conditional-aggregation SQL form produces."""
    wide = (
        orders.groupBy(F.year("o_orderdate").alias("order_year"))
        .pivot("o_orderstatus", list(statuses))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("rev"),
        )
    )
    cols = [F.col("order_year")]
    for s in statuses:
        cols.append(F.coalesce(F.col(f"{s}_n"), F.lit(0)).cast("long").alias(f"n_{s.lower()}"))
        cols.append(F.col(f"{s}_rev").alias(f"rev_{s.lower()}"))
    return wide.select(*cols)


def unpivot_returnflag_metrics(lineitem: DataFrame) -> DataFrame:
    """Melt a wide per-returnflag aggregate into long (flag, metric,
    value) form — the inverse of the pivot above. The unpivot is an
    Expand over the 3 metric columns: zero additional shuffles beyond
    the one aggregation."""
    wide = lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n_lines"),
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["n_lines", "sum_qty", "sum_price"],
        variableColumnName="metric",
        valueColumnName="value",
    )


def cube_status_year(orders: DataFrame) -> DataFrame:
    """CUBE over (status, year): cell counts, both one-dimensional
    subtotal planes, and the grand total in ONE Expand + aggregation.
    ``grouping_id`` (first cube column = MSB, the convention DuckDB's
    GROUPING() shares) disambiguates genuine NULL keys from subtotal
    rows."""
    return (
        orders.cube(F.col("o_orderstatus"), F.year("o_orderdate").alias("order_year"))
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
        .select("o_orderstatus", "order_year", "gid", "n_orders", "total_price")
    )


def window_suite(orders: DataFrame) -> DataFrame:
    """Per-customer order-sequence analytics: sequence number, quartile
    (ntile), percent_rank, cume_dist, day gap to the previous order,
    3-order moving average, and running total — all ranking columns on
    ONE window spec (one shuffle on custkey + one sort), the frame
    aggregates on frames over the same spec (no extra exchange).

    Determinism: the order key is (o_orderdate, o_orderkey) — a total
    order, so every rank/frame is partition-count invariant. The moving
    average divides an exact DECIMAL frame sum by the frame row count
    (cross-engine bit-exact; a double AVG would sum in engine-chosen
    order)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w3 = w.rowsBetween(-2, 0)
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    day_gap = F.datediff(
        F.col("o_orderdate").cast("date"),
        F.lag(F.col("o_orderdate").cast("date")).over(w),
    )
    mov = F.round(
        F.sum(_dec("o_totalprice")).over(w3).cast("double")
        / F.count(F.lit(1)).over(w3),
        6,
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("seq"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
        day_gap.alias("days_since_prev"),
        mov.alias("moving_avg_3"),
        F.sum(_dec("o_totalprice")).over(wrun).cast("double").alias("running_total"),
    )


#: ordered funnel stages over the events table
FUNNEL_STAGES = ("signup", "view", "click", "purchase")


def funnel_conversion(
    events: DataFrame,
    stages: Sequence[str] = FUNNEL_STAGES,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-stage funnel: a user reaches stage k when their earliest
    qualifying stage-k event is strictly after their stage-(k-1) entry
    time. Per stage: filter -> groupBy(user).min(ts) -> join on the
    previous stage — shuffles on user_id only, never an event-level
    self-join.

    Output: (stage_idx, stage, n_users), one row per stage."""
    assert stages, "funnel needs at least one stage"
    reached = None
    counts = []
    for i, stage in enumerate(stages):
        ev = events.filter(F.col(type_col) == stage).select(
            F.col(user_col).alias("_u"), F.col(ts_col).alias("_ts")
        )
        if reached is None:
            reached = ev.groupBy("_u").agg(F.min("_ts").alias("_entered"))
        else:
            reached = (
                ev.join(reached.select("_u", F.col("_entered").alias("_prev")), "_u")
                .filter(F.col("_ts") > F.col("_prev"))
                .groupBy("_u")
                .agg(F.min("_ts").alias("_entered"))
            )
        # each stage feeds both its count branch and the next stage;
        # the lazy checkpoint materializes it once on the first action
        # (stage k would otherwise recompute stages 1..k-1 — O(k^2)
        # event scans across the union)
        reached = reached.localCheckpoint(eager=False)
        counts.append(
            reached.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(i + 1).alias("stage_idx"),
                F.lit(stage).alias("stage"),
                "n_users",
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def fuzzy_pairs_levenshtein(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    *,
    max_distance: int = 4,
) -> DataFrame:
    """Blocked fuzzy matching: all pairs within a block whose edit
    distance is <= ``max_distance``. The self-join is equi on the block
    key (co-located, quadratic only per block); levenshtein runs
    JVM-side inside the join filter, so non-matching pairs never leave
    the join stage. Requires blocking columns — an unblocked corpus
    crossJoin is refused by design."""
    assert block_cols, "fuzzy_pairs_levenshtein requires blocking columns"
    # Explicit numPartitions: without it AQE's input-byte coalescing is
    # free to collapse the (small-input, output-exploding) block
    # self-join to a handful of tasks, serializing the per-pair DP
    # (measured 34 s -> 7 s at sf1 with 2.6 M emitted pairs).
    side = pin_spread(
        df.select(
            *[F.col(c) for c in block_cols],
            F.col(id_col).alias("_id"),
            F.col(text_col).alias("_txt"),
            F.length(text_col).alias("_len"),
        ),
        *block_cols,
    )
    a, b = side.alias("a"), side.alias("b")
    # length gap is a lower bound on edit distance: prune candidate
    # pairs with integer compares before any DP matrix is touched
    cond = (F.col("a._id") < F.col("b._id")) & (
        F.abs(F.col("a._len") - F.col("b._len")) <= max_distance
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # thresholded levenshtein: the DP early-exits (returns -1) once the
    # running minimum exceeds the bound — O(d*n) per pair, not O(n^2)
    dist = F.levenshtein(F.col("a._txt"), F.col("b._txt"), max_distance)
    return (
        a.join(b, cond)
        .select(
            *[F.col(f"a.{c}").alias(c) for c in block_cols],
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            dist.alias("distance"),
        )
        .filter(F.col("distance") >= 0)
    )


def fuzzy_resolution_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    *,
    max_distance: int = 4,
) -> DataFrame:
    """Edge set for fuzzy ENTITY RESOLUTION — connectivity-equivalent
    to :func:`fuzzy_pairs_levenshtein` but never quadratic in rows.

    :func:`fuzzy_pairs_levenshtein` emits every matching pair, which is
    the right contract when the pairs themselves are the product — but
    under connected components only CONNECTIVITY matters, and a corpus
    with dense duplicates (many rows per exact text) makes the pair set
    quadratic in rows: blocks grow linearly with the table, so at 10x
    the data the within-block pair count is 100x (measured: the
    entity-resolution query grew 22x across the sf0.1 -> sf1 decade).
    This operator collapses each (block, exact-text) group to its
    min-id representative first, fuzzy-joins ONLY the representatives
    (distinct texts per block — bounded by the text vocabulary, not by
    row count), and reattaches rows with rep->member edges:

    - member edge (rep, id, 0) for every non-rep row — its text equals
      the rep's, so the full pair set contains it with distance 0;
    - rep edge (id_a, id_b, d) for representative pairs within
      ``max_distance`` — texts are distinct per block, so d >= 1.

    The union has the SAME connected components as the full pair set
    (each exact-text clique is spanned by its rep star; cross-text
    reachability is decided between reps, and every cross-text pair in
    the full set has a same-distance rep pair), and the same node set
    (a row appears iff it has at least one match). Work: O(rows) for
    the collapse + star, quadratic only in DISTINCT texts per block —
    the 100 TB contract: duplicates make the job CHEAPER, not
    quadratically costlier.
    """
    assert block_cols, "fuzzy_resolution_edges requires blocking columns"
    base = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_txt"),
    )
    groups = base.groupBy(*block_cols, "_txt").agg(F.min("_id").alias("_rep"))
    member_edges = (
        base.join(groups, [*block_cols, "_txt"])
        .filter(F.col("_id") != F.col("_rep"))
        .select(
            F.col("_rep").alias("id_a"),
            F.col("_id").alias("id_b"),
            F.lit(0).alias("distance"),
        )
    )
    reps = groups.select(
        *block_cols, F.col("_rep").alias(id_col), F.col("_txt").alias(text_col)
    )
    rep_edges = fuzzy_pairs_levenshtein(
        reps, id_col, text_col, block_cols, max_distance=max_distance
    ).select("id_a", "id_b", "distance")
    return member_edges.unionByName(rep_edges)


def grouped_weighted_median(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    weight_col: str,
    *,
    tiebreak_col: str,
) -> DataFrame:
    """Per-group WEIGHTED (lower) median: the smallest value whose
    cumulative weight reaches half the group's total weight — Spark has
    ``median``/``percentile`` but no weighted form, and the operator is
    a staple of survey/importance-weighted statistics.

    Exact and deterministic: weights accumulate as int64 along the
    documented total order (value ASC, tiebreak ASC), and the crossing
    test ``2 * cumsum >= total`` is integer arithmetic — no engine can
    disagree on the selected row. One window shuffle on the group key +
    one aggregate; no joins (the total rides the same window with an
    unbounded frame).

    NULL values/weights are excluded (SQL aggregate convention);
    negative weights are the caller's bug (the crossing test assumes a
    monotone cumsum) and excluded likewise.

    The weight column must be INTEGRAL (the int64-cumsum exactness
    contract above). A double weight would be silently truncated by
    the cast — a fractional weight in (0, 1) would pass a ``> 0``
    filter yet contribute 0 — so non-integral weight types are
    rejected eagerly at plan-build time instead.
    """
    wtype = dict(df.dtypes)[weight_col]
    if wtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"grouped_weighted_median: weight column {weight_col!r} must "
            f"be an integral type (got {wtype}); cast or round weights "
            "explicitly so the int64 cumulative-sum contract is exact"
        )
    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(weight_col).isNotNull()
        & (F.col(weight_col) > 0)
    )
    order = [F.col(value_col).asc(), F.col(tiebreak_col).asc()]
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*group_cols)
    scored = base.select(
        *group_cols,
        F.col(value_col),
        F.sum(F.col(weight_col).cast("long")).over(w_cum).alias("_cum"),
        F.sum(F.col(weight_col).cast("long")).over(w_tot).alias("_tot"),
    ).filter(2 * F.col("_cum") >= F.col("_tot"))
    return (
        scored.groupBy(*group_cols)
        .agg(
            F.min(value_col).alias("weighted_median"),
            F.max("_tot").alias("total_weight"),
        )
    )


def rolling_features(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    id_col: str,
    window_rows: int = 4,
) -> DataFrame:
    """Per-key rolling ML features over the last ``window_rows`` events
    (the standard feature-engineering block: lag, rolling mean/std,
    exponentially-weighted mean) — in EXACT arithmetic, so every value
    is bit-reproducible on any engine/partitioning:

    - values are fixed to integer cents; rolling sums / sums-of-squares
      are int64 window aggregates over ``ROWS window_rows-1 PRECEDING``;
    - ``roll_mean`` / ``roll_std`` are single float ops over those
      exact moments, rounded to 6dp (population std);
    - ``ewma`` uses alpha = 1/2 over the bounded window, so the weights
      are POWERS OF TWO: numerator and denominator are exact int64
      sums of shifted cents (missing lags drop their term), and the
      one float division is rounded to 6dp. An unbounded EWMA is a
      sequential recurrence — this bounded form is the distributed
      analog (window-local, no cross-row float accumulation).

    One shuffle on the key; the order inside each key is the
    (ts, id) total order.
    """
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    # NULL-valued rows are excluded HERE, not left to callers: the
    # moment windows count rows (n) but sum non-NULLs, so a NULL row
    # would dilute roll_mean/roll_std and shift lag1/ewma frames —
    # the exact-moment contract only holds over non-NULL values.
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col),
        F.col(ts_col),
        F.col(id_col),
        cents.alias("_v"),
    )
    order = [F.col(ts_col).asc(), F.col(id_col).asc()]
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(-(window_rows - 1), 0)
    )
    wlag = Window.partitionBy(key_col).orderBy(*order)
    n = F.count(F.lit(1)).over(w)
    s = F.sum("_v").over(w)
    s2 = F.sum(F.col("_v") * F.col("_v")).over(w)
    mean = s.cast("double") / n.cast("double")
    var = s2.cast("double") / n.cast("double") - mean * mean
    # bounded EWMA, alpha=1/2: weight 2^(window_rows-1-lag); exact ints
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for lag in range(window_rows):
        wt = 1 << (window_rows - 1 - lag)
        v_l = F.col("_v") if lag == 0 else F.lag("_v", lag).over(wlag)
        num = num + F.coalesce(v_l * wt, F.lit(0))
        den = den + F.when(v_l.isNotNull(), F.lit(wt)).otherwise(0)
    return base.select(
        key_col,
        ts_col,
        id_col,
        F.round(F.col("_v").cast("double") / 100, 6).alias("value"),
        F.round(F.lag("_v", 1).over(wlag).cast("double") / 100, 6).alias("lag1"),
        F.round(mean / 100, 6).alias("roll_mean"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))) / 100, 6).alias("roll_std"),
        F.round(num.cast("double") / den.cast("double") / 100, 6).alias("ewma"),
    )
