"""[EXT] temporal queries: as-of join (backward and nearest), interval
join, hierarchical rollup, exact percentiles, time series and
late-data accounting — all oracle-checked against DuckDB.

Exactness notes (see registry docstring + BASELINE.md):
- The as-of right side is pre-aggregated to one row per (user_id, ts)
  (``max(event_id)``) so the match is a deterministic function of the
  data, not of partition order. Lag is computed in integer
  microseconds — exact in both engines.
- Percentiles run over integer *cents* (value is 2-decimal money, so
  double→DECIMAL(18,2)→cents is lossless): quartile interpolation of
  integers ≤ 2^53 at f ∈ {0, .25, .5, .75} is exact in IEEE double
  under BOTH interpolation formulas (a+(b-a)f and (1-f)a+fb), so
  Spark ``percentile`` and DuckDB ``quantile_cont`` agree bitwise.
  The final /100 is one identical double op on identical inputs.
- ROLLUP ``grouping_id`` bit order (first col = MSB) matches DuckDB
  ``GROUPING(...)`` — verified empirically.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.operators.analytics import _dec
from dissertation_data_pipeline_spark.operators.temporal import (
    asof_join,
    asof_join_nearest,
    interval_join,
    late_event_report,
    scd2_apply_batch,
    scd2_history,
    sessionize,
    time_rollup,
)
from dissertation_data_pipeline_spark.plans.registry import register
from dissertation_data_pipeline_spark.tables import load_table


@register(
    "ext_asof_join",
    """
    WITH p AS (
      SELECT user_id, ts, max(event_id) AS purchase_id
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    c AS (SELECT * FROM events WHERE event_type = 'click')
    SELECT c.user_id, c.ts, c.event_id,
           p.ts AS asof_ts, p.purchase_id,
           epoch_us(c.ts) - epoch_us(p.ts) AS lag_us
    FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def ext_asof_join(spark, sf_dir):
    """[EXT] backward as-of join (pd.merge_asof parity): each click
    gets the user's most recent purchase at-or-before it. Union-tag
    implementation — one shuffle on user_id, zero join operators
    (the oracle uses DuckDB's native ASOF JOIN)."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
    )
    out = asof_join(
        clicks, purchases, on=["user_id"], payload=["purchase_id"]
    )
    return out.select(
        "user_id",
        "ts",
        "event_id",
        "asof_ts",
        "purchase_id",
        (F.unix_micros("ts") - F.unix_micros("asof_ts")).alias("lag_us"),
    )


@register(
    "ext_interval_join",
    """
    WITH win AS (
      SELECT event_id AS incident_id, ts AS w_start,
             ts + INTERVAL '30 minutes' AS w_end
      FROM events WHERE event_type = 'error'
    )
    SELECT w.incident_id, w.w_start,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM win w JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY 1, 2
    """,
)
def ext_interval_join(spark, sf_dir):
    """[EXT] containment join via time-bucketing: traffic inside each
    30-minute incident window (anchored at error events). The oracle is
    the plain inequality join (DuckDB IEJoin); the Spark plan is an
    equi-join on the 30-min bucket key — no nested-loop."""
    e = load_table(spark, sf_dir, "events")
    win = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_end"),
    )
    joined = interval_join(
        e.select("ts", "user_id", "value"),
        win,
        probe_ts="ts",
        start="w_start",
        end="w_end",
        bucket_seconds=1800,
    )
    return joined.groupBy("incident_id", "w_start").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(_dec("value")).cast("double").alias("total_value"),
    )


@register(
    "ext_time_rollup",
    """
    WITH src AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS ts_day,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_hour,
             value
      FROM events
    )
    SELECT event_type, ts_day, ts_hour,
           GROUPING(event_type, ts_day, ts_hour) AS gid,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM src
    GROUP BY ROLLUP(event_type, ts_day, ts_hour)
    """,
)
def ext_time_rollup(spark, sf_dir):
    """[EXT] hypertable-style multi-resolution rollup: hour-per-day
    per-type, day subtotals, type subtotals, grand total — ONE Expand +
    ONE aggregation (map-side partials at every level), not four
    groupBys."""
    e = load_table(spark, sf_dir, "events")
    return time_rollup(
        e,
        ts="ts",
        levels=["day", "hour"],
        extra=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        ],
    ).select("event_type", "ts_day", "ts_hour", "gid", "n_events", "total_value")


@register(
    "ext_event_percentiles",
    """
    WITH cents AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events
    )
    SELECT event_type,
           round(quantile_cont(v, 0.25) / 100, 6) AS p25,
           round(quantile_cont(v, 0.5)  / 100, 6) AS p50,
           round(quantile_cont(v, 0.75) / 100, 6) AS p75
    FROM cents GROUP BY 1
    """,
)
def ext_event_percentiles(spark, sf_dir):
    """[EXT] exact linear-interpolation percentiles per event_type,
    computed over integer cents so both engines' interpolation is
    IEEE-exact (see module docstring). At 100 TB the same query swaps
    ``percentile`` for ``percentile_approx`` (t-digest, mergeable,
    one pass) — the exact form here is the correctness anchor."""
    e = load_table(spark, sf_dir, "events")
    cents = e.select(
        "event_type", (_dec("value") * 100).cast("bigint").alias("v")
    )
    agg = cents.groupBy("event_type").agg(
        *[
            F.round(F.percentile("v", F.lit(q)) / 100, 6).alias(f"p{int(q * 100)}")
            for q in (0.25, 0.5, 0.75)
        ]
    )
    return agg


@register(
    "ext_approx_percentiles",
    """
    WITH cents AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events
    )
    SELECT event_type,
           round(quantile_cont(v, 0.5)  / 100, 6) AS p50,
           round(quantile_cont(v, 0.95) / 100, 6) AS p95,
           round(quantile_cont(v, 0.99) / 100, 6) AS p99,
           TRUE AS approx_rank_within_2pp
    FROM cents GROUP BY 1
    """,
)
def ext_approx_percentiles(spark, sf_dir):
    """[EXT] the 100 TB percentile path, REGISTERED and measured —
    ``percentile_approx`` (Greenwald-Khanna quantile summaries:
    mergeable, one pass, bounded memory — the form that survives a
    100 TB groupBy where exact percentile's per-group sort does not)
    gated beside the exact anchor: the exact tail percentiles
    hash-match the oracle, and the sketch estimate must land between
    the exact ORDER STATISTICS at q±0.02 — the sketch's actual
    guarantee (rank error <= n/accuracy, and 10,000 >> 1/0.02), so
    the boolean is stable at ANY group size and partitioning, where a
    value-relative tolerance breaks on sparse small-sample tails
    (neighboring tail elements can sit many percent apart).  The
    ``ext_approx_count_distinct`` pattern; the exact columns carry
    the bit-level strength."""
    e = load_table(spark, sf_dir, "events")
    cents = e.select(
        "event_type", (_dec("value") * 100).cast("bigint").alias("v")
    )
    qs = (0.5, 0.95, 0.99)
    agg = cents.groupBy("event_type").agg(
        *[
            F.percentile("v", F.lit(q)).alias(f"_e{int(q * 100)}")
            for q in qs
        ],
        *[
            F.percentile_approx("v", F.lit(q), F.lit(10_000)).alias(
                f"_a{int(q * 100)}"
            )
            for q in qs
        ],
        *[
            F.percentile("v", F.lit(max(0.0, q - 0.02))).alias(
                f"_lo{int(q * 100)}"
            )
            for q in qs
        ],
        *[
            F.percentile("v", F.lit(min(1.0, q + 0.02))).alias(
                f"_hi{int(q * 100)}"
            )
            for q in qs
        ],
    )
    ok = None
    for q in qs:
        k = int(q * 100)
        cond = (F.col(f"_a{k}") >= F.col(f"_lo{k}")) & (
            F.col(f"_a{k}") <= F.col(f"_hi{k}")
        )
        ok = cond if ok is None else (ok & cond)
    return agg.select(
        "event_type",
        *[
            F.round(F.col(f"_e{int(q * 100)}") / 100, 6).alias(
                f"p{int(q * 100)}"
            )
            for q in qs
        ],
        ok.alias("approx_rank_within_2pp"),
    )


#: Full-recompute SCD2 oracle over the whole events table. Shared by
#: ``ext_scd2_history`` (batch build) and ``ext_cdc_scd2_pipeline``
#: (incremental CDC maintenance): the incremental path must reproduce
#: the batch recompute bit-for-bit, so both gate rows hold Spark to
#: the identical SQL.
_SCD2_FULL_SQL = """
    WITH c AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    ch AS (SELECT * FROM c WHERE prev IS NULL OR prev <> event_type),
    iv AS (
      SELECT user_id, event_type, ts AS effective_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS next_ts
      FROM ch
    )
    SELECT user_id, event_type, effective_from,
           next_ts AS effective_to,
           CASE WHEN next_ts IS NULL THEN 1 ELSE 0 END AS is_current
    FROM iv
    """


@register("ext_scd2_history", _SCD2_FULL_SQL)
def ext_scd2_history(spark, sf_dir):
    """[EXT] SCD2 validity intervals: the user's event_type stream
    collapsed to change rows with effective_from/effective_to and an
    is_current flag. One shuffle on the key, window-only plan."""
    e = load_table(spark, sf_dir, "events")
    return scd2_history(
        e.select("user_id", "event_type", "ts", "event_id"),
        "user_id",
        "event_type",
        "ts",
        tiebreak="event_id",
    )


@register("ext_cdc_scd2_pipeline", _SCD2_FULL_SQL)
def ext_cdc_scd2_pipeline(spark, sf_dir):
    """[EXT] lakehouse dimension maintenance end-to-end: the events at
    or before 2024-01-16 are folded into an SCD2 history (the standing
    dimension table), the events after it play the day's CDC batch,
    and :func:`scd2_apply_batch` applies the batch through one MERGE
    (seeded change detection -> close open intervals -> insert new
    ones). The oracle is the FULL batch recompute over all events —
    the gate therefore asserts incremental maintenance ≡ recompute,
    the invariant that lets the 100 TB event log stay cold while the
    nightly job touches only the history table and the batch."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    t0 = F.lit("2024-01-16 00:00:00").cast("timestamp")
    hist0 = scd2_history(
        e.filter(F.col("ts") <= t0),
        "user_id",
        "event_type",
        "ts",
        tiebreak="event_id",
    )
    batch = e.filter(F.col("ts") > t0)
    return scd2_apply_batch(
        hist0, batch, "user_id", "event_type", "ts", tiebreak="event_id"
    )


@register(
    "ext_sessionize_batch",
    """
    WITH o AS (
      SELECT user_id, ts, event_id, value,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    f AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                     THEN 1 ELSE 0 END AS new_s
      FROM o
    ),
    s AS (
      SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_idx
      FROM f
    )
    SELECT user_id, session_idx,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, session_idx
    """,
)
def ext_sessionize_batch(spark, sf_dir):
    """[EXT] batch sessionization: 30-minute-gap sessions per user
    (exact-microsecond gap test), then per-session rollup with a
    decimal-exact value sum. The batch twin of the streaming session
    window; one shuffle on the key feeds both windows and the final
    aggregate."""
    e = load_table(spark, sf_dir, "events")
    s = sessionize(
        e.select("user_id", "ts", "event_id", "value"),
        "user_id",
        "ts",
        gap_seconds=1800,
        tiebreak="event_id",
    )
    return s.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_dec("value")).cast("double").alias("total_value"),
    )


@register(
    "ext_range_window_hour",
    """
    WITH e AS (
      SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events
    )
    SELECT event_id, user_id, ts_sec,
           COUNT(*) OVER w AS n_last_hour,
           CAST(SUM(v) OVER w AS DOUBLE) AS sum_last_hour
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def ext_range_window_hour(spark, sf_dir):
    """[EXT] event-time RANGE frame: per user, count and exact-decimal
    sum of events in the trailing hour of *event time* (value-based
    frame, not row-based — peers at the same second share a frame, so
    the result is partition- and order-arrival-independent). The batch
    twin of the streaming sliding window; one shuffle on user_id."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("ts_sec"),
        _dec("value").alias("v"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-3600, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts_sec",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.sum("v").over(w).cast("double").alias("sum_last_hour"),
    )


@register(
    "ext_approx_percentile_bounded",
    """
    WITH cents AS (
      SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events
    )
    SELECT event_type,
           round(quantile_cont(v, 0.5) / 100, 6) AS exact_p50,
           abs(approx_quantile(v, 0.5) / 100.0 - quantile_cont(v, 0.5) / 100)
             <= greatest(0.05 * abs(quantile_cont(v, 0.5) / 100), 1.0) AS approx_within_5pct
    FROM cents GROUP BY 1
    """,
)
def ext_approx_percentile_bounded(spark, sf_dir):
    """[EXT] the 100 TB percentile path, gate-checkable: each engine
    computes its own sketch-based median (t-digest / approx_quantile —
    engine-specific values, never hashable) and publishes only the
    exact median plus a boolean asserting the sketch landed within 5%
    (or 1 unit) of it. The hashed columns are deterministic; the
    sketch machinery is what's under test."""
    e = load_table(spark, sf_dir, "events")
    cents = e.select(
        "event_type", (_dec("value") * 100).cast("bigint").alias("v")
    )
    exact = F.percentile("v", F.lit(0.5)) / 100
    approx = F.percentile_approx("v", F.lit(0.5), F.lit(10000)).cast("double") / 100
    return cents.groupBy("event_type").agg(
        F.round(exact, 6).alias("exact_p50"),
        (
            F.abs(approx - exact)
            <= F.greatest(0.05 * F.abs(exact), F.lit(1.0))
        ).alias("approx_within_5pct"),
    )


# ---------------------------------------------------------------------------
# Time series over the event stream: dense resampling (gap fill),
# running distinct users, last-touch attribution. Hour grain is date
# arithmetic (timezone-free in both engines), money in integer cents,
# cumulative counts are integer window sums over aggregated frames.
# ---------------------------------------------------------------------------

@register(
    "ext_time_gap_fill",
    """
    WITH hourly AS (
      SELECT event_type,
             (CAST(ts AS DATE) - DATE '2024-01-01') * 24
               + CAST(hour(ts) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT MIN(h) AS lo, MAX(h) AS hi FROM hourly
    ), grid AS (
      SELECT t.event_type, u.i AS h
      FROM (SELECT DISTINCT event_type FROM hourly) t,
           bounds, UNNEST(range(bounds.lo, bounds.hi + 1)) AS u(i)
    )
    SELECT g.event_type, g.h,
           COALESCE(hourly.n, 0) AS n,
           COALESCE(hourly.cents, 0) AS cents
    FROM grid g LEFT JOIN hourly USING (event_type, h)
    """,
)
def ext_time_gap_fill(spark, sf_dir):
    """[EXT] Sparse-to-dense resampling: aggregate events to the hour
    grain, then LEFT-join the aggregate onto the full (event_type x
    hour) grid so silent hours appear as explicit zero rows — the
    precondition for any window/forecast model over the series.

    Plan: one map-side-combined groupBy to the hour grain (the only
    pass over the fact table), then grid construction from a broadcast
    1-row bounds aggregate x the distinct-type frame via ``sequence``
    + explode — grid size = types x hours, independent of row count.
    At 100 TB the dense grid is still tiny; the scan happens once."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select(
            "event_type",
            (
                F.datediff(
                    F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
                )
                * 24
                + F.hour("ts")
            ).cast("long").alias("h"),
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("v"),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("cents"))
    )
    bounds = hourly.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = (
        hourly.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("h"),
        )
    )
    return grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("cents", F.lit(0)).alias("cents"),
    )


@register(
    "ext_running_distinct_users",
    """
    WITH first_seen AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE) - DATE '2024-01-01') AS d
      FROM events GROUP BY 1
    ), per_day AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS new_users FROM first_seen GROUP BY 1
    )
    SELECT d AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY d) AS BIGINT) AS cum_users
    FROM per_day
    """,
)
def ext_running_distinct_users(spark, sf_dir):
    """[EXT] Exact running count-distinct over time WITHOUT running
    HLL sketches or a quadratic self-join: a user contributes to the
    cumulative curve exactly once, at first appearance — so reduce to
    (user -> first day), aggregate to day grain, and one cumulative
    integer sum over the (tiny) per-day frame reproduces
    COUNT(DISTINCT) for every prefix. Two map-side-combined groupBys;
    the ordered window runs over days, not rows — bounded by the
    calendar at any corpus scale."""
    e = load_table(spark, sf_dir, "events")
    first_seen = e.select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("d"),
    ).groupBy("user_id").agg(F.min("d").alias("d"))
    per_day = first_seen.groupBy("d").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select(
        F.col("d").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


@register(
    "ext_attribution_last_touch",
    """
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             last_value(
               CASE WHEN event_type <> 'purchase' THEN event_type END
               IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS touch_type
      FROM events
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(cents) AS BIGINT) AS attributed_cents
    FROM seq
    WHERE event_type = 'purchase' AND touch_type IS NOT NULL
    GROUP BY 1
    """,
)
def ext_attribution_last_touch(spark, sf_dir):
    """[EXT] Last-touch attribution: each purchase credits the nearest
    PRECEDING non-purchase event of the same user (lag ... IGNORE
    NULLS over the per-user event-time order — the carry-forward
    pattern shared with the as-of join), then one aggregation of
    purchase counts and exact-cent revenue per touch type. One window
    shuffle on user_id + one map-side-combined groupBy; no self-join
    of the event stream against itself."""
    e = load_table(spark, sf_dir, "events")
    # "nearest preceding non-null" = last(ignorenulls) over a frame
    # ending one row back (PySpark's lag() has no IGNORE NULLS arg;
    # the SQL oracle spells the same thing as lag ... IGNORE NULLS)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = e.select(
        "user_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w).alias("touch_type"),
    )
    return (
        seq.filter(
            (F.col("event_type") == "purchase")
            & F.col("touch_type").isNotNull()
        )
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").alias("attributed_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Nearest as-of join (operators.temporal.asof_join_nearest): pandas
# ``merge_asof(direction='nearest')`` semantics as two union-tag window
# passes — zero joins, one shuffle on the key. The oracle is the
# brute-force per-left-row argmin with the identical tie discipline.
# ---------------------------------------------------------------------------

@register(
    "ext_asof_nearest",
    """
    WITH p AS (
      SELECT event_id AS p_id, user_id, epoch_us(ts) AS pt
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS c_id, user_id, epoch_us(ts) AS ct
      FROM events WHERE event_type = 'click'
    ),
    pairs AS (
      SELECT p.p_id, p.user_id, c.c_id, c.ct - p.pt AS delta_us,
             row_number() OVER (
               PARTITION BY p.p_id
               ORDER BY abs(c.ct - p.pt), c.ct, c.c_id
             ) AS rn
      FROM p JOIN c USING (user_id)
    )
    SELECT p_id AS event_id, user_id, c_id AS nearest_id,
           CAST(delta_us AS BIGINT) AS delta_us
    FROM pairs WHERE rn = 1
    """,
)
def ext_asof_nearest(spark, sf_dir):
    """[EXT] nearest as-of: every purchase aligned to its temporally
    closest click by the same user (|delta| min; ties -> earlier click,
    then smaller id). The engine runs two window passes over one
    union — zero joins — while the oracle brute-forces the per-purchase
    argmin over all same-user clicks; identical output proves the
    window formulation."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    return asof_join_nearest(
        left, right, ["user_id"], right_id="click_id"
    ).select("event_id", "user_id", "nearest_id", "delta_us")


# ---------------------------------------------------------------------------
# Late-data accounting: batch replay of streaming watermark semantics —
# per-key running-max event time vs arrival order, exact int64
# microsecond math.
# ---------------------------------------------------------------------------

@register(
    "ext_late_data_report",
    """
    WITH flagged AS (
      SELECT event_type,
             epoch_us(ts) AS ts_us,
             max(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) - 600000000 AS wm_us
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN wm_us IS NOT NULL AND ts_us < wm_us
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           COALESCE(MAX(CASE WHEN wm_us IS NOT NULL AND ts_us < wm_us
                             THEN wm_us - ts_us END), 0) AS max_lateness_us
    FROM flagged GROUP BY 1
    """,
)
def ext_late_data_report(spark, sf_dir):
    """[EXT] streaming-watermark accounting replayed in batch: per
    event_type, how many events would a 600 s watermark have dropped,
    and by how much (worst case). Watermark = per-user running max of
    event time over arrival (event_id) order; all math in exact int64
    microseconds."""
    return late_event_report(
        load_table(spark, sf_dir, "events"),
        key="user_id",
        ts_col="ts",
        arrival_col="event_id",
        allowed_lateness_s=600,
        group_col="event_type",
    )
