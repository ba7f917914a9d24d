"""Temporal operators: as-of join, interval join, rollup, late-data
report — semantics + physical-plan contracts (union-tag as-of must plan
ZERO join nodes)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.operators.temporal import (
    asof_join,
    interval_join,
    late_event_report,
    time_rollup,
)
from dissertation_data_pipeline_spark.plans.registry import QUERIES
from dissertation_data_pipeline_spark.session import plan_text

SF_DIR = "/root/testdata/sf0.001"


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1) + dt.timedelta(hours=h, minutes=m)


def _mk_asof_frames(spark):
    left = spark.createDataFrame(
        [
            (1, _ts(1), "l1"),   # before any right row -> no match
            (1, _ts(2), "l2"),   # equal ts -> inclusive match r1
            (1, _ts(9), "l3"),   # latest right <= 9:00 is r2 (5:00)
            (2, _ts(3), "l4"),   # user with no right rows at all
        ],
        "user_id int, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts(2), 100, None),   # NULL payload field still matches
            (1, _ts(5), 200, "ok"),
        ],
        "user_id int, ts timestamp, amount int, note string",
    )
    return left, right


def test_asof_backward_inclusive_semantics(spark):
    left, right = _mk_asof_frames(spark)
    out = asof_join(left, right, on=["user_id"], payload=["amount", "note"])
    got = {r.tag: (r.asof_ts, r.amount, r.note) for r in out.collect()}
    assert got == {
        "l1": (None, None, None),
        "l2": (_ts(2), 100, None),  # inclusive >= ; NULL field carried atomically
        "l3": (_ts(5), 200, "ok"),
        "l4": (None, None, None),
    }
    assert out.count() == left.count()  # left-join cardinality, never inflated


def test_asof_tolerance_nulls_stale_matches(spark):
    left, right = _mk_asof_frames(spark)
    out = asof_join(
        left,
        right,
        on=["user_id"],
        payload=["amount", "note"],
        tolerance_seconds=3600,
    )
    got = {r.tag: r.amount for r in out.collect()}
    # l3 is 4h after its match (5:00) -> outside the 1h tolerance
    assert got == {"l1": None, "l2": 100, "l3": None, "l4": None}


def test_asof_plans_zero_join_nodes(spark):
    """The whole point of the union-tag shape: one exchange, no join."""
    df = QUERIES["ext_asof_join"].fn(spark, SF_DIR)
    plan = plan_text(df)
    assert "Join" not in plan, plan
    # one node-details header per physical node: union shuffle + pre-agg
    import re

    nodes = re.findall(r"^\((\d+)\) (\w+)", plan, flags=re.M)
    exchanges = [n for _, n in nodes if n == "Exchange"]
    assert len(exchanges) <= 2, nodes


def test_interval_join_matches_naive_cross_filter(spark):
    probe = spark.createDataFrame(
        [(i, _ts(0, i)) for i in range(0, 120, 7)], "pid int, ts timestamp"
    )
    iv = spark.createDataFrame(
        [
            (10, _ts(0, 10), _ts(0, 40)),
            (11, _ts(0, 35), _ts(1, 5)),   # overlapping windows both match
            (12, _ts(1, 50), _ts(1, 59)),  # empty window
        ],
        "iid int, w_start timestamp, w_end timestamp",
    )
    got = interval_join(
        probe, iv, probe_ts="ts", start="w_start", end="w_end", bucket_seconds=600
    )
    naive = probe.crossJoin(iv).filter(
        (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end"))
    )
    key = lambda df: sorted((r.pid, r.iid) for r in df.select("pid", "iid").collect())  # noqa: E731
    assert key(got) == key(naive)
    assert key(got)  # non-degenerate fixture


def test_rollup_levels_and_grand_total(spark):
    from dissertation_data_pipeline_spark.tables import load_table

    e = load_table(spark, SF_DIR, "events")
    out = time_rollup(
        e,
        ts="ts",
        levels=["day", "hour"],
        extra=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    rows = out.collect()
    gids = {r.gid for r in rows}
    assert gids == {0, 1, 3, 7}  # hour, day, type, grand-total levels
    total = e.count()
    for gid in (0, 1, 3, 7):
        assert sum(r.n for r in rows if r.gid == gid) == total
    [grand] = [r for r in rows if r.gid == 7]
    assert grand.event_type is None and grand.ts_day is None


def test_scd2_history_intervals(spark):
    from dissertation_data_pipeline_spark.operators.temporal import scd2_history

    df = spark.createDataFrame(
        [
            (1, "a", "2024-01-01 00:00:00", 1),
            (1, "a", "2024-01-01 01:00:00", 2),   # no change -> absorbed
            (1, "b", "2024-01-01 02:00:00", 3),   # change
            (1, "a", "2024-01-01 03:00:00", 4),   # change back
            (2, "x", "2024-01-01 00:00:00", 5),
        ],
        "user_id long, event_type string, ts string, event_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sorted(
        (
            (r["user_id"], str(r["effective_from"]), r["event_type"],
             str(r["effective_to"]), r["is_current"])
            for r in scd2_history(
                df, "user_id", "event_type", "ts", tiebreak="event_id"
            ).collect()
        ),
        key=lambda t: (t[0], t[1]),
    )
    assert len(out) == 4  # 3 intervals for user 1, 1 for user 2
    u1 = [o for o in out if o[0] == 1]
    assert [o[2] for o in u1] == ["a", "b", "a"]
    # each interval closes where the next opens
    assert u1[0][3] == u1[1][1] and u1[1][3] == u1[2][1]
    assert [o[4] for o in u1] == [0, 0, 1]
    # open intervals are NULL-terminated (never a far-future sentinel:
    # 9999-12-31 overflows pandas datetime64[ns] in downstream gates)
    assert out[-1][4] == 1 and out[-1][3] == "None"


def test_sessionize_gap_boundary(spark):
    from dissertation_data_pipeline_spark.operators.temporal import sessionize

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1),
            (1, "2024-01-01 00:30:00", 2),   # gap == 1800s exactly -> SAME session
            (1, "2024-01-01 01:00:01", 3),   # gap 1801s -> new session
            (2, "2024-01-01 05:00:00", 4),
        ],
        "user_id long, ts string, event_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["event_id"]: r["session_idx"]
        for r in sessionize(
            df, "user_id", "ts", gap_seconds=1800, tiebreak="event_id"
        ).collect()
    }
    assert out[1] == 0 and out[2] == 0  # boundary gap is inclusive
    assert out[3] == 1
    assert out[4] == 0  # each key starts at session 0


def test_scd2_history_null_attribute_states(spark):
    # NULL is a legitimate attribute state: NULL->NULL must not open a
    # new interval; 'a'->NULL must open one (plain != would drop it)
    from pyspark.sql import Row
    import datetime as dt

    from dissertation_data_pipeline_spark.operators.temporal import scd2_history

    t = lambda s: dt.datetime(2024, 1, 1, s)  # noqa: E731
    rows = [
        Row(k=1, ts=t(1), v=None),
        Row(k=1, ts=t(2), v=None),   # unchanged NULL: same interval
        Row(k=1, ts=t(3), v="a"),
        Row(k=1, ts=t(4), v=None),   # a -> NULL: NEW interval
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v string")
    hist = scd2_history(df, "k", "v", "ts").orderBy("effective_from").collect()
    assert [r.v for r in hist] == [None, "a", None]
    assert [r.effective_from.hour for r in hist] == [1, 3, 4]
    assert [r.is_current for r in hist] == [0, 0, 1]


def test_interval_join_rejects_colliding_column_names(spark):
    import datetime as dt

    import pytest
    from pyspark.sql import Row

    from dissertation_data_pipeline_spark.operators.temporal import interval_join

    t = dt.datetime(2024, 1, 1)
    probe = spark.createDataFrame([Row(k=1, ts=t, tag="p")])
    iv = spark.createDataFrame([Row(k=1, s=t, e=t, tag="i")])
    with pytest.raises(ValueError, match="tag"):
        interval_join(
            probe, iv, probe_ts="ts", start="s", end="e",
            bucket_seconds=60, on=["k"],
        )


def test_asof_nearest_picks_closer_side_with_tie_rules(spark):
    import datetime as dt

    from pyspark.sql import Row

    from dissertation_data_pipeline_spark.operators.temporal import (
        asof_join_nearest,
    )

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [
            Row(eid=1, k=1, ts=t(10)),   # back@8 (d2) vs fwd@13 (d3) -> back
            Row(eid=2, k=1, ts=t(12)),   # back@8 (d4) vs fwd@13 (d1) -> fwd
            Row(eid=3, k=1, ts=t(30)),   # only back exists -> back
            Row(eid=4, k=2, ts=t(5)),    # key with no right rows -> dropped
            Row(eid=5, k=3, ts=t(10)),   # equidistant 8/12 -> earlier (8)
        ]
    )
    right = spark.createDataFrame(
        [
            Row(rid=100, k=1, ts=t(8)),
            Row(rid=101, k=1, ts=t(13)),
            Row(rid=102, k=3, ts=t(8)),
            Row(rid=103, k=3, ts=t(12)),
        ]
    )
    out = {
        r.eid: r
        for r in asof_join_nearest(
            left, right, ["k"], left_ts="ts", right_ts="ts", right_id="rid"
        ).collect()
    }
    assert out[1].nearest_id == 100 and out[1].delta_us == -2_000_000
    assert out[2].nearest_id == 101 and out[2].delta_us == 1_000_000
    assert out[3].nearest_id == 101
    assert 4 not in out  # no right rows for key 2
    assert out[5].nearest_id == 102  # equidistant: earlier right wins


def _scd2_case_frame(spark):
    """Event stream covering every SCD2-apply edge: unchanged-across-
    boundary attrs, NULL states on both sides of the cut, keys entirely
    pre- or post-cutoff, and same-ts tiebreak rows."""
    import datetime as dt

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    rows = [
        # user 1: change exactly at / repeated across any boundary
        (1, "a", t(1), 1), (1, "a", t(2), 2), (1, "b", t(3), 3),
        (1, "b", t(4), 4), (1, "a", t(5), 5),
        # user 2: NULL states crossing boundaries (NULL->NULL collapse,
        # a->NULL and NULL->a transitions)
        (2, None, t(1), 6), (2, None, t(3), 7), (2, "x", t(4), 8),
        (2, None, t(5), 9), (2, None, t(6), 10),
        # user 3: entirely early (untouched history under late cutoffs)
        (3, "z", t(1), 11),
        # user 4: entirely late (insert-only new key under early cutoffs)
        (4, "q", t(6), 12), (4, "r", t(7), 13),
        # user 5: same-ts rows, tiebreak decides the change order
        (5, "m", t(4), 14), (5, "n", t(4), 15), (5, "n", t(5), 16),
    ]
    return spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, event_id long"
    )


def test_scd2_apply_batch_equals_recompute_at_every_cutoff(spark):
    # The composition invariant the ext_cdc_scd2_pipeline gate row
    # rests on: incremental CDC maintenance == full recompute, for ANY
    # batch boundary (including empty-history and empty-batch cuts).
    import datetime as dt

    from dissertation_data_pipeline_spark.operators.temporal import (
        scd2_apply_batch,
        scd2_history,
    )

    e = _scd2_case_frame(spark)
    full = scd2_history(
        e, "user_id", "event_type", "ts", tiebreak="event_id"
    )

    def canon(df):
        return sorted((tuple(map(str, r)) for r in df.collect()))

    want = canon(full)
    for hour in (0, 1, 3, 4, 5, 8):
        t0 = dt.datetime(2024, 1, 1, hour, 30)
        hist0 = scd2_history(
            e.filter(F.col("ts") <= F.lit(t0)),
            "user_id", "event_type", "ts", tiebreak="event_id",
        )
        got = scd2_apply_batch(
            hist0,
            e.filter(F.col("ts") > F.lit(t0)),
            "user_id", "event_type", "ts", tiebreak="event_id",
        )
        assert canon(got) == want, f"cutoff {t0}"


def test_merge_upsert_composite_key(spark):
    from dissertation_data_pipeline_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "a", 30)],
        "k long, sub string, v long",
    )
    source = spark.createDataFrame(
        [(1, "b", 99), (2, "b", 77)],
        "k long, sub string, v long",
    )
    out = sorted(
        map(
            tuple,
            merge_upsert(
                target,
                source,
                ["k", "sub"],
                update_set={"v": F.col("s.v")},
                insert_values={
                    "k": F.col("s.k"),
                    "sub": F.col("s.sub"),
                    "v": F.col("s.v"),
                },
            ).collect(),
        )
    )
    # (1,b) updated, (2,b) inserted, partial key matches NOT matched
    assert out == [(1, "a", 10), (1, "b", 99), (2, "a", 30), (2, "b", 77)]


def test_asof_join_ignores_null_ts_and_null_key_right_rows(spark):
    from dissertation_data_pipeline_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00")], "k long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, None, "poison"), (None, "2024-01-01 08:00:00", "nullkey"),
         (1, "2024-01-01 08:30:00", "good")],
        "k long, ts string, v string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = asof_join(left, right, on=["k"], payload=["v"]).collect()[0]
    # the NULL-ts row would otherwise sort NULLS FIRST and be carried
    # as the "most recent" match; NULL keys must never match anything
    assert out["v"] == "good"


def test_sessionize_drops_null_ts_rows(spark):
    from dissertation_data_pipeline_spark.operators.temporal import sessionize

    df = spark.createDataFrame(
        [(1, None), (1, "2024-01-01 09:00:00"), (1, "2024-01-01 09:01:00")],
        "k long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = sessionize(df, "k", gap_seconds=1800).collect()
    assert len(rows) == 2  # NULL-ts row gone
    assert {r["session_idx"] for r in rows} == {0}  # one session, idx 0


def test_interval_join_reserves_bucket_column(spark):
    import pytest

    from dissertation_data_pipeline_spark.operators.temporal import (
        interval_join,
    )

    probe = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 5)], "k long, ts string, _bucket int"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    iv = spark.createDataFrame(
        [(1, "2024-01-01 08:00:00", "2024-01-01 10:00:00")],
        "k long, s string, e string",
    ).select("k", F.col("s").cast("timestamp"), F.col("e").cast("timestamp"))
    with pytest.raises(ValueError, match="_bucket"):
        interval_join(
            probe, iv, probe_ts="ts", start="s", end="e",
            bucket_seconds=3600, on=["k"],
        )


def test_merge_upsert_rejects_unknown_assignment_targets(spark):
    import pytest

    from dissertation_data_pipeline_spark.operators.merge import merge_upsert

    t = spark.createDataFrame([(1, "a")], "k long, v string")
    s = spark.createDataFrame([(1, "b")], "k long, v string")
    with pytest.raises(ValueError, match="not in the target"):
        merge_upsert(t, s, "k", update_set={"vee": F.col("s.v")})


def test_connected_components_raises_on_max_iter_exhaustion(spark):
    import pytest

    from dissertation_data_pipeline_spark.operators.clusters import (
        connected_components,
    )

    # a 12-node chain above the single-task threshold with max_iter=1:
    # one round cannot reach the fixpoint -> loud failure, not silently
    # split components
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            pairs, max_iter=1, small_edge_threshold=0
        )


# --- late-data report ------------------------------------------------------

def test_late_event_report_flags_out_of_order(spark):
    # arrival order (aid) vs event time (sec): event 3 arrives after the
    # watermark from event 2 has passed it by > 10s allowed lateness.
    rows = [
        Row(aid=1, k=1, sec=100, g="a"),
        Row(aid=2, k=1, sec=200, g="a"),
        Row(aid=3, k=1, sec=150, g="a"),  # late: wm=200-10=190 > 150
        Row(aid=4, k=1, sec=185, g="b"),  # not late: 185 >= 190? NO -> late
        Row(aid=5, k=2, sec=50, g="a"),   # first arrival for key 2: no wm
    ]
    df = spark.createDataFrame(rows).select(
        "aid", "k", F.timestamp_seconds("sec").alias("ts"), "g"
    )
    rep = {
        r.g: r
        for r in late_event_report(
            df, key="k", ts_col="ts", arrival_col="aid",
            allowed_lateness_s=10, group_col="g",
        ).collect()
    }
    assert rep["a"].n_events == 4 and rep["a"].n_late == 1
    assert rep["a"].max_lateness_us == (190 - 150) * 1_000_000
    assert rep["b"].n_events == 1 and rep["b"].n_late == 1
    assert rep["b"].max_lateness_us == (190 - 185) * 1_000_000
