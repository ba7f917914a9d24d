"""Property-based invariants for the merge/maintenance family.

Algebraic laws the maintenance operators must satisfy regardless of
how a corpus is split into batches — the guarantees that make
incremental refresh safe to run unattended at scale. One DataFrame per
hypothesis example (see test_properties.py conventions). Worked
examples of each MERGE-upsert fate and of CDC apply close the file.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.operators.merge import (
    apply_changes,
    latest_changes,
    merge_aggregates,
    merge_upsert,
)

SET = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

#: (key, value, in_delta) rows — the split flag is generated, so
#: hypothesis explores every old/delta partition of the same corpus
_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),
        st.integers(min_value=-100, max_value=100),
        st.booleans(),
    ),
    min_size=1,
    max_size=25,
)


def _agg(df):
    return df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )


@SET
@given(_ROWS)
def test_merged_state_equals_full_recompute(spark, rows):
    df = spark.createDataFrame(rows, "k int, v long, d boolean")
    merged = merge_aggregates(
        _agg(df.filter(~F.col("d"))),
        _agg(df.filter(F.col("d"))),
        "k",
        count_col="n",
        sum_cols=["s"],
    )
    expect = {(r.k, r.n, r.s) for r in _agg(df).collect()}
    assert {(r.k, r.n, r.s) for r in merged.collect()} == expect


@SET
@given(_ROWS)
def test_retraction_restores_prior_state(spark, rows):
    df = spark.createDataFrame(rows, "k int, v long, d boolean")
    state = _agg(df.filter(~F.col("d")))
    delta = _agg(df.filter(F.col("d")))
    advanced = merge_aggregates(state, delta, "k", count_col="n", sum_cols=["s"])
    retract = delta.select("k", (-F.col("n")).alias("n"), (-F.col("s")).alias("s"))
    restored = merge_aggregates(advanced, retract, "k", count_col="n", sum_cols=["s"])
    expect = {(r.k, r.n, r.s) for r in state.collect()}
    assert {(r.k, r.n, r.s) for r in restored.collect()} == expect


_KV = st.lists(
    st.tuples(st.integers(min_value=0, max_value=8), st.integers(0, 50)),
    min_size=1,
    max_size=15,
    unique_by=lambda t: t[0],
)


@SET
@given(_KV, _KV)
def test_merge_upsert_idempotent(spark, tgt, src):
    target = spark.createDataFrame(tgt, "k int, v long")
    source = spark.createDataFrame(src, "k int, nv long")
    kwargs = dict(
        update_set={"v": F.col("s.nv")},
        insert_values={"k": F.col("s.k"), "v": F.col("s.nv")},
    )
    once = merge_upsert(target, source, "k", **kwargs)
    twice = merge_upsert(once, source, "k", **kwargs)
    assert {(r.k, r.v) for r in twice.collect()} == {
        (r.k, r.v) for r in once.collect()
    }


@SET
@given(_KV)
def test_apply_changes_empty_log_keeps_base(spark, base_rows):
    base = spark.createDataFrame(base_rows, "k int, v long")
    log = spark.createDataFrame([], "k int, ts long, op string")
    out = apply_changes(
        base, log, "k", order_by=[F.desc("ts")], is_delete=F.col("op") == "del"
    ).collect()
    assert {(r.k, r.v, r.change_status) for r in out} == {
        (k, v, "kept") for k, v in base_rows
    }


# --- worked examples: MERGE upsert fates, CDC apply ------------------------

def _target(spark):
    return spark.createDataFrame(
        [Row(k=1, v="a", n=10), Row(k=2, v="b", n=20), Row(k=3, v="c", n=30)]
    )


def test_merge_upsert_all_four_fates(spark):
    source = spark.createDataFrame(
        [Row(k=2, nv=200), Row(k=3, nv=300), Row(k=4, nv=400)]
    )
    out = merge_upsert(
        _target(spark),
        source,
        "k",
        update_set={"n": F.col("s.nv")},
        insert_values={"k": F.col("s.k"), "v": F.lit("ins"), "n": F.col("s.nv")},
        delete_when=F.col("t.v") == "c",  # k=3 matched & deleted
    )
    rows = {r.k: r for r in out.collect()}
    assert set(rows) == {1, 2, 4}  # 3 deleted
    assert rows[1].v == "a" and rows[1].n == 10  # target-only kept
    assert rows[2].v == "b" and rows[2].n == 200  # matched updated
    assert rows[4].v == "ins" and rows[4].n == 400  # inserted
    assert out.columns == ["k", "v", "n"]  # target schema preserved


def test_merge_upsert_update_only_drops_source_only(spark):
    source = spark.createDataFrame([Row(k=2, nv=99), Row(k=9, nv=1)])
    out = merge_upsert(
        _target(spark), source, "k", update_set={"n": F.col("s.nv")}
    )
    rows = {r.k: r.n for r in out.collect()}
    assert rows == {1: 10, 2: 99, 3: 30}  # k=9 not inserted


def test_latest_changes_deterministic_tiebreak(spark):
    log = spark.createDataFrame(
        [Row(k=1, ts=5, cid=1, op="a"), Row(k=1, ts=5, cid=2, op="b")]
    )
    out = latest_changes(log, "k", [F.desc("ts"), F.desc("cid")]).collect()
    assert len(out) == 1 and out[0].op == "b"


def test_apply_changes_delete_upsert_insert(spark):
    base = spark.createDataFrame([Row(k=1, name="x"), Row(k=2, name="y")])
    log = spark.createDataFrame(
        [
            Row(k=1, ts=1, cid=1, op="upsert", val=1.0),
            Row(k=1, ts=2, cid=2, op="delete", val=None),  # latest: delete k=1
            Row(k=2, ts=1, cid=3, op="delete", val=None),
            Row(k=2, ts=2, cid=4, op="upsert", val=7.0),  # latest: upsert k=2
            Row(k=5, ts=1, cid=5, op="upsert", val=5.0),  # insert k=5
            Row(k=6, ts=1, cid=6, op="delete", val=None),  # delete absent: no-op
        ]
    )
    out = apply_changes(
        base,
        log,
        "k",
        order_by=[F.desc("ts"), F.desc("cid")],
        is_delete=F.col("op") == "delete",
    )
    rows = {r.k: r for r in out.collect()}
    assert set(rows) == {2, 5}
    assert rows[2].change_status == "updated" and rows[2].val == 7.0
    assert rows[5].change_status == "inserted" and rows[5].name is None


def test_apply_changes_kept_rows_pass_through(spark):
    base = spark.createDataFrame([Row(k=1, name="x")])
    log = spark.createDataFrame([Row(k=9, ts=1, cid=1, op="upsert", val=0.5)])
    rows = {r.k: r for r in apply_changes(
        base, log, "k",
        order_by=[F.desc("ts"), F.desc("cid")],
        is_delete=F.col("op") == "delete",
    ).collect()}
    assert rows[1].change_status == "kept" and rows[1].val is None
    assert rows[9].change_status == "inserted"
