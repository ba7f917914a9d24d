"""Regression tests for ``session.drop_blocks``, the cleanup every
multi-query harness runs between queries.

The first guards the round-8 driver-heap leak fix (r8 verdict
What's-missing #5): every streaming gate row drains to a
``format("memory")`` sink, whose rows live in the DRIVER heap behind a
temp view.  Before commit e2c5b77 nothing dropped those views, so a
multi-query harness (bench warmup + 3 timed passes over 5 streaming
rows) accumulated driver memory until legitimate broadcast builds died
with "Not enough memory to build and broadcast" (the sf10 BENCH_SCALE
failure round 8 diagnosed — wrongly, at first — as a planner problem).
``drop_blocks`` sweeps temp views alongside the cache and
persistent-RDD cleanup; the test drains several memory sinks through it
and asserts zero residue.  (On pre-e2c5b77 ``drop_blocks`` its temp-view
assertion fails: ``clearCache()`` alone leaves every view in place.)

``drop_blocks`` lists the views from the session catalog
(``listLocalTempViews``), which starts no Spark job; the zero-jobs test
pins that (``catalog.listTables()``, the earlier listing, ran at least
one job per call — DESIGN.md §16), and the name-forms test pins which views go
and which stay.  The residue helper below still reads
``catalog.listTables()``: it is the independent oracle, not the
mechanism under test.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.session import drop_blocks
from dissertation_data_pipeline_spark.streaming import (
    read_events_stream,
    run_available_now_to_memory,
    tumbling_window_agg,
)
from dissertation_data_pipeline_spark.tables import load_table


@pytest.fixture()
def tmpdirs():
    d = tempfile.mkdtemp(prefix="ddp-dropblocks-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _residual_temp_views(spark) -> list[str]:
    return [t.name for t in spark.catalog.listTables() if t.isTemporary]


def _persistent_rdd_count(spark) -> int:
    return int(
        spark.sparkContext._jsc.sc().getPersistentRDDs().size()  # noqa: SLF001
    )


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())  # noqa: SLF001


def _drain_to_memory(spark, events, tmpdirs, name):
    """One gate-row-shaped drain: a ``format("memory")`` sink that
    parks its rows in the driver behind the temp view ``name``."""
    src = f"{tmpdirs}/src"
    if not os.path.exists(src):
        events.write.parquet(src)
    run_available_now_to_memory(
        read_events_stream(spark, src, events.schema, watermark_delay="2 hours"),
        lambda df: tumbling_window_agg(df, "ts", "1 hour", ["event_type"], "value"),
        query_name=name,
        checkpoint_dir=f"{tmpdirs}/ckpt_{name}",
        output_mode="append",
    ).count()  # the harness executes each result fully


def test_drop_blocks_sweeps_memory_sink_views(spark, sf_dir, tmpdirs):
    events = load_table(spark, sf_dir, "events").limit(500)

    # the bench/harness shape: several gate-row drains in one session,
    # each parking its result rows in the driver behind a temp view
    for i in range(3):
        _drain_to_memory(spark, events, tmpdirs, f"t_dropblocks_{i}")

    # plus a cached relation and a localCheckpoint, the other two
    # residue classes drop_blocks owns
    cached = events.groupBy("event_type").count().cache()
    cached.count()
    ckpt = events.limit(10).localCheckpoint(eager=True)
    ckpt.count()

    names = _residual_temp_views(spark)
    assert [n for n in names if n.startswith("t_dropblocks_")], (
        "memory sinks should have registered temp views — the leak "
        "this test guards never happened, so it guards nothing"
    )

    drop_blocks(spark)

    assert _residual_temp_views(spark) == [], (
        "drop_blocks left temp views behind — memory-sink rows are "
        "accumulating in the driver heap again (round-8 leak)"
    )
    assert _persistent_rdd_count(spark) == 0, (
        "drop_blocks left persistent RDD blocks (cache/localCheckpoint)"
    )


def test_drop_blocks_is_idempotent_on_clean_session(spark):
    drop_blocks(spark)
    drop_blocks(spark)
    assert _residual_temp_views(spark) == []


def test_drop_blocks_starts_no_job(spark, sf_dir, tmpdirs):
    """One residue of each class — a plain temp view, a memory-sink
    view, a cached frame and a ``localCheckpoint`` — goes without the
    cleanup starting a Spark job."""
    events = load_table(spark, sf_dir, "events").limit(500)
    events.createOrReplaceTempView("t_dropblocks_plain")
    _drain_to_memory(spark, events, tmpdirs, "t_dropblocks_sink")
    cached = events.groupBy("event_type").count().cache()
    cached.count()
    events.limit(10).localCheckpoint(eager=True).count()
    assert {"t_dropblocks_plain", "t_dropblocks_sink"} <= set(
        _residual_temp_views(spark)
    )
    assert _persistent_rdd_count(spark) > 0

    j0 = _next_job_id(spark)
    drop_blocks(spark)
    assert _next_job_id(spark) == j0, (
        "drop_blocks started a Spark job — a Dataset-backed catalog "
        "listing is back on the between-query path"
    )
    assert _residual_temp_views(spark) == []
    assert _persistent_rdd_count(spark) == 0


def test_drop_blocks_drops_local_views_of_any_name_and_keeps_the_rest(
    spark, tmpdirs
):
    """Exactly the local temp views go, whatever their name form; a
    global temp view and a persistent table stay."""
    drop_blocks(spark)
    df = spark.range(3)
    for name in ("`a.b`", "`with space`", "MixedCase"):
        df.createOrReplaceTempView(name)
    df.createOrReplaceGlobalTempView("t_dropblocks_global")
    df.write.option("path", f"{tmpdirs}/kept").saveAsTable("t_dropblocks_kept")
    try:
        assert sorted(_residual_temp_views(spark)) == [
            "a.b",
            "mixedcase",
            "with space",
        ]

        drop_blocks(spark)

        assert _residual_temp_views(spark) == []
        assert spark.table("global_temp.t_dropblocks_global").count() == 3
        assert spark.table("t_dropblocks_kept").count() == 3
    finally:
        spark.catalog.dropGlobalTempView("t_dropblocks_global")
        spark.sql("DROP TABLE IF EXISTS t_dropblocks_kept")
