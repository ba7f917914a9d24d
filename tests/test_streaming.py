"""Structured Streaming tests: the same window builders must produce
identical results under readStream + AvailableNow as under batch."""

from __future__ import annotations

import datetime
import importlib.util
import inspect
import re
import shutil
import sys
import tempfile
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.streaming import (
    read_events_stream,
    run_available_now_to_memory,
    tumbling_window_agg,
)
from dissertation_data_pipeline_spark.tables import load_table


@pytest.fixture()
def tmpdirs():
    d = tempfile.mkdtemp(prefix="ddp-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_tumbling_equals_batch(spark, sf_dir, tmpdirs):
    events = load_table(spark, sf_dir, "events")
    # stage the events as a 4-file directory (simulates incremental drops)
    src = f"{tmpdirs}/src"
    events.repartition(4).write.parquet(src)

    stream = read_events_stream(
        spark, src, events.schema, watermark_delay="2 hours"
    )
    got = run_available_now_to_memory(
        stream,
        lambda df: tumbling_window_agg(df, "ts", "1 hour", ["event_type"], "value"),
        query_name="t_tumbling",
        checkpoint_dir=f"{tmpdirs}/ckpt",
        output_mode="append",
    )
    want = tumbling_window_agg(events, "ts", "1 hour", ["event_type"], "value")

    # watermark append-mode emits only closed windows; every emitted row
    # must match batch, and all but the last watermark-open windows emit
    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {tuple(r) for r in want.collect()}
    assert got_rows <= want_rows
    assert len(got_rows) >= len(want_rows) - 20  # only tail windows may be held back


def test_streaming_checkpoint_no_reprocess(spark, sf_dir, tmpdirs):
    """AvailableNow + checkpoint = the reference's processed-set skip
    (SURVEY I2): a second run over the same directory emits nothing new."""
    events = load_table(spark, sf_dir, "events").limit(1000)
    src = f"{tmpdirs}/src"
    events.write.parquet(src)

    out_dir = f"{tmpdirs}/out"

    def run():
        stream = read_events_stream(spark, src, events.schema)
        q = (
            stream.select("event_id", "user_id", "ts")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", f"{tmpdirs}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
        return spark.read.parquet(out_dir)

    assert run().count() == 1000
    assert run().count() == 1000  # second run: source offsets say done -> no new rows


def _write_events(df, src):
    df.coalesce(1).write.mode("append").parquet(src)


def test_stream_dedup_within_watermark_suppresses_rearrivals(spark, tmpdirs):
    """dropDuplicatesWithinWatermark: a key re-arriving within the
    watermark is suppressed; distinct keys all pass. Two AvailableNow
    runs share one checkpoint, so run 2 resumes run 1's watermark and
    dedup state — the deterministic multi-batch setup."""
    from dissertation_data_pipeline_spark.streaming import (
        dedup_stream_within_watermark,
    )

    schema = "user_id long, ts string, event_type string, value double"
    f1 = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "click", 1.0),
         (2, "2024-01-01 10:05:00", "click", 2.0)],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    f2 = spark.createDataFrame(
        [(1, "2024-01-01 10:20:00", "click", 9.0),   # dup key, within watermark
         (3, "2024-01-01 10:30:00", "click", 3.0)],  # new key
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    src, ckpt, out = f"{tmpdirs}/dd-src", f"{tmpdirs}/dd-ckpt", f"{tmpdirs}/dd-out"
    for batch_df in (f1, f2):
        _write_events(batch_df, src)
        stream = read_events_stream(spark, src, f1.schema, watermark_delay="2 hours")
        q = (
            dedup_stream_within_watermark(stream, ["user_id"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
    rows = {r["user_id"]: r["value"] for r in spark.read.parquet(out).collect()}
    assert rows == {1: 1.0, 2: 2.0, 3: 3.0}  # first arrival of key 1 wins


def test_stream_late_data_dropped_from_closed_windows(spark, tmpdirs):
    """An event arriving beyond the watermark lands in no output window:
    the aggregate over its (already-closed) hour never re-emits. Run 2
    resumes run 1's checkpointed watermark (11:00 after the 12:00
    event with 1h delay), so the 00:30 straggler is dropped."""
    schema = "user_id long, ts string, event_type string, value double"
    f1 = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00", "click", 1.0),
         (1, "2024-01-01 00:20:00", "click", 1.0),
         (1, "2024-01-01 12:00:00", "click", 1.0)],  # advances watermark far
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    f2 = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00", "click", 99.0),  # 11.5h late: dropped
         (1, "2024-01-01 13:00:00", "click", 1.0)],  # closes the 12:00 window
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    src, ckpt, out = f"{tmpdirs}/late-src", f"{tmpdirs}/late-ckpt", f"{tmpdirs}/late-out"
    for batch_df in (f1, f2):
        _write_events(batch_df, src)
        stream = read_events_stream(spark, src, f1.schema, watermark_delay="1 hour")
        q = (
            tumbling_window_agg(stream, "ts", "1 hour", [], "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
    emitted = {
        (r["window_start"].isoformat(), r["n_events"], r["total_value"])
        for r in spark.read.parquet(out).collect()
    }
    zero_hour = sorted(e for e in emitted if e[0].startswith("2024-01-01T00:00"))
    assert zero_hour == [("2024-01-01T00:00:00", 2, 2.0)]


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, tmpdirs):
    """Clicks stream ⋈ purchases stream (same user, purchase within the
    preceding 2 hours) must equal the identical batch join."""
    from dissertation_data_pipeline_spark.streaming import (
        stream_stream_interval_join,
    )

    events = load_table(spark, sf_dir, "events")
    clicks_dir, purch_dir = f"{tmpdirs}/clicks", f"{tmpdirs}/purchases"
    clicks_b = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purch_b = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks_b.write.mode("overwrite").parquet(clicks_dir)
    purch_b.write.mode("overwrite").parquet(purch_dir)

    cs = read_events_stream(
        spark, clicks_dir, clicks_b.schema, watermark_delay="10 minutes"
    )
    ps = read_events_stream(
        spark, purch_dir, purch_b.schema, watermark_delay="10 minutes"
    )
    got = run_available_now_to_memory(
        cs,
        lambda left: stream_stream_interval_join(
            left, ps, "user_id", within="2 hours"
        ),
        "ssj_out",
        f"{tmpdirs}/ckpt",
    )

    expect = clicks_b.alias("c").join(
        purch_b.alias("p"),
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("p.ts") <= F.col("c.ts"))
        & (F.col("p.ts") >= F.col("c.ts") - F.expr("INTERVAL 2 HOURS")),
    ).select(
        F.col("c.event_id").alias("click"), F.col("p.event_id").alias("purchase")
    )
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    got_pairs = got.select(
        F.col("event_id").alias("click"), F.col("r_event_id").alias("purchase")
    )
    assert key(got_pairs) == key(expect)
    assert got.count() > 0


def test_stream_static_enrich_equals_batch(spark, sf_dir, tmpdirs):
    """Stream-static broadcast join over available-now micro-batches
    produces exactly the batch left-join result, with no state store."""
    from dissertation_data_pipeline_spark.streaming.joins import stream_static_enrich

    events = load_table(spark, sf_dir, "events")
    src = f"{tmpdirs}/src"
    events.repartition(2).write.parquet(src)
    dim = spark.createDataFrame(
        [("click", 3), ("purchase", 10), ("signup", 5)],
        "event_type string, weight int",
    )
    stream = read_events_stream(spark, src, events.schema)
    got_df = run_available_now_to_memory(
        stream,
        lambda df: stream_static_enrich(df, dim, "event_type")
        .groupBy("event_type", "weight")
        .agg(F.count(F.lit(1)).alias("n")),
        query_name="t_ss_enrich",
        checkpoint_dir=f"{tmpdirs}/ckpt",
        output_mode="complete",
    )
    got = {(r["event_type"], r["weight"]): r["n"] for r in got_df.collect()}
    want = {
        (r["event_type"], r["weight"]): r["n"]
        for r in events.join(F.broadcast(dim), "event_type", "left")
        .groupBy("event_type", "weight")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    # rows with no dim match survive with NULL weight (left contract)
    assert any(k[1] is None for k in got), got


def test_foreach_batch_upsert_latest_wins(spark, sf_dir, tmpdirs):
    """Stream -> StateTable merge sink: one row per user survives with
    the latest value; a second run over the same source (fresh
    checkpoint, same state) is a no-op on the final table."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from dissertation_data_pipeline_spark.sources.state import StateTable
    from dissertation_data_pipeline_spark.streaming.jobs import (
        read_events_stream,
        run_foreach_batch_upsert,
    )

    events = load_table(spark, sf_dir, "events").limit(2000)
    src = f"{tmpdirs}/src"
    events.repartition(3).write.parquet(src)

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("last_ts", TimestampType()),
            StructField("n_seen", LongType()),
        ]
    )
    state = StateTable(spark, f"{tmpdirs}/state", schema, key="user_id")

    def latest_per_user(df):
        return df.groupBy("user_id").agg(
            F.max("ts").alias("last_ts"), F.count(F.lit(1)).alias("n_seen")
        )

    stream = read_events_stream(spark, src, events.schema)
    got = run_foreach_batch_upsert(
        stream, latest_per_user, state, f"{tmpdirs}/ckpt1"
    )
    rows = {r["user_id"]: r["last_ts"] for r in got.collect()}
    want = {
        r["user_id"]: r["mx"]
        for r in events.groupBy("user_id").agg(F.max("ts").alias("mx")).collect()
    }
    assert rows == want  # one row per key, latest event time

    # idempotence: replay with a fresh checkpoint (same data, same keys)
    again = run_foreach_batch_upsert(
        read_events_stream(spark, src, events.schema),
        latest_per_user,
        state,
        f"{tmpdirs}/ckpt2",
    )
    assert {r["user_id"]: r["last_ts"] for r in again.collect()} == want


def test_patched_sql_confs_restores_conf(spark):
    from dissertation_data_pipeline_spark.streaming.jobs import patched_sql_confs

    key = "spark.sql.shuffle.partitions"
    unset = "spark.ddp.test.neverSet"  # no value and no default
    before = spark.conf.get(key)
    with patched_sql_confs(spark, {key: "5", unset: "x"}):
        assert spark.conf.get(key) == "5"
        assert spark.conf.get(unset) == "x"
    assert spark.conf.get(key) == before
    assert unset not in spark.conf.getAll
    # restored even when the body raises (a drain timeout must not
    # leave the session reconfigured for every later batch query)
    with pytest.raises(RuntimeError):
        with patched_sql_confs(spark, {key: "5", unset: "x"}):
            raise RuntimeError("drain failed")
    assert spark.conf.get(key) == before
    assert unset not in spark.conf.getAll


def test_tws_profile_parity_with_apply_in_pandas_with_state(spark, sf_dir, tmpdirs):
    """transformWithStateInPandas twin produces the same final
    profiles as the applyInPandasWithState operator over the same
    staged multi-batch drain. Skips where Spark's TWS protobuf
    dependency is absent even through the compat shim (see
    streaming/tws.py + compat.py docstrings)."""
    from dissertation_data_pipeline_spark.compat import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("Spark TWS state protocol needs protobuf (optional extra)")
    import os

    from dissertation_data_pipeline_spark.streaming.jobs import (
        read_events_stream,
        rocksdb_state_store,
        run_available_now_to_memory,
    )
    from dissertation_data_pipeline_spark.streaming.stateful import (
        running_user_profile,
    )
    from dissertation_data_pipeline_spark.streaming.tws import (
        running_user_profile_tws,
    )

    events = load_table(spark, sf_dir, "events")
    src = os.path.join(tmpdirs, "src")
    events.repartition(2).write.parquet(src)

    def drain(fn, name):
        stream = read_events_stream(
            spark, src, events.schema, max_files_per_trigger=1
        )
        sink = run_available_now_to_memory(
            stream,
            fn,
            name,
            os.path.join(tmpdirs, f"ckpt_{name}"),
            output_mode="update",
            timeout_sec=600,
            shuffle_partitions=8,
        )
        return {
            r["user_id"]: (r["n_events"], r["last_ts"], r["n_event_types"])
            for r in sink.groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max("last_ts").alias("last_ts"),
                F.max("n_event_types").alias("n_event_types"),
            )
            .collect()
        }

    old = drain(lambda s: running_user_profile(s, evict=False), "tws_par_old")
    # TWS keeps each named state variable in its own column family —
    # RocksDB provider required (HDFS-backed rejects multi-CF).
    with rocksdb_state_store(spark):
        new = drain(running_user_profile_tws, "tws_par_new")
    assert old == new


def test_tws_module_composes_without_protobuf(spark):
    """The TWS surface must at least import and build its plan in
    protobuf-less environments — failing at .start(), not at import
    (the documented gate)."""
    from dissertation_data_pipeline_spark.streaming.tws import (
        running_user_profile_tws,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr(
            "value AS user_id",
            "timestamp AS ts",
            "'click' AS event_type",
            "CAST(value AS DOUBLE) AS value",
        )
    )
    out = running_user_profile_tws(stream)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == [
        "user_id", "n_events", "value_sum", "last_ts", "n_event_types",
    ]


def test_tws_gate_row_registration_tracks_protobuf():
    """s_stateful_profile_tws is registered exactly when the runtime
    dependency (google.protobuf) is importable — present, the Spark-4
    state API carries a driver gate signal; absent, the registry skips
    it explicitly instead of shipping a row that dies at .start()."""
    from dissertation_data_pipeline_spark.plans.queries_streaming import (
        _tws_runtime_available,
    )
    from dissertation_data_pipeline_spark.plans.registry import QUERIES

    assert ("s_stateful_profile_tws" in QUERIES) == _tws_runtime_available()


def test_fold_profile_comma_and_empty_types_survive_state_roundtrip():
    """Distinct-type state must survive serialization across batches
    for type values containing commas or the empty string (the old
    bare CSV join corrupted both)."""
    import pandas as pd

    from dissertation_data_pipeline_spark.streaming.stateful import (
        fold_profile,
    )

    def batch(types):
        return pd.DataFrame(
            {
                "user_id": [1] * len(types),
                "ts": pd.to_datetime(["2024-01-01"] * len(types)),
                "event_type": types,
                "value": [1.0] * len(types),
            }
        )

    state, out = fold_profile(1, None, iter([batch(["promo,email", ""])]))
    assert out["n_event_types"].iloc[0] == 2
    # reload the serialized state in a later micro-batch: the set must
    # come back intact, not split on the embedded comma
    state, out = fold_profile(1, state, iter([batch(["promo,email"])]))
    assert out["n_event_types"].iloc[0] == 2
    assert out["n_events"].iloc[0] == 3


def test_interval_join_full_outer_keeps_key_and_refuses_collisions(spark):
    """Unmatched RIGHT rows in a full_outer interval join must carry
    their join key (previously dropped with r[on] -> NULL key), and
    prefixed right columns that collide with left columns are refused."""
    from dissertation_data_pipeline_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "l1")],
        "user_id long, ts string, event_id string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", "r1"), (2, "2024-01-01 09:30:00", "r2")],
        "user_id long, ts string, event_id string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = stream_stream_interval_join(
        left, right, "user_id", how="full_outer"
    )
    rows = {r["r_event_id"]: r["user_id"] for r in out.collect()}
    assert rows == {"r1": 1, "r2": 2}  # unmatched r2 keeps its key

    clashing_left = left.withColumn("r_event_id", F.lit("x"))
    with pytest.raises(ValueError, match="collide"):
        stream_stream_interval_join(clashing_left, right, "user_id")


# -- the inner stream-stream join's watermark vs. the fixtures' events span ----
# s_stream_stream_join drains under a watermark delay longer than the events
# table's time span, so no join state is evicted mid-drain and the drain
# equals the batch join for any file staging.  A fixture whose span reaches
# the delay would make the gate row depend on the staging instead.

PERFBENCH = Path(__file__).resolve().parents[1] / "perfbench"


def _inner_join_delay() -> datetime.timedelta:
    from dissertation_data_pipeline_spark.plans.registry import QUERIES

    src = inspect.getsource(QUERIES["s_stream_stream_join"].fn)
    (days,) = re.findall(r'watermark_delay="(\d+) days"', src)
    return datetime.timedelta(days=int(days))


def _span(ts) -> datetime.timedelta:
    return pc.max(ts).as_py() - pc.min(ts).as_py()


def _perfbench_module(name: str, monkeypatch):
    spec = importlib.util.spec_from_file_location(f"_perfbench_{name}", PERFBENCH / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, spec.name, mod)  # dataclasses look it up
    spec.loader.exec_module(mod)
    return mod


def test_testdata_events_span_stays_under_inner_join_watermark(sf_dir):
    sf_dirs = sorted(Path(sf_dir).parent.glob("sf*"))
    assert len(sf_dirs) >= 3
    for d in sf_dirs:
        ts = pq.read_table(d / "events.parquet", columns=["ts"]).column("ts")
        assert _span(ts) < _inner_join_delay(), d.name


def test_perfbench_events_span_stays_under_inner_join_watermark(monkeypatch):
    datagen = _perfbench_module("datagen", monkeypatch)
    workloads = _perfbench_module("workloads", monkeypatch)
    sfs = sorted({workloads.SMOKE_SF, *(w.sf for w in workloads.WORKLOADS.values())})
    for sf in sfs:
        ts = datagen.build_tables(sf)["events"].column("ts")
        assert _span(ts) < _inner_join_delay(), sf
