"""[EXT] event-time window queries over the events table, with oracles.

Windows are epoch-aligned in both engines (Spark ``F.window`` default
== DuckDB ``time_bucket``); session tz is UTC so boundaries agree.
Value sums use DECIMAL(18,2) (order-independent, engine-exact).
"""

from __future__ import annotations

import contextlib

from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.plans.registry import register
from dissertation_data_pipeline_spark.session import plan_size_bytes
from dissertation_data_pipeline_spark.streaming.windows import (
    dedup_first_in_window,
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)
from dissertation_data_pipeline_spark.tables import load_table


@register(
    "s_tumbling_window",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def s_tumbling_window(spark, sf_dir):
    """[EXT] 1-hour tumbling event-time window per event_type — the
    same builder serves streaming with a watermark."""
    e = load_table(spark, sf_dir, "events")
    return tumbling_window_agg(e, "ts", "1 hour", ["event_type"], "value")


@register(
    "s_sliding_window",
    """
    SELECT window_start,
           window_start + INTERVAL '2 hours' AS window_end,
           event_type, count(*) AS n_events
    FROM (
      SELECT time_bucket(INTERVAL '1 hour', ts) - (shift * INTERVAL '1 hour') AS window_start,
             event_type
      FROM events, (SELECT unnest([0, 1]) AS shift)
    )
    GROUP BY 1, 2, 3
    """,
)
def s_sliding_window(spark, sf_dir):
    """[EXT] 2-hour window sliding by 1 hour: every event lands in two
    windows; the row multiplication happens after partial aggregation."""
    e = load_table(spark, sf_dir, "events")
    return sliding_window_agg(e, "ts", "2 hours", "1 hour", ["event_type"])


@register(
    "s_session_window",
    """
    WITH ordered AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL '6 hours'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM ordered
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL '6 hours' AS session_end,
           user_id,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM numbered GROUP BY user_id, session_no
    """,
)
def s_session_window(spark, sf_dir):
    """[EXT] gap-based session windows (6 h) per user. The oracle is the
    classic gaps-and-islands formulation; Spark's session_window merges
    events with inter-arrival < gap and ends sessions at last + gap —
    identical semantics."""
    e = load_table(spark, sf_dir, "events")
    return session_window_agg(e, "ts", "6 hours", ["user_id"], "value")


@register(
    "s_dedup_in_window",
    """
    SELECT event_id, user_id, event_type, ts FROM (
      SELECT event_id, user_id, event_type, ts,
             row_number() OVER (
               PARTITION BY time_bucket(INTERVAL '1 hour', ts), user_id, event_type
               ORDER BY ts ASC, event_id ASC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def s_dedup_in_window(spark, sf_dir):
    """[EXT] first-event-per-(user, type, hour) — the deterministic
    batch analog of dropDuplicatesWithinWatermark."""
    e = load_table(spark, sf_dir, "events")
    return dedup_first_in_window(
        e, "ts", "1 hour", ["user_id", "event_type"], ["event_id"]
    ).select("event_id", "user_id", "event_type", "ts")


@register(
    "s_json_props",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k
    FROM events GROUP BY 1
    """,
)
def s_json_props(spark, sf_dir):
    """F-j1/F-j2-adjacent: semi-structured props column — JSON field
    extraction (get_json_object) + typed aggregation."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select("event_type", F.get_json_object("props", "$.k").cast("long").alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("k").alias("sum_k"))
    )


#: Projected input bytes per state partition of a profile drain: the
#: staged 4-column projection measures 13-15 B/row at sf0.001-0.1, so
#: 2 MiB is ~125k rows.
_PROFILE_BYTES_PER_PARTITION = 2 << 20


def _profile_partitions(size_bytes: int | None) -> int:
    """State-store partitions requested for a profile drain over
    ``size_bytes`` of projected input: one per 2 MiB, floored at the
    r6-measured gate optimum of 8 (BASELINE.md 'stateful-drain
    overhead').  The drain caps the request at the session's shuffle
    conf, so on a session of fewer slots every store runs in one wave,
    and at sf10 under a 32-partition conf the request (60-odd) caps
    to 32 — the r8 fix for the starved fixed 8 (140 s vs ~56 s).
    Unknown size requests the floor."""
    return max(8, (size_bytes or 0) // _PROFILE_BYTES_PER_PARTITION)


def _drain_profile(spark, sf_dir, operator, sink_name: str, state_store):
    """Stage the events table, drain it through ``operator`` into the
    memory sink ``sink_name`` inside the ``state_store`` context, and
    reduce the update-mode emissions to the final state per key — the
    shared body of ``s_stateful_profile`` (whose docstring explains the
    staging and the monotone reduction) and ``s_stateful_profile_tws``."""
    import os
    import shutil
    import tempfile

    from dissertation_data_pipeline_spark.streaming.jobs import (
        read_events_stream,
        run_available_now_to_memory,
    )

    # stage only the four columns the profile operators consume (both
    # project exactly these); event_id and the props JSON are
    # staging-write dead weight
    staged = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    work = tempfile.mkdtemp(prefix=f"ddp_{sink_name}_")
    try:
        src = os.path.join(work, "src")
        staged.repartition(2).write.parquet(src)
        stream = read_events_stream(
            spark, src, staged.schema, max_files_per_trigger=1
        )
        with state_store:
            sink = run_available_now_to_memory(
                stream,
                operator,
                sink_name,
                os.path.join(work, "ckpt"),
                output_mode="update",
                # loaded-host headroom (idle: ~6 s) — same rationale as
                # s_stream_stream_join
                timeout_sec=600,
                # sized from planning statistics: zero jobs
                shuffle_partitions=_profile_partitions(plan_size_bytes(staged)),
                # update-mode, no timers: the trailing empty micro-batch
                # emits nothing and only pays state-store load/commit
                # (for RocksDB, re-opening every store: measured 7.7 s
                # of executor time at sf0.1 over 8 stores) —
                # A/B-verified identical output (r10, hash-equal)
                no_data_batches=False,
            )
        final = sink.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.max("last_ts").alias("last_ts"),
            F.max("n_event_types").cast("int").alias("n_event_types"),
        )
        # materialize before the rmtree below (the memory sink itself
        # lives in driver memory, but don't rely on that detail)
        return final.localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "s_stateful_profile",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           max(ts) AS last_ts,
           CAST(count(DISTINCT event_type) AS INT) AS n_event_types
    FROM events GROUP BY user_id
    """,
)
def s_stateful_profile(spark, sf_dir):
    """[EXT] applyInPandasWithState running profile, gate-checked
    through REAL stream execution — not a batch stand-in: the events
    table is staged as a 2-file directory, drained with
    Trigger.AvailableNow under maxFilesPerTrigger=1 (so per-key state
    genuinely carries across micro-batches), and the memory sink's
    update-mode emissions are reduced to the final state per key.

    The reduction is exact, not heuristic: every emitted column is
    monotone per key across a key's emissions (n_events strictly
    increases, last_ts and n_event_types are running max/set-size), so
    ``groupBy(user_id).max(...)`` IS the final state, independent of
    how the file split scattered a key's rows across batches. That
    order-independence is also why a plain batch GROUP BY is a valid
    oracle for a stateful streaming operator. ``value_sum`` is
    deliberately NOT in the gate projection: the operator accumulates
    it in float across arbitrary batch boundaries, and float addition
    order is not engine-portable (it stays pytest-covered).
    """
    from dissertation_data_pipeline_spark.streaming.stateful import (
        running_user_profile,
    )

    return _drain_profile(
        spark,
        sf_dir,
        # evict=False: a finite AvailableNow drain must terminate —
        # ProcessingTimeTimeout keeps shouldRunAnotherBatch true and
        # the trigger spins empty state-cleanup batches forever.
        lambda s: running_user_profile(s, evict=False),
        "s_stateful_profile_sink",
        contextlib.nullcontext(),
    )


def _tws_runtime_available() -> bool:
    """transformWithStateInPandas needs google.protobuf in the Python
    WORKER interpreter (pyspark optional extra — see streaming/tws.py's
    module docstring); without it the query dies at START with an
    opaque driver-worker exit. The probe IS compat.ensure_protobuf:
    it makes the dependency available (shimming an on-disk pure-Python
    runtime when pip never installed one) and returns whether pyspark's
    state-protocol gencode verifiably loads. When PYSPARK_PYTHON is
    unset or points at this interpreter (the common case — and the only
    subprocess-free path, keeping registry import cheap per ADVICE r7),
    the probe runs in-process; otherwise the worker interpreter is
    probed once via subprocess with the repo on PYTHONPATH so the same
    shim logic answers for THAT interpreter."""
    import os
    import sys

    worker_py = os.environ.get("PYSPARK_PYTHON") or sys.executable
    if os.path.realpath(worker_py) != os.path.realpath(sys.executable):
        import subprocess

        import dissertation_data_pipeline_spark as pkg

        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
        env = dict(os.environ)
        env["PYTHONPATH"] = repo_root + os.pathsep + env.get("PYTHONPATH", "")
        try:
            return (
                subprocess.run(
                    [
                        worker_py,
                        "-c",
                        "from dissertation_data_pipeline_spark.compat import"
                        " ensure_protobuf; import sys;"
                        " sys.exit(0 if ensure_protobuf() else 1)",
                    ],
                    capture_output=True,
                    # generous: the probed command cold-imports pyspark
                    # (StateMessage_pb2) in a fresh interpreter; the
                    # probe runs once per registry import, so 30 s is
                    # cheap insurance against a loaded host silently
                    # unregistering the TWS row (ADVICE r8)
                    timeout=30,
                    env=env,
                ).returncode
                == 0
            )
        except subprocess.TimeoutExpired:
            print(
                "WARNING: worker-interpreter protobuf probe timed out"
                f" (30s, {worker_py}); s_stateful_profile_tws will NOT"
                " register this run",
                file=sys.stderr,
            )
            return False
        except Exception:
            return False
    from dissertation_data_pipeline_spark.compat import ensure_protobuf

    return ensure_protobuf()


if _tws_runtime_available():

    @register(
        "s_stateful_profile_tws",
        """
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               max(ts) AS last_ts,
               CAST(count(DISTINCT event_type) AS INT) AS n_event_types
        FROM events GROUP BY user_id
        """,
    )
    def s_stateful_profile_tws(spark, sf_dir):
        """[EXT] the transformWithStateInPandas twin of
        s_stateful_profile — identical staging (2-file directory,
        AvailableNow, maxFilesPerTrigger=1 so state genuinely crosses
        micro-batches), identical accumulate step (stateful.fold_profile
        is shared by both APIs), identical monotone final-state
        reduction and oracle. Registered ONLY where google.protobuf is
        importable (see _tws_runtime_available); elsewhere the Spark-4
        state API surface stays pytest-covered via the parity test's
        dependency skip."""
        from dissertation_data_pipeline_spark.streaming.jobs import (
            rocksdb_state_store,
        )
        from dissertation_data_pipeline_spark.streaming.tws import (
            running_user_profile_tws,
        )

        return _drain_profile(
            spark,
            sf_dir,
            # no TTL -> timeMode None -> the AvailableNow drain
            # terminates by default (the eviction knob the OLD
            # API's timeoutConf couldn't offer a finite drain)
            running_user_profile_tws,
            "s_stateful_profile_tws_sink",
            # TWS keeps each named state variable in its own column
            # family, which the default HDFS-backed provider rejects
            # (MULTIPLE_COLUMN_FAMILIES not supported) — RocksDB is a
            # REQUIREMENT here, not just the 100 TB sizing choice.
            rocksdb_state_store(spark),
        )

else:
    # s_stateful_profile_tws is EXPLICITLY UNREGISTERED — the gate row
    # exists only where the runtime dependency does, and
    # tests/test_streaming.py asserts registration tracks the probe.
    # Loud, once, on stderr (r8 verdict Next #6): on a clean host the
    # Spark-4 typed-state surface would otherwise SILENTLY shrink the
    # registry, and a missing row in a bench/gate run is
    # indistinguishable from never having implemented it.
    import sys as _sys

    print(
        "WARNING: s_stateful_profile_tws NOT registered — no protobuf"
        " runtime importable and no on-disk pure-Python copy found"
        " (transformWithStateInPandas needs google.protobuf in the"
        " Python worker; `pip install protobuf` or set"
        " $SPARK_GRAFT_PROTOBUF_DIR — see README 'Optional runtime"
        " dependencies')",
        file=_sys.stderr,
    )


@register(
    "s_stream_stream_join",
    """
    SELECT l.event_id AS click_id,
           l.user_id,
           l.ts AS click_ts,
           r.event_id AS purchase_id,
           r.ts AS purchase_ts,
           CAST(CAST(r.value AS DECIMAL(18,2)) AS DOUBLE) AS purchase_value
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND r.ts BETWEEN l.ts - INTERVAL '1 hour' AND l.ts
    WHERE l.event_type = 'click' AND r.event_type = 'purchase'
    """,
)
def s_stream_stream_join(spark, sf_dir):
    """[EXT] stream-stream interval join, gate-checked through REAL
    stream execution: the events table is staged as files and read as
    TWO independent watermarked streams (clicks, purchases), joined on
    user_id with purchases in the hour before each click
    (streaming/joins.py stream_stream_interval_join), drained with
    Trigger.AvailableNow under maxFilesPerTrigger=1 so matches
    genuinely cross micro-batch boundaries through the join state.

    A batch interval join is a valid oracle because INNER stream-stream
    joins emit eagerly on match (only outer joins hold rows for the
    watermark), so a full drain emits exactly the batch join's rows —
    each once, the state store dedups re-matches.  The watermark delay
    (31 days) exceeds the events table's 30-day span at every SF, so
    NO join state is evicted mid-drain and the equivalence holds for
    ANY staged file count — with a tighter watermark it would silently
    depend on the 2-file staging (a batch-3 row could lose its evicted
    batch-1 partner).  purchase_value rounds through DECIMAL(18,2) for
    engine-exact 2dp values, then final-casts to DOUBLE — the gate's
    pandas canon floats DuckDB DECIMALs (r5 verdict), so DECIMAL must
    never appear in a returned schema."""
    import os
    import shutil
    import tempfile

    from dissertation_data_pipeline_spark.streaming.jobs import (
        read_events_stream,
        run_available_now_to_memory,
    )
    from dissertation_data_pipeline_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    events = load_table(spark, sf_dir, "events")
    # stage only the rows and columns the drain consumes: an INNER
    # join emits click x purchase matches only, and rows of other
    # event types influence nothing else here — they advance the
    # watermark, which with the 31-day delay never evicts state and
    # (trailing no-data batch skipped below) never drives output;
    # props is dead weight.  ~60% fewer rows through every per-batch
    # scan/shuffle/state write on BOTH stream legs (A/B at sf0.1 and
    # sf1: output hash identical, drain 3.28 -> 3.01 s at sf0.1).
    staged = events.filter(
        F.col("event_type").isin("click", "purchase")
    ).drop("props")
    work = tempfile.mkdtemp(prefix="ddp_ssjoin_gate_")
    try:
        src = os.path.join(work, "src")
        staged.repartition(2).write.parquet(src)

        def stream():
            return read_events_stream(
                spark,
                src,
                staged.schema,
                watermark_delay="31 days",
                max_files_per_trigger=1,
            )

        clicks = stream().filter(F.col("event_type") == "click")
        purchases = stream().filter(F.col("event_type") == "purchase")
        sink = run_available_now_to_memory(
            clicks,
            lambda l: stream_stream_interval_join(
                l, purchases, "user_id", within="1 hour"
            ).select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("ts").alias("click_ts"),
                F.col("r_event_id").alias("purchase_id"),
                F.col("r_ts").alias("purchase_ts"),
                F.col("r_value")
                .cast("decimal(18,2)")
                .cast("double")
                .alias("purchase_value"),
            ),
            "s_stream_stream_join_sink",
            os.path.join(work, "ckpt"),
            output_mode="append",
            # a loaded host can stretch the multi-batch two-stream
            # drain well past the 120 s default (idle: ~15 s; measured
            # >120 s under a concurrent full-suite run)
            timeout_sec=600,
            # 8, capped at the session conf — deliberately not sized
            # like the profile drain: join state is WATERMARK-BOUNDED,
            # it never grows with staged input, so the profile drain's
            # sf10 starvation cannot occur here, and input sizing only
            # multiplies per-batch store commits (measured at sf10: 16
            # partitions 14.1-14.5 s vs 11.2 s at 8 — BASELINE.md
            # round-9 drain A/B)
            shuffle_partitions=8,
            # INNER join: matches emit eagerly on arrival, so the
            # trailing empty micro-batch emits nothing and only pays 4
            # state-store commits per partition — skip it (A/B: 3.6-
            # 5.0 s -> 2.9-3.2 s at sf0.1, output hash identical).
            # The OUTER siblings keep the default: their null-padded
            # rows flush exactly in that final watermark batch.
            no_data_batches=False,
        )
        return sink.localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "s_stream_stream_join_evict",
    """
    WITH ev AS (SELECT * FROM events WHERE user_id % 5 = 0),
         l AS (SELECT * FROM ev WHERE event_type = 'click'),
         r AS (SELECT * FROM ev WHERE event_type = 'purchase'),
         wm AS (SELECT max(ts) - INTERVAL '2 hours' AS w FROM ev),
         replays AS (
           SELECT * FROM l
           WHERE ts < (SELECT min(ts) + INTERVAL '14 days' FROM ev)
         ),
         surviving_replays AS (
           -- the eviction rule, restated: a re-sent click can re-emit
           -- its matches only if its partners' state survives, i.e.
           -- only while the click beats the final watermark; every
           -- replay here is >23 days older than W, so none survive
           SELECT * FROM replays WHERE ts >= (SELECT w FROM wm)
         ),
         -- counterfactual teeth: if state survived, the replays would
         -- re-emit 2 duplicate matches at sf0.01, 30 at sf0.1, 324 at
         -- sf1 (sf0.001 is too sparse for first-half matches — probe
         -- vacuous there)
         m AS (
           SELECT l.event_id AS click_id, l.user_id, l.ts AS click_ts,
                  r.event_id AS purchase_id, r.ts AS purchase_ts
           FROM l JOIN r
             ON l.user_id = r.user_id
            AND r.ts BETWEEN l.ts - INTERVAL '1 hour' AND l.ts
         )
    SELECT click_id, user_id, click_ts, purchase_id, purchase_ts FROM m
    UNION ALL
    SELECT s.event_id, s.user_id, s.ts, r.event_id, r.ts
    FROM surviving_replays s JOIN r
      ON s.user_id = r.user_id
     AND r.ts BETWEEN s.ts - INTERVAL '1 hour' AND s.ts
    """,
)
def s_stream_stream_join_evict(spark, sf_dir):
    """[EXT] inner stream-stream interval join with a TIGHT (2 hour)
    watermark and genuinely-evicted join state, made observable in the
    output — the eviction companion to ``s_stream_stream_join`` (whose
    31-day delay deliberately evicts nothing).

    Staging is time-ordered: file 1 = first 15 days, file 2 = the
    rest, file 3 = a REPLAY of the first 14 days' clicks (the same
    rows re-sent, simulating late duplicate arrivals).  Drained with
    AvailableNow + maxFilesPerTrigger=1 → three micro-batches, the
    watermark advancing between them, state older than the bound
    evicted after each.

    Why the result is exact:

    - **No match is lost to eviction**: arrival is in event-time order
      and ``delay (2h) > within (1h)``, so a batch-2 click's possible
      partners (purchases within the hour before it) always postdate
      the batch-1 eviction bound ``r_ts + within < W`` — the in-order
      invariant a production file stream relies on.
    - **The replay probes eviction**: a replayed click's original
      partners sit 14+ days below the final watermark, so their state
      is GONE by the time file 3 arrives.  If state were NOT evicted —
      run this with the sibling row's 31-day delay — the replays would
      re-match and emit duplicate rows (2 at sf0.01, 30 at sf0.1, 324
      at sf1; sf0.001 is too sparse to have first-half matches, so the
      probe is vacuous only there) and the hash would go red.  The
      oracle's ``surviving_replays`` leg restates the rule and
      contributes zero rows.
    - **Eviction lags one batch** (found the hard way at sf1): state
      cleanup at the end of batch N uses batch N's START-of-batch
      watermark, so after batch 2 the right state still holds
      purchases down to ``max(file1 ts) - delay - within`` ≈ t_mid-3h,
      and a replayed click inside that tail WOULD re-match (measured:
      4 duplicates at sf1 with a t_mid replay cutoff — Spark does not
      input-filter the late clicks; only missing state silences them).
      The 14-day cutoff clears the lagging bound by ~21 hours, so the
      row is density-independent.
    """
    import glob
    import os
    import shutil
    import tempfile
    from datetime import timedelta

    from dissertation_data_pipeline_spark.streaming.jobs import (
        read_events_stream,
        run_available_now_to_memory,
    )
    from dissertation_data_pipeline_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 5 == 0)
        # column pruning only — every ROW of every type must stay
        # staged: the watermark here is applied BEFORE the event-type
        # filters, so non-click/purchase rows advance it and the
        # eviction timing this row exists to probe depends on them;
        # value and props never reach the projection
        .select("event_id", "ts", "user_id", "event_type")
    )
    t0 = ev.agg(F.min("ts").alias("t0")).first()["t0"]
    t_mid = t0 + timedelta(days=15)
    # clears the LAGGING eviction bound (t_mid - delay - within) by
    # ~21 h — see the docstring's lag-one-batch note
    t_replay = t0 + timedelta(days=14)
    work = tempfile.mkdtemp(prefix="ddp_ssevict_gate_")
    try:
        src = os.path.join(work, "src")
        os.makedirs(src)
        parts = [
            ev.filter(F.col("ts") < F.lit(t_mid)),
            ev.filter(F.col("ts") >= F.lit(t_mid)),
            ev.filter(
                (F.col("ts") < F.lit(t_replay))
                & (F.col("event_type") == "click")
            ),
        ]
        # one file per stage, mtime-ordered so the file source replays
        # them as three in-order micro-batches
        for i, p in enumerate(parts):
            stage = os.path.join(work, f"stage{i}")
            p.coalesce(1).write.parquet(stage)
            dst = os.path.join(src, f"{i:03d}.parquet")
            shutil.copyfile(
                glob.glob(os.path.join(stage, "part-*.parquet"))[0], dst
            )
            os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

        def stream():
            return read_events_stream(
                spark,
                src,
                ev.schema,
                watermark_delay="2 hours",
                max_files_per_trigger=1,
            )

        clicks = stream().filter(F.col("event_type") == "click")
        purchases = stream().filter(F.col("event_type") == "purchase")
        sink = run_available_now_to_memory(
            clicks,
            lambda l: stream_stream_interval_join(
                l, purchases, "user_id", within="1 hour"
            ).select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("ts").alias("click_ts"),
                F.col("r_event_id").alias("purchase_id"),
                F.col("r_ts").alias("purchase_ts"),
            ),
            "s_stream_stream_join_evict_sink",
            os.path.join(work, "ckpt"),
            output_mode="append",
            timeout_sec=600,
            # 8, capped at the session conf — watermark-bounded join
            # state; see s_stream_stream_join's measured rationale
            shuffle_partitions=8,
            # INNER join (replay rows are a DATA batch; eviction runs
            # inside data batches regardless): the trailing empty
            # batch emits nothing — skip it, same A/B as the sibling
            no_data_batches=False,
        )
        return sink.localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _typed_stream(spark, src: str, schema, event_type: str):
    """One event type of the staged click/purchase directory as a
    stream, watermarked AFTER the type filter so each stream's
    watermark derives from its own rows (the outer-join rows' rule)."""
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(src)
        .filter(F.col("event_type") == event_type)
        .withWatermark("ts", "2 hours")
    )


@register(
    "s_stream_stream_left_outer",
    """
    WITH ev AS (SELECT * FROM events WHERE user_id % 5 = 0),
         l AS (SELECT * FROM ev WHERE event_type = 'click'),
         r AS (SELECT * FROM ev WHERE event_type = 'purchase'),
         m AS (
           SELECT l.event_id AS click_id, l.user_id, l.ts AS click_ts,
                  r.event_id AS purchase_id, r.ts AS purchase_ts
           FROM l JOIN r
             ON l.user_id = r.user_id
            AND r.ts BETWEEN l.ts - INTERVAL '1 hour' AND l.ts
         ),
         wm AS (
           SELECT date_trunc('millisecond',
                    least((SELECT max(ts) FROM l), (SELECT max(ts) FROM r)))
                  - INTERVAL '2 hours' AS w
         )
    SELECT click_id, user_id, click_ts, purchase_id, purchase_ts FROM m
    UNION ALL
    SELECT event_id AS click_id, user_id, ts AS click_ts,
           NULL AS purchase_id, CAST(NULL AS TIMESTAMP) AS purchase_ts
    FROM l
    WHERE event_id NOT IN (SELECT click_id FROM m)
      AND ts < (SELECT w FROM wm)
    """,
)
def s_stream_stream_left_outer(spark, sf_dir):
    """[EXT] LEFT OUTER stream-stream interval join through real
    stream execution — the hard part of streaming outer joins made
    oracle-checkable: matches emit eagerly, and a null-padded row
    emits for an unmatched click only once the global watermark
    (min of the two streams' watermarks, each = that stream's max
    event time minus the 2 h delay, millisecond-truncated) passes the
    click's timestamp.  Unmatched clicks YOUNGER than the final
    watermark emit nothing — the batch oracle restates exactly that:
    matches UNION unmatched-and-expired.

    The watermark is applied AFTER the event-type filter on each
    stream (not inherited from the raw scan), so the per-stream
    watermark rule holds by construction rather than by predicate
    pushdown; the oracle's ``least(max click ts, max purchase ts)``
    mirrors Spark's min-across-inputs global watermark.

    Volume is bounded to the deterministic ``user_id % 5`` slice on
    BOTH sides (and in the oracle): the row proves outer-join
    semantics, and outer-join state + the watermark-flush batch made
    the full-table drain ~5x the inner row's cost at sf0.1 — a
    semantics gate should not dominate the bench."""
    import os
    import shutil
    import tempfile

    from dissertation_data_pipeline_spark.streaming.joins import (
        stream_stream_interval_join,
    )
    from dissertation_data_pipeline_spark.streaming.jobs import (
        run_available_now_to_memory,
    )

    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 5 == 0
    )
    # stage only click/purchase rows and the four consumed columns:
    # each stream's watermark is applied AFTER its event-type filter
    # (see the docstring), so it derives from click/purchase rows only
    # — dropping the other types at staging leaves both watermarks,
    # and therefore the null-pad flush boundary, bit-identical; value
    # and props never reach the projection
    staged = events.filter(
        F.col("event_type").isin("click", "purchase")
    ).select("event_id", "ts", "user_id", "event_type")
    work = tempfile.mkdtemp(prefix="ddp_ssouter_gate_")
    try:
        src = os.path.join(work, "src")
        staged.repartition(2).write.parquet(src)
        clicks = _typed_stream(spark, src, staged.schema, "click")
        purchases = _typed_stream(spark, src, staged.schema, "purchase")
        sink = run_available_now_to_memory(
            clicks,
            lambda l: stream_stream_interval_join(
                l, purchases, "user_id", within="1 hour", how="left_outer"
            ).select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("ts").alias("click_ts"),
                F.col("r_event_id").alias("purchase_id"),
                F.col("r_ts").alias("purchase_ts"),
            ),
            "s_stream_stream_left_outer_sink",
            os.path.join(work, "ckpt"),
            output_mode="append",
            timeout_sec=600,
            # 8, capped at the session conf — watermark-bounded join
            # state; see s_stream_stream_join's measured rationale
            shuffle_partitions=8,
        )
        return sink.localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "s_stream_stream_full_outer",
    """
    WITH ev AS (SELECT * FROM events WHERE user_id % 5 = 0),
         l AS (SELECT * FROM ev WHERE event_type = 'click'),
         r AS (SELECT * FROM ev WHERE event_type = 'purchase'),
         m AS (
           SELECT l.user_id, l.event_id AS click_id, l.ts AS click_ts,
                  r.event_id AS purchase_id, r.ts AS purchase_ts
           FROM l JOIN r
             ON l.user_id = r.user_id
            AND r.ts BETWEEN l.ts - INTERVAL '1 hour' AND l.ts
         ),
         wm AS (
           SELECT date_trunc('millisecond',
                    least((SELECT max(ts) FROM l), (SELECT max(ts) FROM r)))
                  - INTERVAL '2 hours' AS w
         )
    SELECT user_id, click_id, click_ts, purchase_id, purchase_ts FROM m
    UNION ALL
    SELECT user_id, event_id, ts, NULL, CAST(NULL AS TIMESTAMP)
    FROM l
    WHERE event_id NOT IN (SELECT click_id FROM m)
      AND ts < (SELECT w FROM wm)
    UNION ALL
    SELECT user_id, NULL, CAST(NULL AS TIMESTAMP), event_id, ts
    FROM r
    WHERE event_id NOT IN (SELECT purchase_id FROM m)
      AND ts + INTERVAL '1 hour' < (SELECT w FROM wm)
    """,
)
def s_stream_stream_full_outer(spark, sf_dir):
    """[EXT] FULL OUTER stream-stream interval join — the two state
    sides expire under DIFFERENT watermark rules, and both are
    oracle-checked: an unmatched CLICK null-pads once the global
    watermark passes its own timestamp (no future purchase can satisfy
    r_ts <= click_ts), but an unmatched PURCHASE must wait a further
    interval-width — a click as late as r_ts + 1h could still match,
    so its null row emits only when ``r_ts + 1h < watermark``.  That
    asymmetric shift is the part of streaming outer-join semantics
    that silently bites users; the batch oracle states both rules
    explicitly (verified empirically: the unshifted rule over-counts
    right nulls by 4 at sf0.1).  Same staging/slice/watermark
    discipline as ``s_stream_stream_left_outer``."""
    import os
    import shutil
    import tempfile

    from dissertation_data_pipeline_spark.streaming.jobs import (
        run_available_now_to_memory,
    )
    from dissertation_data_pipeline_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 5 == 0
    )
    # same staged-row/column pruning as the left-outer sibling: both
    # watermarks are applied after the type filters, so click/purchase
    # rows alone determine them — the asymmetric expiry rules are
    # unchanged by dropping never-joined rows at staging
    staged = events.filter(
        F.col("event_type").isin("click", "purchase")
    ).select("event_id", "ts", "user_id", "event_type")
    work = tempfile.mkdtemp(prefix="ddp_ssfull_gate_")
    try:
        src = os.path.join(work, "src")
        staged.repartition(2).write.parquet(src)
        clicks = _typed_stream(spark, src, staged.schema, "click")
        purchases = _typed_stream(spark, src, staged.schema, "purchase")
        joined = stream_stream_interval_join(
            clicks, purchases, "user_id", within="1 hour", how="full_outer"
        )
        sink = run_available_now_to_memory(
            joined,
            # user_id survives on BOTH null-padded sides now that the
            # join coalesces the key (unmatched purchases used to emit
            # an unattributable NULL key — the r6 review fix)
            lambda d: d.select(
                "user_id",
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
                F.col("r_event_id").alias("purchase_id"),
                F.col("r_ts").alias("purchase_ts"),
            ),
            "s_stream_stream_full_outer_sink",
            os.path.join(work, "ckpt"),
            output_mode="append",
            timeout_sec=600,
            # 8, capped at the session conf — watermark-bounded join
            # state; see s_stream_stream_join's measured rationale
            shuffle_partitions=8,
        )
        return sink.localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)
