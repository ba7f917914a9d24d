"""SparkSession factory.

The reference is a single-process pandas pipeline (SURVEY §4.2) with no
session concept; this module is the engine's single place where execution
configuration lives. Defaults are chosen for correctness-at-scale:

- **AQE on** (adaptive joins, shuffle coalescing, skew-join splitting) —
  replaces every hand optimization in SURVEY §4.1 that Catalyst doesn't
  already do statically.
- **Arrow on** — all pandas-UDF / ``mapInPandas`` exchange is Arrow-batched;
  row-at-a-time Python is never the hot path.
- **UTC session timezone** — parquet timestamps compare identically across
  engines (the DuckDB oracle reads the same files tz-naive).
- **shuffle.partitions** defaults to the local core count for tests; on a
  real cluster this is expected to be overridden (``spark.sql.shuffle.
  partitions ≈ 2-3× total cores``, or left to AQE's coalescing with a high
  initial count).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Confs applied to every session the engine creates.  Each is safe to set
#: on a real cluster; none are local-mode hacks.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Files: 128 MiB split targets keep scan partitions executor-sized at
    # any SF; openCostInBytes biases toward packing small files together.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Broadcast threshold: generous 64 MiB — every dimension table in the
    # star schema (region/nation/customer/supplier/part at test SFs, the
    # 51-row state dim in the reference's domain) broadcasts.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet: pushdown + column pruning are on by default; keep dictionary
    # filtering on for point-lookup-ish predicates.
    "spark.sql.parquet.filterPushdown": "true",
    # Runtime row-level filtering: when a selective dim/filtered side joins a
    # big fact on a non-partition key, inject a bloom filter built from the
    # small side into the fact scan — rows that can't join die at the scan,
    # before the shuffle. Size thresholds keep it scale-triggered (big scans
    # only); test_plans.py::test_runtime_bloom_filter_injects demonstrates
    # the plan shape with thresholds lowered to local-data sizes.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Timestamps without timezone: read as TIMESTAMP (session tz = UTC) so
    # date arithmetic matches the DuckDB oracle's naive timestamps.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Shuffle writer: always the sort-based path (one output file per
    # map task), never the bypass-merge writer (one file PER REDUCE
    # PARTITION per map task, then an mmap-concat pass plus a shared
    # IndexShuffleBlockResolver lock).  Production shuffles run with
    # hundreds-to-thousands of reduce partitions, above the bypass
    # threshold (200), so the sort writer is what a cluster executes
    # anyway; locally the bypass path turns every byte-small exchange
    # into a 32-files-per-task small-file storm (thread dumps during
    # the r10 profile showed all 32 executor threads in bypass-writer
    # file I/O).  Measured: uniform ~8-10% across a 10-query mix, no
    # regressions.  Core conf — takes effect at session creation.
    "spark.shuffle.sort.bypassMergeThreshold": "1",
}


def default_parallelism() -> int:
    """Local test parallelism: ``$SPARK_GRAFT_CPUS`` or machine cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "dissertation-data-pipeline-spark",
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's configuration.

    If a session already exists (e.g. the driver passed one in), its
    mutable confs are aligned instead of building a new one — the engine
    never fights the host environment over the master URL.
    """
    cores = default_parallelism()
    conf = dict(ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cores)
    if extra_conf:
        conf.update(extra_conf)
    # $SPARK_GRAFT_EXTRA_CONF: semicolon-separated k=v pairs applied
    # last — lets the sweep harnesses flip a conf (ANSI mode, codegen
    # off, …) across a full registry run without code edits.
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in pair:
            k, _, v = pair.partition("=")
            conf[k.strip()] = v.strip()

    active = SparkSession.getActiveSession()
    if active is not None:
        for k, v in conf.items():
            try:
                active.conf.set(k, v)
            except Exception:
                pass  # static conf on a running session — keep its value
        return active

    # $SPARK_GRAFT_MASTER overrides the master URL — the multi-process
    # sweep (tools/run_query.py, check_correctness.py, bench.py under
    # e.g. local-cluster[2,16,4096]) exercises REAL separate executor
    # JVMs + Python workers, which single-JVM local[n] structurally
    # cannot (closure capture, worker-side imports, executor broadcast
    # memory).
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    # Python workers start through pyworker_daemon, which drops Spark's
    # archives from their sys.path (DESIGN §14).  The checkout goes on
    # their PYTHONPATH for every master, so that module and the engine
    # resolve in workers whatever the driver's cwd.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.pathsep.join(p for p in (repo_root, os.environ.get("PYTHONPATH")) if p)
    builder = builder.config(
        "spark.python.daemon.module", "dissertation_data_pipeline_spark.pyworker_daemon"
    ).config("spark.executorEnv.PYTHONPATH", pypath)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def drop_blocks(spark: SparkSession) -> None:
    """Unpersist every cached relation and persistent RDD (including
    localCheckpoint blocks), and drop leftover temp views. Multi-query
    harnesses (bench.py, tools/check_correctness.py) call this between
    queries so blocks don't accumulate across hundreds of executions
    in one shared local-mode JVM.

    The temp-view sweep is the memory-sink fix: each streaming gate
    row drains to a ``format("memory")`` sink whose rows live in the
    DRIVER heap behind a temp view, and nothing dropped those views —
    across a warmup pass plus timed passes the driver filled until
    legitimate broadcast builds failed with "Not enough memory to
    build and broadcast" (round-8 BENCH_SCALE sf10, diagnosed as a
    planner problem first — it wasn't; the plans were right)."""
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()  # noqa: SLF001
    while it.hasNext():
        it.next()._2().unpersist(True)


def pin_spread(df, *cols):
    """The pair-generating repartition, pinned: ``df.repartition(
    pinned_partitions(df), *cols)``.  Every output-exploding join in
    the engine spreads through this one helper, so the deliberate
    AQE-coalescing defeat (see :func:`pinned_partitions`) lives in one
    place."""
    return df.repartition(pinned_partitions(df), *cols)


def plan_size_bytes(df) -> int | None:
    """Catalyst's planning-time ``sizeInBytes`` estimate of ``df`` —
    exact file bytes for a parquet scan, scaled by row width through a
    projection.  Starts no job; None when the plan offers no
    statistics."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())  # noqa: SLF001
        )
    except Exception:
        return None


def spread_small_scan(df) -> DataFrame:
    """Round-robin to full parallelism when the input is too small to
    scan as ``defaultParallelism`` tasks (a single-row-group parquet
    file scans as ONE task — any per-row-heavy projection after it
    would run serially).  No-op when the input is already big enough,
    so at cluster scale — where inputs arrive in thousands of
    partitions — this adds no shuffle.

    The probe is planning-time Catalyst statistics (``sizeInBytes`` is
    exact file bytes for a parquet scan) against the session's scan
    split target — zero jobs, zero RDD materialization.  The previous
    form (``df.rdd.getNumPartitions()``) physically planned the
    subtree a second time per call (r9 verdict item 4).

    Call this on the NARROWEST projection that still carries every
    column the consumer needs: the repartition shuffles whole rows, so
    spreading a full-width scan to parallelize a projection that then
    contracts costs more than the serial projection did (measured:
    ext_corr_matrix 0.64x when spread before its 15-long contraction
    — the r9 regression this signature exists to prevent).

    Lives in session.py beside the other result-invariant execution
    helpers, which operators and plans both import."""
    sc = df.sparkSession.sparkContext
    size = plan_size_bytes(df)
    if size is None:
        return df
    max_split = int(
        df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)
        )
    )
    if size < sc.defaultParallelism * max_split:
        return df.repartition(sc.defaultParallelism)
    return df


def pinned_partitions(df) -> int:
    """Partition count for EXPLICIT repartitions at pair-generating
    joins.  ``df.repartition(cols)`` without a count is subject to
    AQE's input-byte-based coalescing, which collapses small-input /
    output-exploding stages (candidate-pair self-joins, containment
    joins) to a handful of tasks and serializes the pair explosion —
    the shuffle INPUT is tiny, the join OUTPUT is 100x it, and AQE
    only sees the input (measured: 479 s -> 2 s on the sf1 interval
    join, 34 s -> 8 s on sf1 fuzzy pairs).  An explicit count is
    exempt from coalescing.  Reads the session's shuffle-partition
    conf, so cluster deployments scale every site with one setting."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))

