"""Structured Streaming wiring ([EXT]; SURVEY §2.9 I1-I5 analog).

The reference's incremental batch loop — "list new datasets, skip ones
already processed, process the rest, remember them" — is exactly what a
file-source stream with ``Trigger.AvailableNow`` and a checkpoint
directory does natively: source offsets replace the processed-set JSON
(utils.py:14-53 in the reference), and the checkpoint replaces the
periodic cache flush (legiscan_enricher.py:553-555).
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_events_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    fmt: str = "parquet",
    watermark_col: str = "ts",
    watermark_delay: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream with an explicit schema (no inference in
    production paths — SURVEY §1.3) and an event-time watermark bounding
    state for windowed aggregations and stream dedup."""
    reader = spark.readStream.format(fmt).schema(schema)
    # `is not None`, not truthiness: an explicit 0 must reach Spark
    # (which rejects it loudly) rather than silently collapse the
    # drain into one micro-batch — cross-batch state tests depend on
    # the multi-batch split actually happening
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path).withWatermark(watermark_col, watermark_delay)


@contextmanager
def patched_sql_confs(spark: SparkSession, confs: dict[str, str]):
    """Temporarily set runtime SQL confs, restoring previous values
    (or unsetting ones that had no value) on exit, also when the body
    raises — a failed drain must not leave the session reconfigured for
    every later query."""
    prev: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                try:
                    spark.conf.unset(k)
                except Exception:
                    pass
            else:
                spark.conf.set(k, old)


def run_available_now_to_memory(
    stream_df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    query_name: str,
    checkpoint_dir: str,
    *,
    output_mode: str = "append",
    timeout_sec: int = 120,
    shuffle_partitions: int | None = None,
    no_data_batches: bool = True,
) -> DataFrame:
    """Run ``transform(stream)`` over all currently-available input
    (Trigger.AvailableNow — the reference's batch-over-new-files
    semantics), sink to an in-memory table, block until done, and
    return the result as a DataFrame. Raises TimeoutError if the
    backlog doesn't drain within ``timeout_sec`` — returning the
    half-populated table would hand the caller silently truncated
    results.

    ``shuffle_partitions`` (opt-in) patches the state-store partition
    count for this drain only.  A stateful streaming query creates ONE
    state store per shuffle partition per stateful operator,
    re-materialized every micro-batch — so a bounded drain at the
    session default (32) pays 32 state-store tasks per operator per
    batch even when each batch carries a few thousand rows.  The count
    is baked into the checkpoint at first start, so patching it around
    ``.start()`` is both safe (fresh checkpoint per run) and complete
    (later batches reuse the baked count).  Results are partition-count
    independent — the registry's oracle rows pin that.  Production
    streams on a real cluster should instead size this to cores × state
    volume.

    ``no_data_batches=False`` (opt-in) skips the trailing empty
    micro-batch the engine otherwise runs for eager state management
    (``spark.sql.streaming.noDataMicroBatches.enabled``).  Every batch
    of that final empty cycle still loads and commits one state store
    per partition per stateful operator (measured: 7.7 s of executor
    time on the RocksDB TWS drain at sf0.1) while EMITTING nothing for
    operators whose output is driven by input rows: inner stream-stream
    joins (matches emit eagerly) and update-mode stateful operators
    without timers.  Callers whose OUTPUT depends on the final
    watermark flush — outer joins null-padding expired rows — must keep
    the default True; flipping it there drops result rows."""
    spark = stream_df.sparkSession
    confs: dict[str, str] = {}
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if not no_data_batches:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    with patched_sql_confs(spark, confs):
        out = transform(stream_df)
        query = (
            out.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        finished = query.awaitTermination(timeout_sec)
        if not finished:
            query.stop()
            raise TimeoutError(
                f"streaming query {query_name!r} did not drain its "
                f"AvailableNow backlog within {timeout_sec}s"
            )
    return spark.table(query_name)


def run_foreach_batch_upsert(
    stream_df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    state,  # sources.state.StateTable
    checkpoint_dir: str,
    *,
    timeout_sec: int = 120,
):
    """Stream -> keyed-state merge sink: every micro-batch is upserted
    into a ``StateTable`` by key via ``foreachBatch`` — the streaming
    MERGE INTO pattern (Delta/Iceberg ``whenMatchedUpdate`` reduced to
    the engine's snapshot-swap parquet state).

    Semantics: within the stream, later micro-batches win per key;
    within one batch, ``StateTable.upsert``'s deterministic tiebreak
    applies. Combined with the checkpoint, the sink is effectively
    idempotent under retries for AvailableNow runs: a replayed batch
    re-upserts the same rows to the same keys (last-writer-wins on
    identical data is a no-op).

    At 100 TB the per-batch work is one join-shaped merge keyed on the
    state key — the same shuffle class as the batch upsert — and state
    snapshots would be a transactional table format; the control flow
    (foreachBatch + checkpoint) is identical.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        state.upsert(transform(batch_df))

    query = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    finished = query.awaitTermination(timeout_sec)
    if not finished:
        query.stop()
        raise TimeoutError(
            f"foreachBatch upsert did not drain its AvailableNow "
            f"backlog within {timeout_sec}s — state holds a PARTIAL "
            f"prefix of the stream"
        )
    return state.read()


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


@contextmanager
def rocksdb_state_store(spark: SparkSession):
    """Run streaming queries under the RocksDB state store provider —
    the 100 TB state backend: per-key state lives off-heap/on-disk in
    per-partition RocksDB instances with incremental checkpointing,
    so store size is bounded by disk, not executor heap (the default
    HDFSBackedStateStoreProvider keeps every key in an in-memory map,
    which caps stateful operators at heap size). Results are
    provider-independent (pinned by test); only the storage engine
    changes. Restores the previous provider on exit, so test sessions
    are not left reconfigured."""
    key = "spark.sql.streaming.stateStore.providerClass"
    with patched_sql_confs(spark, {key: ROCKSDB_PROVIDER}):
        yield spark
