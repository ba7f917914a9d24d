"""Event-time window operators ([EXT]; SURVEY §2.9).

Each builder takes a plain DataFrame and returns a plain DataFrame, so
it composes identically under batch (oracle-checked) and under
``readStream`` (watermarked). Windows are epoch-aligned (Spark default,
matching ``time_bucket`` semantics in any SQL engine); the session tz
is UTC (session factory), so boundaries are engine-independent.

Scale notes: tumbling/sliding aggs shuffle once on (window, keys) with
map-side partial aggregation; a sliding window with k = size/slide
overlap multiplies rows by k *after* partial aggregation, not before.
Session windows shuffle on the user key; state size in streaming mode
is bounded by the watermark.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.operators.analytics import _dec


def _windowed_agg(
    df: DataFrame,
    window_col: Column,
    keys: Sequence[str],
    value_col: str | None,
    start_alias: str,
    end_alias: str,
) -> DataFrame:
    """Shared body of the three window builders: count (+ exact-decimal
    value sum when ``value_col`` is given) per (window, keys), window
    struct flattened to start/end columns. One place owns the agg
    contract, so the tumbling/sliding/session shapes cannot drift."""
    aggs = [F.count(F.lit(1)).alias("n_events")]
    out_cols = ["n_events"]
    if value_col:
        aggs.append(F.sum(_dec(value_col)).cast("double").alias("total_value"))
        out_cols.append("total_value")
    return (
        df.groupBy(window_col.alias("w"), *keys)
        .agg(*aggs)
        .select(
            F.col("w.start").alias(start_alias),
            F.col("w.end").alias(end_alias),
            *keys,
            *out_cols,
        )
    )


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str] = (),
    value_col: str | None = None,
) -> DataFrame:
    """Tumbling event-time window: count + exact-decimal value sum per
    (window, keys)."""
    return _windowed_agg(
        df, F.window(ts_col, duration), keys, value_col,
        "window_start", "window_end",
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: Sequence[str] = (),
    value_col: str | None = None,
) -> DataFrame:
    """Sliding (hopping) event-time window; each event lands in
    duration/slide windows."""
    return _windowed_agg(
        df, F.window(ts_col, duration, slide), keys, value_col,
        "window_start", "window_end",
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str],
    value_col: str | None = None,
) -> DataFrame:
    """Gap-based session windows per key: events closer than ``gap``
    merge; session end = last event + gap (Spark semantics)."""
    return _windowed_agg(
        df, F.session_window(ts_col, gap), keys, value_col,
        "session_start", "session_end",
    )


def dedup_first_in_window(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Keep the first event per (keys, tumbling window) — the batch
    analog of ``dropDuplicatesWithinWatermark`` with a deterministic
    total order (ts, then ``order_cols``)."""
    w = Window.partitionBy(F.window(ts_col, duration), *keys).orderBy(
        F.col(ts_col).asc(), *[F.col(c).asc() for c in order_cols]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_stream_within_watermark(
    stream: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """True streaming dedup: state-store-backed
    ``dropDuplicatesWithinWatermark`` — keeps the FIRST arrival per key
    and suppresses re-arrivals until the watermark passes the first
    event's time, after which the key's state is evicted (bounded
    state, the property the batch analog ``dedup_first_in_window``
    doesn't need). The input must already carry a watermark
    (``read_events_stream`` applies one)."""
    return stream.dropDuplicatesWithinWatermark(list(keys))
