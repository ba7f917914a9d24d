#!/usr/bin/env python3
"""Streaming throughput bench: rows/sec through the streaming layer.

The query bench (bench.py) and the scale bench (tools/bench_scale.py)
measure the batch surface; this runner puts a number on the Structured
Streaming path — events staged as an N-file directory, drained with
``Trigger.AvailableNow`` over bounded micro-batches
(``maxFilesPerTrigger``), through each streaming operator family:

- ``tumbling_agg``      — watermark + tumbling window agg (append)
- ``sliding_agg``       — hopping window agg (update)
- ``window_dedup``      — state-store dropDuplicatesWithinWatermark
- ``stateful_profile``  — applyInPandasWithState running profiles
- ``static_enrich``     — stream-static broadcast join

Throughput = source rows / wall-clock from ``start()`` to backlog
drained. That includes micro-batch planning overhead — deliberately:
at 100 TB the per-batch fixed cost is what separates a streaming
pipeline that keeps up from one that falls behind, so it belongs in
the measured number. Rows/sec here is a single-host local[32] figure;
the trend across SFs (state growth, batch count held constant) is the
signal, as with bench_scale.py.

Usage:
    python tools/bench_streaming.py OUT.json SF_DIR [N_FILES]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dissertation_data_pipeline_spark.session import get_spark  # noqa: E402
from dissertation_data_pipeline_spark.streaming.jobs import (  # noqa: E402
    read_events_stream,
    run_available_now_to_memory,
)
from dissertation_data_pipeline_spark.streaming.joins import (  # noqa: E402
    stream_static_enrich,
)
from dissertation_data_pipeline_spark.streaming.stateful import (  # noqa: E402
    running_user_profile,
)
from dissertation_data_pipeline_spark.streaming.windows import (  # noqa: E402
    dedup_stream_within_watermark,
    sliding_window_agg,
    tumbling_window_agg,
)
from dissertation_data_pipeline_spark.tables import load_table  # noqa: E402

DRAIN_TIMEOUT_S = 1800


def _drain(stream, transform, output_mode, name, ckpt_root):
    """Drain transform(stream) into a memory sink with AvailableNow and
    return the wall seconds until the backlog is drained."""
    t0 = time.perf_counter()
    run_available_now_to_memory(
        stream,
        transform,
        name,
        os.path.join(ckpt_root, name),
        output_mode=output_mode,
        timeout_sec=DRAIN_TIMEOUT_S,
    )
    return time.perf_counter() - t0


def main() -> None:
    out_path = sys.argv[1]
    sf_dir = sys.argv[2]
    n_files = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    sf_tag = os.path.basename(sf_dir.rstrip("/"))

    spark = get_spark("ddp-bench-streaming")
    spark.sparkContext.setLogLevel("ERROR")

    events = load_table(spark, sf_dir, "events")
    n_rows = events.count()
    work = tempfile.mkdtemp(prefix="ddp_stream_bench_")
    src = os.path.join(work, "src")
    # N files -> ceil(N / maxFilesPerTrigger) micro-batches: batch
    # count is pinned by layout, not by input size, so cross-SF runs
    # compare like-for-like per-batch state growth.
    events.repartition(n_files).write.parquet(src)

    dim = (
        events.select("event_type")
        .distinct()
        .withColumn("type_tag", F.upper("event_type"))
    )

    def stream():
        return read_events_stream(
            spark,
            src,
            events.schema,
            watermark_delay="2 hours",
            max_files_per_trigger=max(1, n_files // 8),
        )

    jobs = {
        "tumbling_agg": (
            lambda df: tumbling_window_agg(
                df, "ts", "1 hour", ["event_type"], "value"
            ),
            "append",
        ),
        "sliding_agg": (
            lambda df: sliding_window_agg(
                df, "ts", "1 hour", "15 minutes", ["event_type"], "value"
            ),
            "update",
        ),
        "window_dedup": (
            lambda df: dedup_stream_within_watermark(
                df, ["user_id", "event_type"]
            ),
            "append",
        ),
        # evict=False: under Trigger.AvailableNow a ProcessingTimeTimeout
        # keeps shouldRunAnotherBatch true and the drain spins empty
        # state-cleanup batches until the timeout — same rule as the
        # gate query and tests (streaming/stateful.py docstring).
        "stateful_profile": (
            lambda df: running_user_profile(df, evict=False),
            "update",
        ),
        "static_enrich": (
            lambda df: stream_static_enrich(df, dim, "event_type"),
            "append",
        ),
    }

    # try/finally: a job timeout or failure must not lose the timings
    # already collected nor leak the staged directory — write partial
    # results with a per-job error marker, clean up, then re-raise.
    result: dict[str, dict[str, object]] = {}
    try:
        for name, (transform, mode) in jobs.items():
            try:
                wall = _drain(stream(), transform, mode, f"b_{name}", work)
            except Exception as exc:
                result[name] = {"error": f"{type(exc).__name__}: {exc}"}
                raise
            result[name] = {
                "wall_s": round(wall, 3),
                "rows_per_s": round(n_rows / wall, 1),
            }
            print(f"{sf_tag} {name}: {wall:.2f}s "
                  f"({n_rows / wall:,.0f} rows/s)", flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with open(out_path, "w") as fh:
            json.dump(
                {
                    "sf": sf_tag,
                    "input_rows": n_rows,
                    "n_files": n_files,
                    "jobs": result,
                },
                fh,
                indent=1,
            )
        print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
