"""[EXT] Streaming layer (SURVEY §2.9).

The reference has no streaming — only hand-rolled incremental batch
(content-hash change detection, processed-set resumability). This layer
provides the Spark-native surface that design points to:

- ``windows`` — event-time window operators (tumbling / sliding /
  session / in-window dedup) defined on plain DataFrames, so the SAME
  builder serves batch backfill and streaming, and the batch form is
  oracle-checkable.
- ``jobs`` — Structured Streaming wiring: file-source ``readStream``
  with schema + watermark + the window builders + ``Trigger.
  AvailableNow`` (the reference's process-new-files-then-stop
  semantics, SURVEY I2), memory-sink test harness, per-drain
  state-store partition sizing, RocksDB state-store context.
- ``joins`` — watermarked stream-stream interval joins (inner /
  left_outer / full_outer) and stream-static broadcast enrichment.
- ``stateful`` / ``tws`` — the custom per-key running-profile
  operator on both stateful APIs (``applyInPandasWithState`` and
  Spark 4's ``transformWithStateInPandas``), sharing one accumulate
  function.
"""

from dissertation_data_pipeline_spark.streaming.windows import (  # noqa: F401
    tumbling_window_agg,
    sliding_window_agg,
    session_window_agg,
    dedup_first_in_window,
    dedup_stream_within_watermark,
)
from dissertation_data_pipeline_spark.streaming.jobs import (  # noqa: F401
    read_events_stream,
    run_available_now_to_memory,
    run_foreach_batch_upsert,
    rocksdb_state_store,
)
from dissertation_data_pipeline_spark.streaming.joins import (  # noqa: F401
    stream_stream_interval_join,
    stream_static_enrich,
)
from dissertation_data_pipeline_spark.streaming.stateful import (  # noqa: F401
    running_user_profile,
)
from dissertation_data_pipeline_spark.streaming.tws import (  # noqa: F401
    running_user_profile_tws,
)
