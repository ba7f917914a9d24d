"""dissertation_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference pipeline
``sheaswauger/dissertation-data-pipeline`` (a single-machine pandas ETL
corpus builder, surveyed in SURVEY.md) as an idiomatic Spark DataFrame /
Spark SQL engine, extended with the large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal plumbing,
streaming) that a 100 TB deployment needs.

Layers
------
- ``session``    — SparkSession factory tuned for scale (AQE, Arrow, UTC).
- ``pyworker_daemon`` — Python-worker entry point that drops Spark's
                   archives from the worker's ``sys.path``.
- ``schemas``    — fixed StructType contracts + ``conform`` (SURVEY §1.3).
- ``functions``  — scalar expression library (SURVEY §2.8): every reference
                   scalar as a pure ``Column -> Column`` builder, no UDFs.
- ``operators``  — composite relational/dedup/similarity/text operators
                   (SURVEY §2.2-§2.7 + [EXT]).
- ``sources``    — readers/sinks + incremental-state tables (SURVEY §2.1, §2.9).
- ``plans``      — the reference's five entry-point pipelines as composable
                   DataFrame functions (SURVEY §3).
- ``streaming``  — Structured Streaming layer ([EXT], SURVEY §2.9).
"""

__version__ = "0.1.0"


def __getattr__(name):
    # Lazy (PEP 562): ``python -m dissertation_data_pipeline_spark.
    # pyworker_daemon`` runs this file first, and must import no pyspark
    # before it has chosen the worker's sys.path.
    if name == "get_spark":
        from dissertation_data_pipeline_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
