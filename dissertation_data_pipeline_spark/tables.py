"""Testdata table loaders (TESTDATA.md).

The driver generates a TPC-H-ish star schema + ``events``/``documents``/
``embeddings`` at /root/testdata/sf{0.001,0.01,0.1}. Tables are read with
their parquet-embedded schemas (deterministic, driver-generated); the
engine's schema-contract machinery (``schemas.conform``) is exercised by
the pipeline-level fixtures, not these scans.

A schema is inferred once per file per session, not once per load: see
``_read_parquet``.
"""

from __future__ import annotations

import os
import re
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Conf prefixes Spark 4.1's ``ParquetToSparkSchemaConverter`` reads when
#: it turns a footer into a Spark schema (binaryAsString, int96AsTimestamp,
#: inferTimestampNTZ, nanosAsLong, shredded-variant reads, ...).
_SCHEMA_CONF_PREFIXES = (
    "spark.sql.parquet.",
    "spark.sql.legacy.parquet.",
    "spark.sql.variant.",
    "spark.sql.caseSensitive",
)

#: session -> {(file identity, schema confs): inferred schema}
_SCHEMAS: weakref.WeakKeyDictionary[SparkSession, dict[tuple, StructType]] = (
    weakref.WeakKeyDictionary()
)


def _schema_confs(spark: SparkSession) -> tuple[str, ...]:
    """The session's set schema-affecting confs as sorted ``key=value``
    strings.

    One py4j round trip: the Java conf map's ``toString``, ``{k=v, k=v}``,
    is what ``spark.conf.getAll`` reads, but ``getAll`` iterates the map
    in two round trips per entry (about 35 ms for a session's ~30 set
    confs, more than the schema-passing read itself).  Conf keys hold no
    ``=`` or ``", "``; a value holding ``", k="`` would split there, but
    the schema confs take booleans, enums and numbers.
    """
    text = spark.conf._jconf.getAllAsJava().toString()[1:-1]  # noqa: SLF001
    return tuple(
        sorted(
            e
            for e in re.split(r", (?=[^\s=,]+=)", text)
            if e.startswith(_SCHEMA_CONF_PREFIXES)
        )
    )


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring a regular file's schema
    only on its first read in this session.

    Without a schema the reader runs a ``mergeSchemasInParallel`` job on
    every call, even for one file (about 80 ms warm); with one it starts
    no job.  Later reads of the same file under the same schema-affecting
    confs pass the schema they inferred, but still build a fresh relation,
    so the file is listed and its stats read on every call.  The file's
    identity is its resolved path, device, inode, size and mtime, so a
    rewrite at the same path is inferred afresh.  Directories (Spark-
    written ``name.parquet``) and paths ``os.stat`` cannot see (remote
    URIs) are inferred on every read, as before.
    """
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        os.path.realpath(path),
        st.st_dev,
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        _schema_confs(spark),
    )
    schemas = _SCHEMAS.setdefault(spark, {})
    schema = schemas.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        schemas[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # the caller may hand us a foreign session (the driver harness does);
    # pin the confs query correctness depends on — tz-naive parquet
    # timestamps must be read in UTC to match the oracle engine
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts has shipped as TIMESTAMP(NANOS), nanos-as-INT64, and
        # plain TIMESTAMP(MICROS) across testdata generations. Normalize
        # from the observed schema (no session-conf mutation) so every
        # downstream query sees a micro-precision session-tz TIMESTAMP —
        # the same thing the DuckDB oracle observes.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampType

        df = _read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        t = df.schema["ts"].dataType
        if isinstance(t, LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if not isinstance(t, TimestampType):  # TIMESTAMP_NTZ → session-tz (UTC)
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views so ``spark.sql`` queries work."""
    for n in TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
