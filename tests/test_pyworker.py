"""Python workers under the engine's daemon (``pyworker_daemon``).

- Workers import pyspark from outside Spark's archives, and the daemon's
  path choice falls back to ``sys.path`` as found on a version mismatch.
- Workers resolve the engine from any driver cwd.
- Every Arrow eval type gives the frame plain pandas gives
  (``assert_frame_equal``) on one frame of mixed types with nulls.
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys
import textwrap
import zipfile
from collections.abc import Iterator
from decimal import Decimal

import pandas as pd
import pyspark
import pytest
from pandas.testing import assert_frame_equal
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DecimalType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from dissertation_data_pipeline_spark.pyworker_daemon import worker_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- where workers import pyspark from ---------------------------------------


def test_worker_imports_pyspark_outside_spark_archives(spark):
    def probe(batches):
        import pyspark  # the worker's own

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "file": [pyspark.__file__],
                "version": [pyspark.__version__],
                "home": [os.path.realpath(os.environ["SPARK_HOME"])],
                "path": [json.dumps(sys.path)],
            }
        )

    rows = (
        spark.range(0, 4, 1, 4)
        .mapInPandas(probe, "file string, version string, home string, path string")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert ".zip" not in r.file and ".jar" not in r.file, r.file
        assert os.path.isfile(r.file)
        assert r.version == pyspark.__version__
        home = os.path.join(r.home, "")
        archives = [
            p for p in json.loads(r.path)
            if os.path.isfile(p) and os.path.realpath(p).startswith(home)
        ]
        assert archives == []


def _spark_home(root, version: str) -> str:
    home = root / "spark"
    (home / "python" / "lib").mkdir(parents=True)
    with zipfile.ZipFile(home / "python" / "lib" / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", version)
    (home / "jars").mkdir()
    (home / "jars" / "spark-core.jar").write_bytes(b"PK")
    return str(home)


def _site(root, version: str) -> str:
    pkg = root / "site" / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(version)
    return str(root / "site")


def _archives(home: str) -> list[str]:
    return [
        os.path.join(home, "python", "lib", "pyspark.zip"),
        os.path.join(home, "jars", "spark-core.jar"),
    ]


def test_daemon_path_drops_spark_archives_when_versions_match(tmp_path):
    home = _spark_home(tmp_path, '__version__ = "4.1.2"\n')
    site = _site(tmp_path, '__version__ = "4.1.2"\n')
    path = [str(tmp_path), *_archives(home), site]
    assert worker_path(path, home) == [str(tmp_path), site]


def test_daemon_path_left_as_found_on_version_mismatch(tmp_path):
    home = _spark_home(tmp_path, '__version__ = "4.1.2"\n')
    site = _site(tmp_path, '__version__ = "4.0.0"\n')
    path = [str(tmp_path), *_archives(home), site]
    before = list(path)
    assert worker_path(path, home) is path
    assert path == before


def test_daemon_path_left_as_found_without_pyspark_or_spark_home(tmp_path):
    home = _spark_home(tmp_path, '__version__ = "4.1.2"\n')
    path = [str(tmp_path), *_archives(home)]
    assert worker_path(path, home) is path
    assert worker_path(path, None) is path


# -- workers resolve the engine from any cwd ---------------------------------


def test_workers_import_engine_from_foreign_cwd(tmp_path):
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_EXTRA_CONF")
    }
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    code = f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql.functions import pandas_udf
        from dissertation_data_pipeline_spark.session import get_spark

        spark = get_spark("foreign-cwd")

        @pandas_udf("string")
        def home(s):
            import dissertation_data_pipeline_spark.schemas as m
            return s.map(lambda _: m.__name__)

        print(spark.range(2).select(home("id").alias("m")).collect()[0].m)
        spark.stop()
        """
    r = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert r.stdout.strip().endswith("dissertation_data_pipeline_spark.schemas")


# -- eval-type parity ---------------------------------------------------------
# Every UDF below is defined inside its test: cloudpickle ships a nested
# function by value, while a module-level one in this file would be
# pickled by reference to a test module that workers cannot import.

SCHEMA = StructType(
    [
        StructField("k", LongType()),
        StructField("id", LongType()),
        StructField("v", LongType()),
        StructField("d", DoubleType()),
        StructField("dec", DecimalType(18, 2)),
        StructField("s", StringType()),
        StructField("b", BinaryType()),
        StructField("ts", TimestampType()),
    ]
)
VALUE_COLS = ["v", "d", "dec", "s", "b", "ts"]
COUNTED = StructType([*SCHEMA.fields, StructField("n", LongType())])


def _row(i: int):
    null = i % 4 == 3
    return (
        i % 3,
        i,
        None if null else i * 1_000_000_007,
        None if null else i / 7,
        None if null else Decimal(i * 37) / 100,
        None if null else f"s{i:02d}-é",
        None if null else bytes([i, 255 - i, 0]),
        None
        if null
        else datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=i, microseconds=i),
    )


@pytest.fixture(scope="module")
def typed(spark):
    df = spark.createDataFrame([_row(i) for i in range(24)], SCHEMA).repartition(3)
    return df, df.toPandas()


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["k", "id"]).reset_index(drop=True)


def _per_group(pdf: pd.DataFrame, fn) -> pd.DataFrame:
    return pd.concat([fn(g) for _, g in pdf.groupby("k")])


def test_scalar_pandas_udf_matches_pandas(typed):
    df, pdf = typed

    def same(s: pd.Series) -> pd.Series:
        return s

    def shift(s: pd.Series) -> pd.Series:
        return s + 1

    out = df.select(
        "k",
        "id",
        *[pandas_udf(same, SCHEMA[c].dataType)(c).alias(c) for c in VALUE_COLS],
        pandas_udf(shift, "double")("d").alias("d1"),
    )
    expected = pdf.assign(d1=shift(pdf.d))
    assert_frame_equal(_sorted(out.toPandas()), _sorted(expected))


def test_iterator_pandas_udf_matches_pandas(typed):
    df, pdf = typed

    def same(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        yield from batches

    def upper(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            yield s.str.upper()

    out = df.select(
        "k",
        "id",
        *[pandas_udf(same, SCHEMA[c].dataType)(c).alias(c) for c in VALUE_COLS],
        pandas_udf(upper, "string")("s").alias("su"),
    )
    expected = pdf.assign(su=next(upper(iter([pdf.s]))))
    assert_frame_equal(_sorted(out.toPandas()), _sorted(expected))


def test_grouped_agg_pandas_udf_matches_pandas(typed):
    df, pdf = typed

    def nonnull(s: pd.Series) -> int:
        return int(s.notna().sum())

    def total(s: pd.Series) -> float:
        return float(s.sum())

    def top(s: pd.Series) -> str:
        return max(s.dropna())

    out = df.groupBy("k").agg(
        *[pandas_udf(nonnull, "long")(c).alias(f"n_{c}") for c in VALUE_COLS],
        pandas_udf(total, "double")("d").alias("d_sum"),
        pandas_udf(top, "string")("s").alias("s_max"),
    )
    g = pdf.groupby("k")
    expected = pd.DataFrame(
        {
            **{f"n_{c}": g[c].agg(nonnull) for c in VALUE_COLS},
            "d_sum": g.d.agg(total),
            "s_max": g.s.agg(top),
        }
    ).reset_index()
    assert_frame_equal(out.orderBy("k").toPandas(), expected)


def test_apply_in_pandas_matches_pandas(typed):
    df, pdf = typed

    def count(g: pd.DataFrame) -> pd.DataFrame:
        return g.assign(n=len(g), d=g.d * 2)

    out = df.groupBy("k").applyInPandas(count, COUNTED)
    assert_frame_equal(_sorted(out.toPandas()), _sorted(_per_group(pdf, count)))


def test_cogrouped_apply_in_pandas_matches_pandas(typed):
    df, pdf = typed
    right = df.where(F.col("id") % 2 == 0).select("k", "id")

    def join(left: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        return left.assign(n=len(r), d=left.d * 2)

    out = df.groupBy("k").cogroup(right.groupBy("k")).applyInPandas(join, COUNTED)
    rpdf = pdf[pdf.id % 2 == 0][["k", "id"]]
    expected = pd.concat([join(g, rpdf[rpdf.k == k]) for k, g in pdf.groupby("k")])
    assert_frame_equal(_sorted(out.toPandas()), _sorted(expected))


def test_map_in_pandas_matches_pandas(typed):
    df, pdf = typed

    def tag(batches):
        for b in batches:
            yield b.assign(n=1, d=b.d * 2)

    out = df.mapInPandas(tag, COUNTED)
    expected = pd.concat(list(tag(iter([pdf]))))
    assert_frame_equal(_sorted(out.toPandas()), _sorted(expected))


def test_apply_in_pandas_with_state_matches_pandas(spark, typed, tmp_path):
    """A streaming-only operator: the frame is staged as files and drained
    in one AvailableNow batch, so each key's function runs once."""
    from dissertation_data_pipeline_spark.streaming.jobs import run_available_now_to_memory

    df, pdf = typed
    df.write.parquet(str(tmp_path / "src"))

    def count(g: pd.DataFrame) -> pd.DataFrame:
        return g.assign(n=len(g), d=g.d * 2)

    def counted(key, batches, state):
        whole = pd.concat(list(batches))
        state.update((len(whole),))
        yield count(whole)

    out = run_available_now_to_memory(
        spark.readStream.schema(SCHEMA).parquet(str(tmp_path / "src")),
        lambda s: s.groupBy("k").applyInPandasWithState(
            counted, COUNTED, "n long", "append", GroupStateTimeout.NoTimeout
        ),
        "pyworker_with_state",
        str(tmp_path / "ckpt"),
    )
    assert_frame_equal(_sorted(out.toPandas()), _sorted(_per_group(pdf, count)))
