"""``load_table``'s schema resolution: a table file's parquet schema is
inferred once per session, and every later load of the unchanged file
passes it to the reader, which then starts no schema-inference job."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dissertation_data_pipeline_spark.streaming.jobs import patched_sql_confs
from dissertation_data_pipeline_spark.tables import TABLE_NAMES, load_table


def _job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _same_rows(a, b) -> bool:
    return a.count() == b.count() and a.exceptAll(b).isEmpty()


@pytest.mark.parametrize("name", [n for n in TABLE_NAMES if n != "events"])
def test_second_load_starts_no_job(spark, sf_dir, tmp_path, name):
    # a fresh copy, so the first load below is this file's first read
    shutil.copy(os.path.join(sf_dir, f"{name}.parquet"), tmp_path)
    load_table(spark, str(tmp_path), name)
    before = _job_ids(spark)
    df = load_table(spark, str(tmp_path), name)
    assert _job_ids(spark) - before == set()
    plain = spark.read.parquet(str(tmp_path / f"{name}.parquet"))
    assert df.schema == plain.schema
    assert _same_rows(df, plain)


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1, 2], "r_name": ["a", "b", "c"]}), path
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, "a"), (1, "b"), (2, "c")]


def test_schema_conf_change_is_inferred_again(spark, tmp_path):
    pq.write_table(
        pa.table({"doc_id": [1], "raw": pa.array([b"text"], pa.binary())}),
        str(tmp_path / "documents.parquet"),
    )
    df = load_table(spark, str(tmp_path), "documents")
    assert df.schema["raw"].dataType.simpleString() == "binary"
    with patched_sql_confs(spark, {"spark.sql.parquet.binaryAsString": "true"}):
        df = load_table(spark, str(tmp_path), "documents")
        assert df.schema["raw"].dataType.simpleString() == "string"
        assert df.collect()[0]["raw"] == "text"
    df = load_table(spark, str(tmp_path), "documents")
    assert df.schema["raw"].dataType.simpleString() == "binary"


def test_spark_written_directory_loads(spark, tmp_path):
    path = str(tmp_path / "nation.parquet")
    spark.createDataFrame([(0, "x")], "n_nationkey long, n_name string").write.parquet(
        path
    )
    assert load_table(spark, str(tmp_path), "nation").collect() == [(0, "x")]
    # directories are inferred on every load, so a rewrite is seen
    spark.createDataFrame(
        [(1, "y", 7)], "n_nationkey long, n_name string, n_regionkey long"
    ).write.mode("overwrite").parquet(path)
    df = load_table(spark, str(tmp_path), "nation")
    assert df.columns == ["n_nationkey", "n_name", "n_regionkey"]
    assert df.collect() == [(1, "y", 7)]
