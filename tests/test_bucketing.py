"""Bucketed-layout contract: join + groupBy on the bucket key plan ZERO
Exchange nodes, and results equal the shuffled plan's."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark.session import plan_text
from dissertation_data_pipeline_spark.sources.bucketing import (
    read_bucketed,
    write_bucketed,
)
from dissertation_data_pipeline_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _exchange_nodes(plan: str) -> list[str]:
    return [n for _, n in re.findall(r"^\((\d+)\) (\w+)", plan, flags=re.M) if n == "Exchange"]


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_bucketed(
        li, "b_lineitem", str(base / "li"), ["l_orderkey"], 8,
        sort_cols=["l_orderkey"],
    )
    write_bucketed(
        o, "b_orders", str(base / "o"), ["o_orderkey"], 8,
        sort_cols=["o_orderkey"],
    )
    yield read_bucketed(spark, "b_lineitem"), read_bucketed(spark, "b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")


def test_bucketed_join_plans_no_exchange(spark, bucketed):
    li, o = bucketed
    # disable broadcast so the join keys' distribution requirement is real
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        assert _exchange_nodes(plan_text(j)) == [], plan_text(j)
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_bucketed_join_matches_shuffled_join(spark, bucketed):
    li, o = bucketed
    plain_li = load_table(spark, SF_DIR, "lineitem")
    plain_o = load_table(spark, SF_DIR, "orders")
    a = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
    )
    b = (
        plain_li.join(plain_o, plain_li.l_orderkey == plain_o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_bucketed_groupby_on_bucket_key_plans_no_exchange(spark, bucketed):
    li, _ = bucketed
    agg = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    assert _exchange_nodes(plan_text(agg)) == [], plan_text(agg)


def test_partitioned_write_prunes_partitions(spark, tmp_path_factory):
    """Hive-partitioned layout: an equality filter on the partition
    column must become a PartitionFilter (directory pruning), never a
    row-level scan filter — at 100 TB this is the difference between
    reading one directory and reading everything."""
    base = str(tmp_path_factory.mktemp("part") / "events_by_type")
    e = load_table(spark, SF_DIR, "events")
    e.write.mode("overwrite").partitionBy("event_type").parquet(base)
    df = spark.read.parquet(base).filter(F.col("event_type") == "click")
    plan = plan_text(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan
