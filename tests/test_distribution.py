"""Distribution operator tests: salted join equivalence + spread,
bucketed join without Exchange, partition-pruned reads."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from etl_work_flow_for_big_data_spark.catalog import load_table
from etl_work_flow_for_big_data_spark.operators.distribution import (
    salted_join,
    write_bucketed,
)
from etl_work_flow_for_big_data_spark.sources.registry import SINKS


def test_salted_join_equivalent_and_spread(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = (
        li.join(o, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    salted = (
        salted_join(li, o, "l_orderkey", n_salts=8)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # the salt actually spreads: >1 distinct salt per hot key
    spread = (
        li.withColumn("__salt", (F.rand(seed=42) * 8).cast("int"))
        .groupBy("l_orderkey")
        .agg(F.countDistinct("__salt").alias("s"))
        .agg(F.max("s"))
        .head()[0]
    )
    assert spread > 1


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_b", "l_orderkey", n_buckets=8)
    write_bucketed(
        o.withColumnRenamed("o_orderkey", "l_orderkey"), "o_b", "l_orderkey", 8
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b").join(spark.table("o_b"), "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located: bucketed scan feeds the join with NO Exchange
        assert "Exchange" not in plan
        assert joined.count() > 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "by_type")
    SINKS.write("parquet", ev, path, partition_by=["event_type"])
    back = spark.read.parquet(path).filter(F.col("event_type") == "error")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the predicate lands in PartitionFilters (directory pruning), not
    # a post-scan Filter over all rows
    assert re.search(r"PartitionFilters: \[.*event_type.*\]", plan)
    n_err = back.count()
    n_all = spark.read.parquet(path).count()
    assert 0 < n_err < n_all

def test_salted_join_hot_key_equivalence(spark):
    """Pathological skew: one key holds 90% of the fact. Salting must
    agree with the plain join exactly while spreading the hot key."""
    from pyspark.sql import Row

    hot = [Row(k=1, v=i) for i in range(9000)]
    cold = [Row(k=i % 50 + 2, v=i) for i in range(1000)]
    fact = spark.createDataFrame(hot + cold)
    dim = spark.createDataFrame([Row(k=i, name=f"d{i}") for i in range(1, 52)])
    plain = (
        fact.join(dim, "k").groupBy("name").count().collect()
    )
    salted = (
        salted_join(fact, dim, "k", n_salts=8).groupBy("name").count().collect()
    )
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))
    # the hot key's rows really spread across salts
    spread = (
        fact.filter(F.col("k") == 1)
        .withColumn("__salt", (F.rand(seed=42) * 8).cast("int"))
        .select("__salt")
        .distinct()
        .count()
    )
    assert spread == 8
