"""Focused pins for the scan fan-out primitive: spread() must
repartition an under-parallel source and be an exact no-op (same plan,
no exchange) on an already-parallel source — the property that keeps it
scale-adaptive rather than a local[N] tune."""

from __future__ import annotations

from pyspark.sql import functions as F

from serialization_agents_spark.parallel import spread


def test_spread_fans_out_underparallel_input(spark):
    df = spark.range(0, 1000, 1, 1).select(F.col("id"))
    out = spread(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # row set unchanged
    assert out.count() == 1000
    assert out.agg(F.sum("id")).collect()[0][0] == 499500


def test_spread_is_noop_on_parallel_input(spark):
    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, n * 2)
    out = spread(df)
    # no exchange added: the returned frame IS the input frame
    assert out is df


def test_spread_is_noop_on_multi_file_parquet(spark, tmp_path):
    """The scale case: a table written as >= defaultParallelism files
    already plans that many scan partitions, so spread adds no Exchange."""
    n = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "multi")
    spark.range(0, 1000).repartition(n * 2).write.parquet(path)
    df = spark.read.parquet(path).select("id")
    out = spread(df)
    assert out is df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert out.agg(F.sum("id")).collect()[0][0] == 499500
