"""O3 sequential enumeration: dense, unique, offset ids without a global
single-partition window."""

from __future__ import annotations

from pyspark.sql import functions as F

from serialization_agents_spark.operators.enumerate_ids import (
    REGISTRY_ID_OFFSET,
    enumerate_ids,
)


def test_enumerate_dense_and_ordered(spark):
    df = spark.range(0, 1000).select(
        F.format_string("k%04d", F.col("id")).alias("entity_key")
    ).repartition(7)
    out = enumerate_ids(df).collect()
    by_key = sorted(out, key=lambda r: r["entity_key"])
    ids = [r["registry_id"] for r in by_key]
    # dense sequence starting at the reference's +10,000,000 offset
    assert ids == list(range(REGISTRY_ID_OFFSET, REGISTRY_ID_OFFSET + 1000))


def test_enumerate_unique_under_skewed_partitions(spark):
    df = spark.range(0, 500).select(
        (F.col("id") % 3).cast("string").alias("bucket"),
        F.concat(F.lit("k"), F.col("id")).alias("entity_key"),
    ).repartition(2, "bucket")
    out = enumerate_ids(df)
    assert out.select("registry_id").distinct().count() == 500


def test_enumerate_ties_get_distinct_ids(spark):
    """Repeated order keys still get dense, unique ids: the running count
    is a ROWS frame, so tied rows are counted one at a time."""
    df = spark.range(0, 300).select(
        (F.col("id") % 7).cast("string").alias("entity_key"), "id"
    ).repartition(5)
    ids = sorted(r["registry_id"] for r in enumerate_ids(df).collect())
    assert ids == list(range(REGISTRY_ID_OFFSET, REGISTRY_ID_OFFSET + 300))
