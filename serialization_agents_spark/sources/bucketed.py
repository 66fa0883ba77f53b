"""Bucketed (co-located) table support.

The agents table is re-joined on `entity_key` constantly — incremental
folds, triple remaps, cross-source reconciliation. Writing it BUCKETED on
that key makes every such join co-located: both sides are pre-hashed into
the same bucket files, so the join (and `groupBy(entity_key)`
aggregations) run with ZERO shuffle exchange — at 10^12-entity scale that
removes the dominant network cost of the maintenance jobs. This is the
batch counterpart of the `bucket=` partitioning of
streaming/incremental.fold_batch_into_agents (which prunes; bucketing
co-locates).

Spark requires bucketed tables to live in a catalog (`saveAsTable`) —
the metastore records the bucket spec that lets the planner elide the
exchange. `write_bucketed` uses an external table (explicit `path`) so
data stays where the pipeline puts it.

Verified by tests/test_sources.py: a self-join and an aggregation over
the bucketed table plan with NO Exchange operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

N_BUCKETS = 64


def write_bucketed(df: DataFrame, table: str, path: str) -> None:
    """Write `df` as an external parquet table bucketed (and sorted) on
    `entity_key`. Downstream equi-joins and aggregations on that column
    shuffle nothing."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(N_BUCKETS, "entity_key")
        .sortBy("entity_key")
        .saveAsTable(table)
    )


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table THROUGH the catalog — `spark.table`, not
    `read.parquet(path)`: only the catalog carries the bucket spec that
    lets the planner drop the exchange."""
    return spark.table(table)
