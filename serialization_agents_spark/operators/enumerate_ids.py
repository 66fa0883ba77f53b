"""Sequential registry-id enumeration (O3) — the reference's final pass
(/root/reference/lib/enumerate_agents.js) done scalably.

The reference's own algorithm is already the distributed one: count the
collection, split into per-worker offsets, assign
`useId = localCounter + workStart + 10000000` (:30-37, :151-167, offset
:166). The naive Spark translation — `row_number()` over a global window
— would funnel every row through ONE task. Instead `running_offsets`
reproduces the reference's two-phase scheme, for any integer weight:

1. range-partition by the sort key;
2. per-partition running sum of the weight (parallel; the window is
   per-partition);
3. tiny driver-side cumulative sum of per-partition totals -> offsets;
4. each row reads its partition's offset from a literal array indexed by
   `spark_partition_id()` — no join.

The only serial work is the O(num_partitions) cumsum. `enumerate_ids` is
weight 1; shard packing (operators/pack.py) is weight `n_tokens`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType
from pyspark.sql.window import Window

REGISTRY_ID_OFFSET = 10_000_000  # /root/reference/lib/enumerate_agents.js:166


def running_offsets(df: DataFrame, order: list[str], weight: Column) -> DataFrame:
    """`df` plus `_before`: the sum of `weight` over every row ahead of
    this one in `order` (exclusive prefix sum). Rows tied on `order` are
    still counted one at a time (a ROWS frame), so weight 1 gives dense,
    unique positions."""
    n = df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(n, *order).withColumn("_pid", F.spark_partition_id())
    parted = parted.localCheckpoint()  # pin partitioning; totals must match

    # O(num_partitions) rows on the driver — the reference's count-split
    totals = dict(parted.groupBy("_pid").agg(F.sum(weight)).collect())
    offsets, acc = [], 0
    for pid in range(n):  # a range shuffle never yields more than n parts
        offsets.append(acc)
        acc += totals.get(pid, 0)

    w = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return parted.withColumn(
        "_before",
        F.lit(offsets).cast(ArrayType(LongType()))[F.col("_pid")] + F.sum(weight).over(w) - weight,
    ).drop("_pid")


def enumerate_ids(df: DataFrame) -> DataFrame:
    return (
        running_offsets(df.drop("registry_id"), ["entity_key"], F.lit(1))
        .withColumn("registry_id", F.col("_before") + F.lit(REGISTRY_ID_OFFSET))
        .drop("_before")
    )
