"""Sequential registry-id enumeration (O3) — the reference's final pass
(/root/reference/lib/enumerate_agents.js) done scalably.

The reference's own algorithm is already the distributed one: count the
collection, split into per-worker offsets, assign
`useId = localCounter + workStart + 10000000` (:30-37, :151-167, offset
:166). The naive Spark translation — `row_number()` over a global window
— would funnel every row through ONE task. Instead we reproduce the
reference's two-phase scheme:

1. range-partition by the sort key;
2. per-partition `row_number()` (parallel; window is per-partition);
3. tiny driver-side cumulative-sum of per-partition counts -> offsets;
4. broadcast-join the offsets back.

The only serial work is the O(num_partitions) cumsum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

REGISTRY_ID_OFFSET = 10_000_000  # /root/reference/lib/enumerate_agents.js:166


def enumerate_ids(
    df: DataFrame,
    order_col: str = "entity_key",
    id_col: str = "registry_id",
    offset: int = REGISTRY_ID_OFFSET,
) -> DataFrame:
    n = df.sparkSession.sparkContext.defaultParallelism
    parted = df.drop(id_col).repartitionByRange(n, F.col(order_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    parted = parted.localCheckpoint()  # pin partitioning; counts must match

    counts = (
        parted.groupBy("_pid").count().orderBy("_pid").collect()
    )  # O(num_partitions) rows on the driver — the reference's count-split
    offsets, acc = {}, 0
    for row in counts:
        offsets[row["_pid"]] = acc
        acc += row["count"]
    offset_df = df.sparkSession.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid INT, _offset LONG"
    )

    w = Window.partitionBy("_pid").orderBy(order_col)
    return (
        parted.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(offset_df), "_pid")
        .withColumn(id_col, (F.col("_rn") + F.col("_offset") + F.lit(offset) - 1))
        .drop("_pid", "_rn", "_offset")
    )
