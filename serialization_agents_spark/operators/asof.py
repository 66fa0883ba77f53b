"""As-of join: for every left row, the single most recent right row at
or before its timestamp, per key — the point-in-time lookup Spark lacks
as a builtin (no analogue in the reference either; its joins are
key-equality point lookups, serialization-agents lib/utils.js).

Implemented as the union-window pattern, NOT a range join:

  tag left rows side=1 and right rows side=0, union them, then one
  window per key ordered by (ts, side, tiebreak) carrying a running
  `last(right_payload, ignorenulls=True)` — every left row reads the
  latest right row at or before it in O(1) running state.

Scale notes (10^12 events):
- ONE shuffle on the join key, then a per-partition sort — identical
  cost shape to the sessionize operator. A naive `l.ts >= r.ts` range
  join explodes to O(|L| x |R|) per key before taking the max; the
  union-window form never materializes candidates.
- The running frame is UNBOUNDED PRECEDING .. CURRENT ROW, which
  Spark's WindowExec evaluates incrementally — O(1) memory per row, no
  per-row frame rescans.
- Skewed keys (one hot user) degrade to a single-partition sort; at
  that point sessionize-style salting by time-bucket applies, but the
  default is correct and spill-safe (ExternalSorter).
- `side` breaks ts ties so equality means "at or before" exactly:
  right rows sort before left rows at the same timestamp. Ties among
  right rows at the same (key, ts) resolve by `view_id` ascending —
  the LAST one wins (max view_id), deterministic under any
  partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(left: DataFrame, right: DataFrame, on: str) -> DataFrame:
    """Left rows plus `asof_<col>` columns from the latest right row with
    right.tsu <= left.tsu (NULL when no right row qualifies).
    Equal-timestamp right rows are ordered by `view_id`; the greatest
    wins.
    """
    right_payload = [c for c in right.columns if c != on]
    l_side = left.select(
        F.col(on).alias("_k"),
        F.col("tsu").alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(right.schema["view_id"].dataType).alias("_tie"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
        F.lit(None)
        .cast(
            "struct<"
            + ",".join(
                f"{c}:{right.schema[c].dataType.simpleString()}" for c in right_payload
            )
            + ">"
        )
        .alias("_r"),
    )
    r_side = right.select(
        F.col(on).alias("_k"),
        F.col("tsu").alias("_ts"),
        F.lit(0).alias("_side"),
        F.col("view_id").alias("_tie"),
        F.lit(None).cast(l_side.schema["_l"].dataType).alias("_l"),
        F.struct(*[F.col(c) for c in right_payload]).alias("_r"),
    )
    u = l_side.unionByName(r_side)

    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").asc(), F.col("_side").asc(), F.col("_tie").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("_m", F.last("_r", ignorenulls=True).over(w)).where(
        F.col("_side") == 1
    )

    out_cols = [F.col(f"_l.{c}").alias(c) for c in left.columns] + [
        F.col(f"_m.{c}").alias(f"asof_{c}") for c in right_payload
    ]
    return matched.select(*out_cols)
