"""Point-in-interval (range) join via chunk bucketing — the second
temporal join Spark lacks as a builtin (asof.py covers the most-recent
lookup). A naive `start <= ts AND ts < end` predicate gives Catalyst no
equi-key, so it plans BroadcastNestedLoopJoin / cartesian — O(|P| x |I|)
per key and a non-starter at 10^12 rows.

The bucketized form restores an equi-key:

  intervals explode to every fixed-width time chunk they overlap
  (ceil(len/chunk) + 1 rows, ~1-2 for short intervals); points map to
  exactly ONE chunk each. Equi-join on (key, chunk), then the exact
  residual range filter. Because a point lives in a single chunk, a
  (point, interval) match is produced exactly once — no post-join
  dedup, no window.

Scale notes (10^12 points):
- One shuffle per side keyed (key, chunk); AQE splits hot (key, chunk)
  buckets. Chunk width should be ~the median interval length: wider
  chunks cut interval replication, narrower chunks cut per-bucket
  fan-in.
- All arithmetic is integer epoch units supplied by the caller, so
  chunk ids are exact in any engine.

No reference analogue (the reference's joins are key-equality point
lookups, serialization-agents lib/utils.js); this is the analytics-side
operator its event tables would need at warehouse scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    key: str,
    chunk: int = 604800,
) -> DataFrame:
    """Inner-join every point row to every interval row of the same
    `key` with start_us <= ts_us < end_us (half-open, the standard
    validity convention). Returns points columns + intervals columns
    (minus the duplicated key). ts_us/start_us/end_us must be
    integer-valued (epoch micros, or any unit, as long as `chunk` is in
    the same unit); the caller converts timestamps (e.g. F.unix_micros)
    so the arithmetic is exact in any engine.
    """
    p_ts = F.col("ts_us").cast("long")
    i_start = F.col("start_us").cast("long")
    i_end = F.col("end_us").cast("long")

    p = points.withColumn("_chunk", F.floor(p_ts / chunk))
    # a half-open interval [s, e) overlaps chunks floor(s/c)..floor((e-1)/c);
    # empty/inverted intervals (e <= s) cover nothing and drop out here
    iv = intervals.where(i_end > i_start).withColumn(
        "_chunk",
        F.explode(
            F.sequence(
                F.floor(i_start / chunk),
                F.floor((i_end - 1) / chunk),
            )
        ),
    )
    return (
        p.join(iv, [key, "_chunk"])
        .where((p_ts >= i_start) & (p_ts < i_end))
        .drop("_chunk")
    )
