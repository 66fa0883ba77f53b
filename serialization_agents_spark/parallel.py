"""Scale-adaptive scan fan-out.

A parquet file is only splittable at row-group boundaries; a table
written as one file with one row group (exactly what the small test
corpora are) pins its scan — and every NARROW operation chained after
it (gram explode, per-shingle hashing, Arrow kernels) — to a single
task, no matter how many cores the session has. That is the "one huge
unsplittable file" input-skew case of the optimization playbook: fix it
by repartitioning immediately after the read.

``spread`` is deliberately conditional so it stays a no-op at real
scale: when the source already plans at least the session's default
parallelism worth of partitions (any multi-file / multi-row-group table
at 100 TB does, by thousands), the DataFrame is returned unchanged and
NO exchange is added. Only an under-parallel scan pays the one cheap
round-robin shuffle (bytes = the projected columns only — callers
project before spreading) that buys every downstream narrow stage full
parallelism.

The round-robin repartition is retry-safe (Spark sorts before
round-robin repartitioning by default, SPARK-23207) and uses an
EXPLICIT partition count so AQE cannot coalesce the fan-out away —
coalescing would be byte-optimal and throughput-pessimal here, since
the expensive work happens after this exchange, not before it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# The planned-partition probe (DataFrame -> RDD conversion) costs tens of
# milliseconds per call; its answer depends only on the logical plan (the
# file listing is part of it) and the session, so memoize per
# (application, semanticHash). Bounded: one entry per distinct projected
# scan per session. The probe runs on the driver: planning the scan walks
# the source's file listing to split it into partitions, so its cost grows
# with the file count (paid once per distinct scan, thanks to the memo).
_PROBE_CACHE: dict[tuple[str, int], int] = {}


def _planned_partitions(df: DataFrame) -> int:
    sc = df.sparkSession.sparkContext
    try:
        key = (
            sc.applicationId,
            df._jdf.queryExecution().logical().semanticHash(),
        )
    except Exception:
        key = None
    if key is not None and key in _PROBE_CACHE:
        return _PROBE_CACHE[key]
    n = df.rdd.getNumPartitions()
    if key is not None:
        _PROBE_CACHE[key] = n
    return n


def spread(df: DataFrame) -> DataFrame:
    """Fan ``df`` out to ``defaultParallelism`` partitions before
    per-row-expensive work, unless it already has that many."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if _planned_partitions(df) >= target:
        return df
    return df.repartition(target)
