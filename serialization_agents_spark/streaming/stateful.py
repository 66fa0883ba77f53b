"""Custom stateful streaming operator via applyInPandasWithState.

Running per-name mention totals over an unbounded page stream — the
streaming analogue of the reference's `useCount` accumulation on agents
(/root/reference/lib/utils_shadowcat.js:244-263), maintained INSIDE the
stream with explicit GroupState instead of re-aggregating history:

- state per normalized-name key = one long (the running total) — the
  smallest possible footprint, bounded by distinct keys, checkpointed by
  the engine and restored across restarts (asserted in
  tests/test_streaming_stateful.py via two checkpointed runs);
- arbitrary stateful logic beyond what windowed aggregation expresses
  (e.g. a first-seen timestamp or a top-k sketch per entity slots into
  the same state tuple) — this is the applyInPandasWithState escape
  hatch the built-in operators don't cover;
- Arrow-batched: the udf sees pandas frames per key, not rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_TOTALS_SCHEMA = "name_norm string, total long"
_STATE_SCHEMA = "total long"


def running_mention_totals(mentions: DataFrame) -> DataFrame:
    """mentions stream (MENTIONS schema) -> update-mode stream of
    (name_norm, cumulative total) rows; emits a key only in batches
    where it changed."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        total = state.get[0] if state.exists else 0
        seen = 0
        for pdf in pdfs:
            seen += len(pdf)
        if seen:
            total += seen
            state.update((total,))
            yield pd.DataFrame({"name_norm": [key[0]], "total": [total]})

    return mentions.groupBy("name_norm").applyInPandasWithState(
        fn,
        RUNNING_TOTALS_SCHEMA,
        _STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def stream_running_totals_to_parquet(
    spark, pages_dir: str, out_dir: str, checkpoint_dir: str
):
    """readStream(pages) -> detect_mentions -> stateful running totals ->
    per-batch snapshot rows appended to parquet (update-mode rows carry
    the LATEST total per changed key; totals are monotone, so readers
    take max(total) per key). Returns the started availableNow query.

    Each micro-batch reads 2 files (read_pages_stream) and pays a full
    Python-worker + state-store round, so callers write few input files."""
    from pyspark.sql import functions as F

    from serialization_agents_spark.operators.mentions import detect_mentions
    from serialization_agents_spark.sources.pages import read_pages_stream

    stream = read_pages_stream(spark, pages_dir)
    totals = running_mention_totals(detect_mentions(stream, include_subjects=True))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    return (
        totals.writeStream.outputMode("update")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
