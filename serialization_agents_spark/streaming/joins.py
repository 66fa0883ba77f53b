"""Stream-stream join — the engine's second Structured Streaming state
shape, next to the applyInPandasWithState totals (stateful.py): two
unbounded inputs joined on an equi-key plus an event-time range, with BOTH sides watermarked so Spark can bound the join state
and age rows out.

Semantics (inner join, append mode):
- a match is emitted as soon as both rows have arrived;
- each side buffers rows in state until the OTHER side's watermark
  passes the latest event time the row could still match (derived from
  the range condition) — state is bounded by watermark + range width;
- rows arriving later than their side's watermark are dropped.

The batch-mode twin of this join is operators/intervals.interval_join
(the chunk-bucketized point-in-interval join, hash-certified by
o9_interval_join) — tests pin stream == batch on on-time data.
"""

from __future__ import annotations

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)
WINDOWS_SCHEMA = "win_id long, user_id long, win_start timestamp, win_end timestamp"
WATERMARK = "1 hour"  # event-time lateness each side tolerates


def stream_interval_join_to_parquet(
    spark,
    events_dir: str,
    windows_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """readStream(events) x readStream(windows) inner-joined on
    user_id AND win_start <= ts < win_end, both sides watermarked.
    Returns the started availableNow query writing
    (event_id, win_id, user_id, ts) to parquet."""
    ev = (
        spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)
        .withWatermark("ts", WATERMARK)
    )
    win = (
        spark.readStream.schema(WINDOWS_SCHEMA).parquet(windows_dir)
        .withWatermark("win_start", WATERMARK)
    )
    joined = ev.join(
        win,
        (ev.user_id == win.user_id)
        & (ev.ts >= win.win_start)
        & (ev.ts < win.win_end),
        "inner",
    ).select(ev.event_id, win.win_id, ev.user_id, ev.ts)
    return (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
