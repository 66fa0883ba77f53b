"""Merging session windows: a bridging event fuses two sessions, and the
gap boundary merges inclusively."""

from __future__ import annotations

import datetime as dt

EV_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _ev(eid, minute, user, value=1.0):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    return (eid, base + dt.timedelta(minutes=minute), user, "click", value)


def test_session_window_batch_fusion_and_boundary(spark):
    from serialization_agents_spark.streaming.windowed import session_metrics

    # user 1: events at 0 and 50 are separate sessions (gap 30)...
    two = spark.createDataFrame([_ev(0, 0, 1), _ev(1, 50, 1)], EV_SCHEMA)
    assert session_metrics(two).count() == 2
    # ...until a bridging event at 25 fuses them into ONE session
    fused = session_metrics(
        spark.createDataFrame([_ev(0, 0, 1), _ev(1, 50, 1), _ev(2, 25, 1)], EV_SCHEMA)
    ).collect()
    assert len(fused) == 1
    assert fused[0]["n_events"] == 3
    assert (fused[0]["session_end"] - fused[0]["session_start"]).total_seconds() == 80 * 60
    # boundary: an event at EXACTLY last_ts + gap still MERGES (Spark's
    # break rule is strictly ts - prev > gap — the oracle replays this);
    # one microsecond past the boundary starts a new session
    edge = session_metrics(
        spark.createDataFrame([_ev(0, 0, 1), _ev(1, 30, 1)], EV_SCHEMA)
    )
    assert edge.count() == 1
    past = spark.createDataFrame([_ev(0, 0, 1)], EV_SCHEMA).union(
        spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1, 0, 30, 0, 1), 1, "click", 1.0)],
            EV_SCHEMA,
        )
    )
    assert session_metrics(past).count() == 2
