"""Stream-stream interval join: emitted matches == the batch
interval_join on on-time data; watermark-late rows drop."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from serialization_agents_spark.streaming.joins import (
    EVENTS_SCHEMA,
    WINDOWS_SCHEMA,
    stream_interval_join_to_parquet,
)

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(eid, minute, user):
    return (eid, BASE + dt.timedelta(minutes=minute), user, "click", 1.0)


def _win(wid, user, m0, m1):
    return (
        wid, user,
        BASE + dt.timedelta(minutes=m0), BASE + dt.timedelta(minutes=m1),
    )


def test_stream_stream_join_matches_batch_and_drops_late(spark, tmp_path):
    from serialization_agents_spark.operators.intervals import interval_join

    ev_dir, win_dir = str(tmp_path / "ev"), str(tmp_path / "win")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    # run 1: events inside/outside their user's window + advancers on
    # BOTH streams at minute 600 (watermark -> 540 on each side)
    ev1 = [_ev(0, 10, 1), _ev(1, 35, 1), _ev(2, 12, 2), _ev(9, 600, 9)]
    win1 = [_win(100, 1, 0, 30), _win(101, 2, 10, 20), _win(999, 9, 600, 601)]
    spark.createDataFrame(ev1, EVENTS_SCHEMA).write.mode("append").parquet(ev_dir)
    spark.createDataFrame(win1, WINDOWS_SCHEMA).write.mode("append").parquet(win_dir)
    q = stream_interval_join_to_parquet(spark, ev_dir, win_dir, out_dir, ckpt)
    assert q.awaitTermination(300) and q.exception() is None

    got = {(r["event_id"], r["win_id"])
           for r in spark.read.parquet(out_dir).collect()}
    # batch twin over the same inputs (all on-time in run 1)
    p = spark.createDataFrame(ev1, EVENTS_SCHEMA).select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    iv = spark.createDataFrame(win1, WINDOWS_SCHEMA).select(
        "win_id", "user_id",
        F.unix_micros("win_start").alias("start_us"),
        F.unix_micros("win_end").alias("end_us"),
    )
    batch = {
        (r["event_id"], r["win_id"])
        for r in interval_join(p, iv, key="user_id", chunk=3600 * 1000000).collect()
    }
    assert got == batch
    assert (0, 100) in got and (2, 101) in got and (1, 100) not in got

    # run 2: a LATE event at minute 5 (behind both watermarks at 540)
    # must produce NO new match even though window 100 would cover it
    ev2 = [_ev(3, 5, 1), _ev(10, 1200, 9)]
    spark.createDataFrame(ev2, EVENTS_SCHEMA).write.mode("append").parquet(ev_dir)
    q = stream_interval_join_to_parquet(spark, ev_dir, win_dir, out_dir, ckpt)
    assert q.awaitTermination(300) and q.exception() is None
    after = {(r["event_id"], r["win_id"])
             for r in spark.read.parquet(out_dir).collect()}
    assert (3, 100) not in after
    assert after >= got  # earlier emissions never retracted
