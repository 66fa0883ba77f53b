"""Point-in-interval join: bucketized equi-join == naive non-equi join,
half-open boundaries, multi-chunk intervals, degenerate intervals."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from serialization_agents_spark.operators.intervals import interval_join


def _join_naive(points, intervals):
    out = []
    for pid, key, ts in points:
        for iid, ikey, s, e in intervals:
            if key == ikey and s <= ts < e:
                out.append((pid, iid))
    return sorted(out)


def test_interval_join_matches_naive_on_random_data(spark):
    rng = random.Random(7)
    points = [(i, rng.randrange(5), rng.randrange(0, 10_000)) for i in range(300)]
    intervals = []
    for i in range(80):
        s = rng.randrange(0, 10_000)
        intervals.append((i, rng.randrange(5), s, s + rng.randrange(0, 4_000)))
    p = spark.createDataFrame(points, "pid long, key long, ts_us long")
    iv = spark.createDataFrame(intervals, "iid long, key long, start_us long, end_us long")
    got = sorted(
        (r["pid"], r["iid"])
        for r in interval_join(p, iv, key="key", chunk=1000)
        .select("pid", "iid").collect()
    )
    assert got == _join_naive(points, intervals)


def test_interval_join_half_open_boundaries(spark):
    p = spark.createDataFrame(
        [(0, 1, 100), (1, 1, 199), (2, 1, 200)], "pid long, key long, ts_us long"
    )
    iv = spark.createDataFrame(
        [(0, 1, 100, 200)], "iid long, key long, start_us long, end_us long"
    )
    got = {r["pid"] for r in interval_join(p, iv, key="key", chunk=50).collect()}
    assert got == {0, 1}  # start inclusive, end exclusive


def test_interval_join_spans_many_chunks_no_dup(spark):
    # one long interval over 10 chunks; each matching point appears ONCE
    p = spark.createDataFrame(
        [(i, 1, i * 100) for i in range(12)], "pid long, key long, ts_us long"
    )
    iv = spark.createDataFrame(
        [(0, 1, 0, 1000)], "iid long, key long, start_us long, end_us long"
    )
    rows = interval_join(p, iv, key="key", chunk=100).collect()
    assert sorted(r["pid"] for r in rows) == list(range(10))  # ts 0..900
    assert len(rows) == len({r["pid"] for r in rows})


def test_interval_join_drops_empty_and_inverted(spark):
    p = spark.createDataFrame([(0, 1, 5)], "pid long, key long, ts_us long")
    iv = spark.createDataFrame(
        [(0, 1, 5, 5), (1, 1, 9, 3)], "iid long, key long, start_us long, end_us long"
    )
    assert interval_join(p, iv, key="key", chunk=10).count() == 0


def test_interval_join_plan_has_no_nested_loop(spark):
    import contextlib
    import io

    p = spark.createDataFrame([(0, 1, 5)], "pid long, key long, ts_us long")
    iv = spark.createDataFrame(
        [(0, 1, 0, 10)], "iid long, key long, start_us long, end_us long"
    )
    df = interval_join(p, iv, key="key", chunk=10)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert df.count() == 1
