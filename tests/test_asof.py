"""As-of join semantics: at-or-equal timestamps, equal-ts tie
resolution, no-match NULLs, partitioning invariance, and the
one-shuffle plan shape."""

from __future__ import annotations

import contextlib
import io
import re

from serialization_agents_spark.operators.asof import asof_join


def _left(spark):
    return spark.createDataFrame(
        [(1, "u1", 100), (2, "u1", 205), (3, "u2", 50), (4, "u3", 10)],
        "lid long, user string, tsu long",
    )


def _right(spark):
    return spark.createDataFrame(
        [
            ("u1", 90, 900),   # before lid=1
            ("u1", 100, 901),  # AT lid=1's ts  -> wins (<= semantics)
            ("u1", 100, 902),  # same ts, larger tiebreak -> this one wins
            ("u1", 200, 903),  # latest before lid=2
            ("u2", 60, 904),   # after lid=3 -> no backward match
        ],
        "user string, tsu long, view_id long",
    )


def test_backward_with_equal_ts_and_ties(spark):
    out = {
        r["lid"]: r
        for r in asof_join(_left(spark), _right(spark), on="user").collect()
    }
    assert out[1]["asof_view_id"] == 902 and out[1]["asof_tsu"] == 100
    assert out[2]["asof_view_id"] == 903 and out[2]["asof_tsu"] == 200
    assert out[3]["asof_view_id"] is None  # only future right rows
    assert out[4]["asof_view_id"] is None  # no right rows at all


def test_partitioning_invariance(spark):
    a = asof_join(
        _left(spark).repartition(5), _right(spark).repartition(3), on="user"
    ).collect()
    b = asof_join(
        _left(spark).coalesce(1), _right(spark).coalesce(1), on="user"
    ).collect()
    key = lambda r: r["lid"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)


def test_asof_is_one_shuffle_no_join(spark):
    """The union-window form: exactly ONE Exchange (on the key), zero
    join nodes — the property that keeps it viable at 10^12 events
    where a range join would explode candidates per key."""
    df = asof_join(_left(spark), _right(spark), on="user")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "Join" not in plan
