"""OLAP surfaces over documents/events/orders: grouping sets, pivot,
set operations, RANGE/hopping/session windows, exact percentiles, and
the point-in-interval join in batch and as a stream-stream join."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from serialization_agents_spark.operators.intervals import interval_join
from serialization_agents_spark.queries.common import (
    await_query,
    registry,
    scratch_dir,
    table,
)
from serialization_agents_spark.streaming.joins import stream_interval_join_to_parquet
from serialization_agents_spark.streaming.windowed import session_metrics

ENTRIES, query = registry()

# Range join replayed as the plain non-equi join (DuckDB plans an
# IEJoin) over the per-order validity windows; micros and cents are
# integer end-to-end.
_IV = (
    "iv AS (SELECT o_orderkey, o_custkey % 150 AS user_id, "
    "(1704067200 + (o_orderkey % 720) * 3600) * 1000000 AS start_us, "
    "(1704067200 + (o_orderkey % 720) * 3600 "
    "+ (o_orderkey % 6 + 1) * 1800) * 1000000 AS end_us FROM orders) "
)
_IV_JOIN = (
    "FROM ev JOIN iv ON ev.user_id = iv.user_id "
    "AND ts_us >= start_us AND ts_us < end_us "
    "GROUP BY o_orderkey"
)


# ROLLUP with the same GROUPING bit encoding in both engines.
@query(
    "SELECT source, lang, GROUPING(source, lang)::BIGINT AS gid, "
    "count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars "
    "FROM documents GROUP BY ROLLUP (source, lang)"
)
def a8_rollup_counts(spark, sf):
    """ROLLUP subtotals over (source, lang) with grouping_id — the
    grouping-sets surface (one pass; Spark expands the sets in the
    Expand operator, still a single shuffle)."""
    docs = table(spark, sf, "documents")
    return docs.rollup("source", "lang").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "SELECT source, lang, GROUPING(source, lang)::BIGINT AS gid, "
    "count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars "
    "FROM documents GROUP BY CUBE (source, lang)"
)
def a9_cube_counts(spark, sf):
    """CUBE over (source, lang) with grouping_id — completes the
    grouping-sets surface next to a8's ROLLUP (adds the
    lang-only subtotal slice ROLLUP omits; same single-shuffle
    Expand plan)."""
    docs = table(spark, sf, "documents")
    return docs.cube("source", "lang").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# Pivot = conditional aggregation; count over a filter never yields NULL
# so the na.fill(0) on the Spark side is symmetric.
@query(
    "SELECT user_id, "
    + ", ".join(
        f"count(*) FILTER (event_type = '{t}')::BIGINT AS {t}"
        for t in ("click", "error", "purchase", "signup", "view")
    )
    + " FROM events GROUP BY user_id"
)
def o11_pivot_event_types(spark, sf):
    """groupBy().pivot() surface with an EXPLICIT value list (the
    at-scale form: an implicit list costs an extra distinct pass
    and nondeterministic column sets) — per-user event-type counts
    as columns, one shuffle. Oracle replays as conditional aggs."""
    ev = table(spark, sf, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@query(
    "WITH a AS (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0), "
    "b AS (SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0) "
    "SELECT 'both' AS op, c_custkey FROM (SELECT * FROM a INTERSECT SELECT * FROM b) "
    "UNION ALL "
    "SELECT 'only_a' AS op, c_custkey FROM (SELECT * FROM a EXCEPT SELECT * FROM b)"
)
def u4_intersect_except(spark, sf):
    """INTERSECT / EXCEPT set semantics (the one relational-algebra
    surface u2/u3 don't touch): two derived customer snapshots,
    rows tagged 'both' (INTERSECT) and 'only_a' (EXCEPT), unioned.
    Spark plans both as aggregate-backed semi/anti joins — no
    distinct-then-join hand-rolling."""
    c = table(spark, sf, "customer").select("c_custkey")
    a = c.where(F.col("c_custkey") % 2 == 0)
    b = c.where(F.col("c_custkey") % 3 == 0)
    return a.intersect(b).select(
        F.lit("both").alias("op"), "c_custkey"
    ).unionByName(
        a.exceptAll(b).distinct().select(
            F.lit("only_a").alias("op"), "c_custkey"
        )
    )


@query(
    "WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS tsu, "
    "round(value * 100)::BIGINT AS cents FROM events) "
    "SELECT event_id, user_id, tsu, "
    "count(*) OVER w AS n_1h, sum(cents) OVER w AS cents_1h FROM ev "
    "WINDOW w AS (PARTITION BY user_id ORDER BY tsu "
    "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"
)
def o6_trailing_window(spark, sf):
    """Trailing 1-hour RANGE-frame window per user: event count and
    exact integer-cents value sum (doubles are summed NOWHERE —
    segment-tree vs running-sum float orderings would diverge)."""
    ev = table(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tsu"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tsu")
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "tsu",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum("cents").over(w).alias("cents_1h"),
    )


@query(
    "WITH ev AS (SELECT epoch_us(ts) AS tu, event_type, "
    "round(value * 100)::BIGINT AS cents FROM events), "
    "w AS (SELECT unnest([(tu // 300000000) * 300000000, "
    "(tu // 300000000) * 300000000 - 300000000]) AS w_start, "
    "event_type, cents FROM ev) "
    "SELECT w_start, event_type, count(*) AS n, "
    "sum(cents)::BIGINT AS cents_sum FROM w "
    "GROUP BY w_start, event_type"
)
def o7_sliding_window(spark, sf):
    """Hopping-window aggregation (10-min windows, 5-min hop): each
    event lands in exactly two windows. Certifies F.window's sliding
    semantics; the oracle materializes both window starts per event.
    Exact integer-cents sums only."""
    ev = table(spark, sf, "events").select(
        F.col("ts").cast("timestamp").alias("tst"),
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return (
        ev.groupBy(
            F.window("tst", "10 minutes", "5 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("w_start"),
            "event_type",
            "n",
            "cents_sum",
        )
    )


@query(
    "WITH ev AS (SELECT event_type, "
    "round(value * 100)::BIGINT AS cents FROM events) "
    "SELECT event_type, quantile_cont(cents, 0.25) AS p25, "
    "quantile_cont(cents, 0.5) AS p50, "
    "quantile_cont(cents, 0.75) AS p75, count(*) AS n "
    "FROM ev GROUP BY event_type"
)
def o8_percentiles(spark, sf):
    """Exact linear-interpolation quartiles of integer cents per
    event_type. p in {.25,.5,.75} makes (n-1)*p and the lo+(hi-lo)*f
    interpolation EXACT binary arithmetic — both engines produce the
    identical double, no rounding games needed."""
    ev = table(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    pct = F.expr("percentile(cents, array(0.25D, 0.5D, 0.75D))")
    return ev.groupBy("event_type").agg(
        pct.getItem(0).alias("p25"),
        pct.getItem(1).alias("p50"),
        pct.getItem(2).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, "
    "round(value * 100)::BIGINT AS cents FROM events), "
    + _IV
    + "SELECT o_orderkey, count(*)::BIGINT AS n_events, "
    "sum(cents)::BIGINT AS value_cents "
    + _IV_JOIN
)
def o9_interval_join(spark, sf):
    """Point-in-interval range join via chunk bucketing: events
    match deterministic per-customer validity windows (derived from
    order keys, overlaid on the events' January-2024 span since the
    TPC-H order dates predate the event stream) with
    start <= ts < end. The bucketized equi-join
    (operators/intervals.py interval_join) restores an equi-key so
    Catalyst never plans a nested-loop non-equi join; micros
    arithmetic is integer end-to-end and value cents are integer
    sums."""
    ev = table(spark, sf, "events").select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    ok = F.col("o_orderkey")
    start_s = F.lit(1704067200) + (ok % 720) * 3600
    iv = table(spark, sf, "orders").select(
        ok.alias("o_orderkey"),
        (F.col("o_custkey") % 150).cast("long").alias("user_id"),
        (start_s * 1000000).cast("long").alias("start_us"),
        ((start_s + (ok % 6 + 1) * 1800) * 1000000).cast("long").alias("end_us"),
    )
    joined = interval_join(
        ev, iv, key="user_id", chunk=3600 * 1000000,
    )
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("value_cents"),
    )


@query(
    "WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, "
    "round(value * 100)::BIGINT AS cents FROM events), "
    "o AS (SELECT *, CASE WHEN lag(tsu) OVER w IS NULL "
    "OR tsu - lag(tsu) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns "
    "FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)), "
    "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id "
    "ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM o) "
    "SELECT user_id, min(tsu) AS session_start_us, "
    "max(tsu) + 1800000000 AS session_end_us, "
    "count(*)::BIGINT AS n_events, sum(cents)::BIGINT AS value_cents "
    "FROM s GROUP BY user_id, sid"
)
def o10_session_window(spark, sf):
    """Spark's native merging session windows (F.session_window,
    streaming/windowed.py session_metrics) over the events table —
    the merging-window state shape, certified on batch input against
    a DuckDB gaps-and-islands replay (new session iff
    ts - prev > gap, boundary merges; session_end = last_ts + gap).
    Session fusion and the inclusive boundary are pinned by
    tests/test_streaming_windowed.py."""
    s = session_metrics(table(spark, sf, "events"))
    return s.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events", "value_cents",
    )


@query(
    "WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us "
    "FROM events), "
    + _IV
    + "SELECT o_orderkey, count(*)::BIGINT AS n_events "
    + _IV_JOIN
)
def o9s_stream_interval_join(spark, sf):
    """REAL stream-stream join under the hash gate (the sixth
    Structured Streaming surface): events and derived validity
    windows staged to parquet, consumed by two watermarked
    readStreams, inner-joined on user_id + event-time range in an
    availableNow query (streaming/joins.py), then aggregated to
    (o_orderkey, n_events) — the DuckDB oracle is the same non-equi
    join as o9 counted per order. All staged rows are on-time, so
    the streaming emission equals the batch join; late-drop
    semantics are pinned by tests/test_streaming_joins.py."""
    base = scratch_dir(spark, sf, "o9s_")
    ev_dir, win_dir = f"{base}/events", f"{base}/windows"
    out_dir, ckpt = f"{base}/out", f"{base}/ckpt"
    table(spark, sf, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        F.col("user_id").cast("long").alias("user_id"),
        "event_type", "value",
    ).coalesce(4).write.mode("overwrite").parquet(ev_dir)
    ok = F.col("o_orderkey")
    start_s = F.lit(1704067200) + (ok % 720) * 3600
    table(spark, sf, "orders").select(
        ok.alias("win_id"),
        (F.col("o_custkey") % 150).cast("long").alias("user_id"),
        F.timestamp_seconds(start_s).alias("win_start"),
        F.timestamp_seconds(start_s + (ok % 6 + 1) * 1800).alias("win_end"),
    ).coalesce(4).write.mode("overwrite").parquet(win_dir)
    q = stream_interval_join_to_parquet(spark, ev_dir, win_dir, out_dir, ckpt)
    await_query(q, "o9s_stream_interval_join")
    return (
        spark.read.parquet(out_dir)
        .groupBy(F.col("win_id").alias("o_orderkey"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
