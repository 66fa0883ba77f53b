"""Crawl-time windowed metrics: tumbling windows over the page corpus
and merging session windows over events.

The reference's serializers report progress per batch over a bounded
collection; a continuous crawl needs TIME-WINDOWED operational metrics
(pages/mentions per crawl-time window). Both plans here use Spark's
native window functions (F.window, F.session_window) over batch input,
certified by the kg_windowed_metrics and o10_session_window oracles.

The aggregation body is pure Column expressions (mention counting via
regexp_extract_all size — the same span regexes the batch detector
uses), so the plan stays JVM-side end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serialization_agents_spark.operators.mentions import (
    MARKUP_LCNAF_RE,
    MARKUP_PLAIN_RE,
    MARKUP_SUBJECT_NAME_RE,
    MARKUP_VIAF_RE,
)

PAGE_WINDOW = "10 minutes"  # tumbling crawl-time window of windowed_page_metrics
SESSION_GAP = "30 minutes"  # inactivity gap that closes a session


def _span_count(html_s: F.Column, pattern: str) -> F.Column:
    return F.size(F.regexp_extract_all(html_s, F.lit(pattern), F.lit(0)))


def windowed_page_metrics(pages: DataFrame) -> DataFrame:
    """pages -> one row per (tumbling PAGE_WINDOW `warc_ts` window, lang):
    (window_start, window_end, lang, n_pages, n_mentions, n_subjects)."""
    html_s = F.col("html").cast("string")
    mentions = (
        _span_count(html_s, MARKUP_VIAF_RE)
        + _span_count(html_s, MARKUP_LCNAF_RE)
        + _span_count(html_s, MARKUP_PLAIN_RE)
    )
    subjects = _span_count(html_s, MARKUP_SUBJECT_NAME_RE)
    per_page = pages.select(
        "warc_ts", "lang",
        mentions.alias("_m"), subjects.alias("_s"),
    )
    agg = per_page.groupBy(F.window("warc_ts", PAGE_WINDOW), "lang").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum("_m").alias("n_mentions"),
        F.sum("_s").alias("n_subjects"),
    )
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "lang", "n_pages", "n_mentions", "n_subjects",
    )


def session_metrics(events: DataFrame) -> DataFrame:
    """events -> one row per merged session:
    (user_id, session_start, session_end, n_events, value_cents).

    Uses Spark's native merging session windows (F.session_window): a
    session extends while the next event arrives before last_ts +
    SESSION_GAP, and session_end = last_ts + SESSION_GAP. This is the
    MERGING-window state shape (two sessions can fuse when a bridging
    event arrives) — a different window state machine from the tumbling
    windows above and from the hand-rolled lag/cumsum sessionize (o4),
    which it must agree with.

    value_cents sums integer cents, never raw doubles (cross-engine
    float sums differ by reduction order).
    """
    ev = events.select(
        F.col("user_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "value_cents",
        )
    )
