"""URL operator family: canonicalization cases, latest-capture dedup
semantics (ties, counts, determinism), domain stats/gating, and the
plan shapes that make the family viable at crawl scale (one shuffle for
the dedup window pair; broadcast-only domain gate).

Reference relationship: the reference pipeline has no URL stage (its
inputs are catalog records keyed by id — serialization-agents
index.js); this family is the web-corpus analogue of its
"skip already-processed records" posture (lib/prepare.js).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from serialization_agents_spark.operators import urls
from serialization_agents_spark.operators.urls import (
    canonical_url,
    canonical_url_sql,
    dedup_latest_capture,
    domain_filter,
    domain_stats,
    registered_domain,
)

CANONICAL_CASES = [
    # (raw, canonical)
    ("https://www.Example.com/A/B", "example.com/a/b"),
    ("http://example.com:80/x", "example.com/x"),
    ("https://example.com:443/x", "example.com/x"),
    ("https://example.com/x#frag", "example.com/x"),
    ("https://example.com/x/", "example.com/x"),
    ("https://example.com/x?utm_source=a&utm_medium=b", "example.com/x"),
    ("https://example.com/x?utm_source=a&q=1", "example.com/x?q=1"),
    ("https://example.com/x?q=1&fbclid=zz", "example.com/x?q=1"),
    ("https://example.com/x?q=1&gclid=zz&r=2", "example.com/x?q=1&r=2"),
    ("  https://example.com/x  ", "example.com/x"),
    # non-default port survives; deep subdomain collapses to eTLD+1 only
    # in registered_domain, not in the canonical URL itself
    ("https://example.com:8080/x", "example.com:8080/x"),
    ("https://a.b.example.com/x", "a.b.example.com/x"),
]


def test_canonical_url_cases(spark):
    df = spark.createDataFrame(
        [(raw,) for raw, _ in CANONICAL_CASES], "url string"
    ).withColumn("canon", canonical_url(F.col("url")))
    got = {r["url"]: r["canon"] for r in df.collect()}
    for raw, want in CANONICAL_CASES:
        assert got[raw] == want, f"{raw!r}: {got[raw]!r} != {want!r}"


def test_canonical_url_sql_matches_spark(spark):
    """The DuckDB chain built from the same CANONICAL_STEPS produces
    byte-identical canonical forms — the cross-engine contract the
    oracle gate relies on."""
    import duckdb

    duck = duckdb.connect()
    for raw, want in CANONICAL_CASES:
        lit = "'" + raw.replace("'", "''") + "'"
        got = duck.sql(f"SELECT {canonical_url_sql(lit)}").fetchone()[0]
        assert got == want, f"duckdb {raw!r}: {got!r} != {want!r}"


def test_registered_domain(spark):
    df = spark.createDataFrame(
        [
            ("example.com/a", "example.com"),
            ("a.b.example.com/a", "example.com"),
            ("site7.example/articles/item-3?q=1", "site7.example"),
        ],
        "canon string, want string",
    ).withColumn("got", registered_domain(F.col("canon")))
    for r in df.collect():
        assert r["got"] == r["want"]


def _captures(spark):
    rows = [
        # three captures of one logical page, latest ts wins
        (1, "https://www.news.example/a?utm_source=x", 100, "w w w"),
        (2, "http://news.example/a", 300, "w w w w"),
        (3, "https://news.example/a#top", 200, "w w"),
        # tie on ts -> lexicographically smaller raw URL wins
        (4, "https://tie.example/p", 500, "w"),
        (5, "http://tie.example/p/", 500, "w"),
        # singleton domain, token-rich
        (6, "https://rich.example/solo", 50, " ".join(["w"] * 40)),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts long, text string"
    )


def test_dedup_latest_capture(spark):
    kept = {
        r["canon_url"]: r
        for r in dedup_latest_capture(_captures(spark)).collect()
    }
    assert set(kept) == {"news.example/a", "tie.example/p", "rich.example/solo"}
    news = kept["news.example/a"]
    assert news["doc_id"] == 2 and news["n_captures"] == 3
    tie = kept["tie.example/p"]
    # warc_ts equal -> ascending raw-url tie-break keeps the http:// one
    assert tie["url"] == "http://tie.example/p/" and tie["n_captures"] == 2
    assert kept["rich.example/solo"]["n_captures"] == 1


def test_dedup_latest_capture_partitioning_invariant(spark):
    a = dedup_latest_capture(_captures(spark).repartition(7)).collect()
    b = dedup_latest_capture(_captures(spark).coalesce(1)).collect()
    key = lambda r: r["canon_url"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)


def test_domain_stats_and_filter(spark, monkeypatch):
    stats = {r["domain"]: r for r in domain_stats(_captures(spark)).collect()}
    assert stats["news.example"]["n_pages"] == 3
    assert stats["news.example"]["n_canonical"] == 1
    assert stats["news.example"]["total_tokens"] == 9
    assert stats["news.example"]["latest_ts_epoch"] == 300
    assert stats["tie.example"]["n_pages"] == 2
    assert stats["rich.example"]["n_pages"] == 1
    assert stats["rich.example"]["total_tokens"] == 40

    # min_pages=2 drops the singleton; min_avg_tokens=2 drops tie (avg 1)
    monkeypatch.setattr(urls, "MIN_AVG_TOKENS", 2)
    kept = domain_filter(_captures(spark))
    assert {r["domain"] for r in kept.collect()} == {"news.example"}
    # relax both gates -> everything survives
    monkeypatch.setattr(urls, "MIN_PAGES", 1)
    monkeypatch.setattr(urls, "MIN_AVG_TOKENS", 1)
    all_kept = domain_filter(_captures(spark))
    assert all_kept.count() == 6


def test_dedup_window_pair_shares_one_exchange(spark):
    """row_number and the per-key count partition on the same canon_url
    key, so the physical plan carries exactly ONE Exchange — a second
    corpus shuffle here would double the dominant cost at crawl scale."""
    import contextlib
    import io

    df = dedup_latest_capture(_captures(spark))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_domain_filter_gate_is_broadcast(spark):
    """The per-page verdict joins against the broadcast stats side —
    never a second shuffle of the corpus."""
    import contextlib
    import io

    df = domain_filter(_captures(spark))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
