"""URL-level corpus operators: canonical-URL normalization, latest-capture
dedup, and domain-level aggregation / gating.

A Common-Crawl-style corpus carries many captures of the same logical page
(scheme/www/fragment/tracking-param variants, re-crawls at different
`warc_ts`). The standard first pass of a web-scale training-data pipeline
is therefore URL-keyed: normalize every URL to a canonical form, keep the
LATEST capture per canonical URL, then aggregate quality signals per
registered domain and gate whole domains (the FineWeb/CCNet-style
domain-level filter). The reference pipeline has no URL stage (its inputs
are catalog records keyed by id — see serialization-agents index.js

This module is the web-scale analogue of its "skip already-processed
records" posture (lib/prepare.js) applied to crawl captures.

Scale notes (100 TB):
- `canonical_url` is a chain of pure-JVM `regexp_replace` steps in the
  RE2-safe subset (no backrefs in patterns, no lookarounds) so the same
  chain runs identically in Spark (Java regex) and DuckDB (RE2) — the
  oracle certifies the cross-engine agreement byte-for-byte.
- `dedup_latest_capture` is ONE shuffle on the canonical-url key
  (row_number window). Canonical URLs are near-unique keys, so the
  window never sees skew; AQE handles stragglers.
- `domain_stats` is ONE hash aggregation on the registered domain;
  domain keys are Zipf-skewed at web scale, but the aggregate is purely
  associative (counts/sums/max) so map-side partial combine flattens the
  skew before the shuffle.
- `domain_filter` broadcasts the (tiny relative to pages) domain-stats
  side, so the per-page gate is a broadcast hash join — no second
  shuffle of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

# domain_filter's gate: pages per domain and average tokens per page.
MIN_PAGES = 2
MIN_AVG_TOKENS = 35

# Query params that never change page identity (analytics/click ids).
TRACKING_PARAMS = r"utm_[a-z0-9_]+|fbclid|gclid|msclkid|mc_eid|ref"

# The canonicalization chain as data: (pattern, replacement-with-$refs).
# Order matters. Patterns stay in the RE2-safe regex subset shared by
# Spark (java.util.regex) and DuckDB (RE2) — alternation, classes,
# anchors, no backreferences-in-pattern or lookarounds — so the SAME
# list drives both the Column expression (`canonical_url`) and the
# oracle SQL (`canonical_url_sql`) and the two engines canonicalize
# byte-identically.
CANONICAL_STEPS: list[tuple[str, str]] = [
    (r"^https?://", ""),               # strip scheme
    (r"^www\.", ""),                   # strip leading www.
    (r"#.*$", ""),                     # strip fragment
    (r"^([^/:]+):(80|443)(/|$)", "$1$3"),  # strip default ports
    (r"[?&](" + TRACKING_PARAMS + r")=[^&]*", ""),  # drop tracking params
    (r"^([^?]*)&", "$1?"),             # repair list whose FIRST param went
    (r"[?&]$", ""),                    # strip dangling ? / &
    (r"/$", ""),                       # strip one trailing slash
]


def canonical_url(url: Column) -> Column:
    """Canonical form of a URL, as a pure-JVM expression chain.

    Steps (order matters — see CANONICAL_STEPS): lowercase; strip
    scheme; strip leading `www.`; strip `#fragment`; strip default
    :80/:443 ports; remove tracking query params; repair a parameter
    list whose FIRST param was removed (`path&b=2` -> `path?b=2`);
    strip a dangling `?`/`&`; strip one trailing slash.
    """
    u = F.lower(F.trim(url))
    for pat, repl in CANONICAL_STEPS:
        u = F.regexp_replace(u, pat, repl)
    return u


def canonical_url_sql(expr: str) -> str:
    """The identical canonicalization chain as a DuckDB SQL expression
    over `expr` — same CANONICAL_STEPS, `$n` group refs rewritten to
    RE2's `\\n`, global ('g') replacement to match Spark's replace-all
    semantics."""
    sql = f"lower(trim({expr}))"
    for pat, repl in CANONICAL_STEPS:
        duck_pat = pat.replace("'", "''")
        duck_repl = repl.replace("$1", r"\1").replace("$3", r"\3")
        sql = f"regexp_replace({sql}, '{duck_pat}', '{duck_repl}', 'g')"
    return sql


def registered_domain_sql(canon_expr: str) -> str:
    """DuckDB twin of `registered_domain` over a canonical-URL expr."""
    host = f"regexp_extract({canon_expr}, '^([^/?]+)', 1)"
    return f"regexp_extract({host}, '([^.]+\\.[^.]+)$', 1)"


def registered_domain(canon: Column) -> Column:
    """Registered domain (eTLD+1 approximation) of a canonical URL.

    Takes the last two dot-labels of the host. A production deployment
    swaps this for a broadcast join against the public-suffix list (the
    PSL is ~10k rows — broadcastable everywhere); the two-label
    approximation keeps the gate queries closed-form in both engines.
    """
    host = F.regexp_extract(canon, r"^([^/?]+)", 1)
    return F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)


def dedup_latest_capture(pages: DataFrame) -> DataFrame:
    """Keep the LATEST capture per canonical URL.

    Ties on `warc_ts` break toward the lexicographically smallest raw
    URL so the keeper is deterministic under any partitioning. Output:
    one row per canonical URL with the keeper's raw url and timestamp
    plus the capture count (`n_captures`) for lineage.

    One shuffle total: the row_number window and the per-key count share
    the same `canon_url` partitioning, so Catalyst plans a single
    Exchange reused by both window functions.
    """
    from pyspark.sql.window import Window

    canon = pages.withColumn("canon_url", canonical_url(F.col("url")))
    w = Window.partitionBy("canon_url").orderBy(
        F.col("warc_ts").desc(), F.col("url").asc()
    )
    return (
        canon.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_captures",
            F.count(F.lit(1)).over(Window.partitionBy("canon_url")),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def domain_stats(pages: DataFrame) -> DataFrame:
    """Per-registered-domain aggregates over the corpus.

    Returns one row per domain: page count, distinct canonical URLs,
    total whitespace tokens, and the latest capture epoch — the inputs
    to a domain-level curation gate. Integer-only output so the DuckDB
    oracle hash is exact.
    """
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    canon = canonical_url(F.col("url"))
    return (
        pages.select(
            registered_domain(canon).alias("domain"),
            canon.alias("canon_url"),
            F.when(F.trim(F.col("text")) == "", F.lit(0))
            .otherwise(F.size(toks))
            .alias("n_tokens"),
            F.col("warc_ts").cast("long").alias("ts_epoch"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("canon_url").alias("n_canonical"),
            F.sum("n_tokens").alias("total_tokens"),
            F.max("ts_epoch").alias("latest_ts_epoch"),
        )
    )


def domain_filter(pages: DataFrame) -> DataFrame:
    """Domain-level corpus gate: keep pages whose registered domain has
    at least MIN_PAGES pages AND an average token count of at least
    MIN_AVG_TOKENS (integer-division average, so both engines agree
    exactly).

    The stats side is one aggregate over the corpus (one shuffle on
    domain), then broadcast back — the per-page decision is a broadcast
    hash join, not a second corpus shuffle. At 10^12 pages the domain
    dimension is ~10^8 rows; a production run would bucket it instead of
    broadcasting, which changes only the hint, not the algebra.
    """
    stats = domain_stats(pages)
    good = stats.where(
        (F.col("n_pages") >= MIN_PAGES)
        & (F.expr("total_tokens DIV n_pages") >= MIN_AVG_TOKENS)
    ).select("domain")
    canon = canonical_url(F.col("url"))
    return pages.withColumn(
        "domain", registered_domain(canon)
    ).join(broadcast(good), "domain", "inner")
