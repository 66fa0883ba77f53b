"""Web-text pipeline steps: the point-in-time as-of join, benchmark
decontamination, tf-idf and BPE pair tables, canonical-URL capture
dedup and domain gating, and the one-call curation cascade."""

from __future__ import annotations

from pyspark.sql import functions as F

from serialization_agents_spark.operators.asof import asof_join
from serialization_agents_spark.operators.contamination import contamination_report
from serialization_agents_spark.operators.curate import curate_corpus
from serialization_agents_spark.operators.urls import (
    canonical_url_sql,
    dedup_latest_capture,
    domain_filter,
    domain_stats,
    registered_domain_sql,
)
from serialization_agents_spark.operators.vocab import bpe_pair_stats, tfidf_topk
from serialization_agents_spark.queries.common import (
    LANG_COUNTS,
    LANG_PRED,
    NTOK,
    QUAL_EXPR,
    SHINGLES,
    TOKS,
    qual_cte,
    registry,
    table,
    url_captures,
)

ENTRIES, query = registry()

# The url_captures generator, rebuilt in SQL (pure doc_id arithmetic),
# plus the shared canonicalization chain from CANONICAL_STEPS.
_URL_CAPS = (
    "WITH captures AS (SELECT doc_id, concat("
    "CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END, "
    "CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END, "
    "'site' || ((doc_id // 2) % 23) || '.example', "
    "CASE WHEN doc_id % 9 = 0 THEN "
    "(CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END) ELSE '' END, "
    "'/articles/item-' || (doc_id // 2), "
    "CASE WHEN doc_id % 8 = 3 AND (doc_id // 2) % 5 <> 0 THEN '/' ELSE '' END, "
    "CASE WHEN (doc_id // 2) % 5 = 0 AND doc_id % 4 = 0 "
    "THEN '?utm_campaign=w17&q=' || ((doc_id // 2) % 7) "
    "WHEN (doc_id // 2) % 5 = 0 THEN '?q=' || ((doc_id // 2) % 7) "
    "WHEN doc_id % 4 = 0 THEN '?utm_source=feed' ELSE '' END, "
    "CASE WHEN doc_id % 6 = 1 THEN '#section-2' ELSE '' END"
    ") AS url, 1704067200 + doc_id * 7 AS warc_ts, "
    "repeat('w ', CAST(5 + ((doc_id // 2) % 23) * 3 AS INT)) AS text "
    "FROM documents), "
    "url_canon AS (SELECT doc_id, url, warc_ts, text, "
    f"{canonical_url_sql('url')} AS canon_url FROM captures)"
)
_URL_DOM = registered_domain_sql("canon_url")


# As-of join, replayed with the identical union-window algebra (rights
# sort before lefts at equal ts; right ties resolve to the max
# tiebreak).
@query(
    "WITH ev AS (SELECT event_id, user_id, event_type, "
    "epoch_us(ts) AS tsu FROM events), "
    "u AS (SELECT user_id, tsu AS sts, 1 AS side, "
    "NULL::BIGINT AS tie, event_id, tsu, "
    "NULL::BIGINT AS r_view, NULL::BIGINT AS r_tsu "
    "FROM ev WHERE event_type = 'purchase' "
    "UNION ALL SELECT user_id, tsu, 0, event_id, NULL, NULL, "
    "event_id, tsu FROM ev WHERE event_type = 'view'), "
    "w AS (SELECT *, last_value(r_view IGNORE NULLS) OVER win AS m_view, "
    "last_value(r_tsu IGNORE NULLS) OVER win AS m_tsu FROM u "
    "WINDOW win AS (PARTITION BY user_id "
    "ORDER BY sts ASC, side ASC, tie ASC NULLS LAST "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) "
    "SELECT event_id, user_id, sts AS purchase_ts, "
    "m_view AS view_id, m_tsu AS view_ts FROM w WHERE side = 1"
)
def o5_asof_join(spark, sf):
    """Point-in-time as-of join: each purchase event matched to the
    user's latest view at-or-before it (union-window form — one
    shuffle on user_id, O(1) running state; never a range join)."""
    ev = table(spark, sf, "events").select(
        "event_id",
        "user_id",
        "event_type",
        # exact integer micros, as in o4 (session TZ is UTC, so the
        # NTZ->TZ cast is the identity)
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tsu"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "tsu"
    )
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "tsu"
    )
    j = asof_join(purchases, views, on="user_id")
    return j.select(
        "event_id",
        "user_id",
        F.col("tsu").alias("purchase_ts"),
        F.col("asof_view_id").alias("view_id"),
        F.col("asof_tsu").alias("view_ts"),
    )


# The same token/shingle fragments as the minhash oracles.
@query(
    f"WITH wt AS (SELECT doc_id, {TOKS} AS w FROM documents), "
    f"shl AS (SELECT doc_id, {SHINGLES} AS sh FROM wt), "
    "bg AS (SELECT DISTINCT unnest(sh) AS gram FROM shl "
    "WHERE doc_id % 41 = 0), "
    "cg AS (SELECT doc_id, unnest(sh) AS gram FROM shl) "
    "SELECT cg.doc_id, count(DISTINCT cg.gram)::BIGINT AS n_hits "
    "FROM cg JOIN bg USING (gram) GROUP BY cg.doc_id"
)
def text_decontaminate(spark, sf):
    """Benchmark-decontamination report: corpus docs sharing any
    3-gram with a benchmark suite (here: the deterministic
    doc_id % 41 == 0 slice standing in for an eval set). Benchmark
    grams broadcast; the only shuffle is the per-doc hit agg."""
    docs = table(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 41 == 0).select("text")
    return contamination_report(docs, bench)


@query(
    f"WITH ex AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents), "
    "tf AS (SELECT doc_id, term, count(*) AS tf FROM ex "
    "WHERE term <> '' GROUP BY doc_id, term), "
    "dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf "
    "GROUP BY term), "
    "n AS (SELECT count(*) AS n FROM documents), "
    "s AS (SELECT tf.doc_id, tf.term, round(tf.tf * "
    "round(ln((SELECT n FROM n)::DOUBLE / df), 4), 4) AS score "
    "FROM tf JOIN dfreq USING (term)), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
    "ORDER BY score DESC, term ASC) AS rank FROM s) "
    "SELECT doc_id, term, score, rank FROM r WHERE rank <= 3"
)
def text_tfidf_topk(spark, sf):
    """Per-doc top-3 tf-idf terms. idf is 4dp-rounded before the
    multiply so ranking can't hinge on a sub-ulp libm difference
    between engines; ties break on term."""
    return tfidf_topk(table(spark, sf, "documents"))


@query(
    f"WITH wt AS (SELECT {TOKS} AS w FROM documents), "
    "p AS (SELECT unnest(list_transform(range(1, len(w)), "
    "i -> {'l': w[i], 'r': w[i+1]})) AS p FROM wt WHERE len(w) >= 2) "
    "SELECT p.l AS tok_left, p.r AS tok_right, "
    "count(*) AS pair_freq FROM p GROUP BY 1, 2"
)
def text_bpe_pair_stats(spark, sf):
    """Adjacent-token-pair frequency table (one BPE induction
    iteration): narrow pair transform + ONE hash agg on the pair."""
    return bpe_pair_stats(table(spark, sf, "documents"))


@query(
    _URL_CAPS + ", r AS (SELECT canon_url, url, warc_ts, "
    "row_number() OVER (PARTITION BY canon_url "
    "ORDER BY warc_ts DESC, url ASC) AS rn, "
    "count(*) OVER (PARTITION BY canon_url) AS n_captures FROM url_canon) "
    "SELECT canon_url, url AS kept_url, warc_ts AS kept_ts, n_captures "
    "FROM r WHERE rn = 1"
)
def url_dedup_latest(spark, sf):
    """Canonical-URL latest-capture dedup (the first pass of a crawl
    pipeline): normalize scheme/www/port/tracking/fragment variants
    to one canonical key, keep the newest capture per key. ONE
    shuffle on canon_url shared by both window functions."""
    kept = dedup_latest_capture(url_captures(spark, sf))
    return kept.select(
        "canon_url",
        F.col("url").alias("kept_url"),
        F.col("warc_ts").alias("kept_ts"),
        "n_captures",
    )


@query(
    _URL_CAPS + f", dd AS (SELECT {_URL_DOM} AS domain, canon_url, "
    f"{NTOK} AS n_tokens, warc_ts AS ts_epoch FROM url_canon) "
    "SELECT domain, count(*) AS n_pages, "
    "count(DISTINCT canon_url) AS n_canonical, "
    "sum(n_tokens)::BIGINT AS total_tokens, "
    "max(ts_epoch) AS latest_ts_epoch FROM dd GROUP BY domain"
)
def url_domain_stats(spark, sf):
    """Per-registered-domain rollup (page/canonical counts, token
    totals, latest capture) — the input table of a FineWeb-style
    domain-level curation gate. One hash agg on the domain key."""
    return domain_stats(url_captures(spark, sf))


@query(
    _URL_CAPS + f", dd AS (SELECT doc_id, {_URL_DOM} AS domain, "
    f"{NTOK} AS n_tokens FROM url_canon), "
    "s AS (SELECT domain, count(*) AS n_pages, "
    "sum(n_tokens)::BIGINT AS total_tokens FROM dd GROUP BY domain), "
    "good AS (SELECT domain FROM s "
    "WHERE n_pages >= 2 AND total_tokens // n_pages >= 35) "
    "SELECT dd.doc_id, dd.domain FROM dd JOIN good USING (domain)"
)
def url_domain_filter(spark, sf):
    """Domain-level corpus gate: keep pages whose registered domain
    has >= 2 captures AND integer-average >= 35 tokens/page. The
    stats side aggregates once and broadcasts back — the per-page
    verdict is a broadcast hash join, never a second corpus
    shuffle."""
    return domain_filter(url_captures(spark, sf)).select("doc_id", "domain")


# Gate thresholds compare the 4-dp-rounded values on both sides.
@query(
    qual_cte("doc_id")
    + f", qv AS (SELECT doc_id, {QUAL_EXPR} AS quality FROM q), "
    f"lf AS (SELECT doc_id, {LANG_COUNTS} FROM documents), "
    f"lp AS (SELECT doc_id, {LANG_PRED} FROM lf), "
    f"rt AS (SELECT doc_id, {TOKS} AS l FROM documents), "
    "rg AS (SELECT doc_id, list_transform(range(1, len(l) - 1), "
    "i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) AS g3 FROM rt), "
    "r3 AS (SELECT doc_id, CASE WHEN len(g3) > 0 THEN "
    "round(1.0 - len(list_distinct(g3))::DOUBLE / len(g3), 4) "
    "ELSE 0.0 END AS dup3 FROM rg), "
    "k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)), "
    "st AS (SELECT d.doc_id, lp.lang_pred, qv.quality, r3.dup3, CASE "
    "WHEN k.doc_id IS NULL THEN 'duplicate' "
    "WHEN lp.lang_pred <> 'en' THEN 'lang' "
    "WHEN qv.quality < 0.75 THEN 'quality' "
    "WHEN r3.dup3 > 0.01 THEN 'repetition' "
    "ELSE 'kept' END AS status "
    "FROM documents d JOIN lp USING (doc_id) JOIN qv USING (doc_id) "
    "JOIN r3 USING (doc_id) LEFT JOIN k USING (doc_id)), "
    f"ct AS (SELECT d.doc_id, {TOKS} AS w FROM documents d "
    "JOIN st USING (doc_id) WHERE st.status = 'kept'), "
    "cix AS (SELECT doc_id, w, unnest(range(0, "
    "CAST(ceil(len(w) / 12.0) AS BIGINT))) AS i FROM ct WHERE len(w) > 0), "
    "cch AS (SELECT doc_id, i AS chunk_idx, "
    "array_to_string(w[(i*12+1):(i*12+12)], ' ') AS chunk FROM cix), "
    "cchf AS (SELECT doc_id, chunk_idx, chunk FROM cch WHERE chunk <> ''), "
    "cr AS (SELECT doc_id, row_number() OVER ("
    "PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx) AS rn FROM cchf), "
    "cs AS (SELECT doc_id, count(*) AS total_chunks, "
    "sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS kept_chunks "
    "FROM cr GROUP BY doc_id) "
    "SELECT st.doc_id, st.status, st.lang_pred, st.quality, "
    "st.dup3 AS dup_3gram_fraction, "
    "coalesce(cs.total_chunks, 0)::BIGINT AS total_chunks, "
    "coalesce(cs.kept_chunks, 0)::BIGINT AS kept_chunks "
    "FROM st LEFT JOIN cs USING (doc_id)"
)
def webtext_curate(spark, sf):
    """The full C4/CCNet curation cascade in ONE call: exact dedup ->
    language gate -> quality gate -> repetition gate -> chunk-level
    keep-first dedup across survivors, with a per-doc status column
    naming the first failing gate. Composes only already-certified
    pieces; the oracle recomposes the identical cascade in SQL.
    Thresholds here are tuned to the synthetic corpus's feature
    distribution (quality p05 = 0.75, dup3 p95 = 0.011) so the
    quality AND repetition branches both fire at the sf0.01 gate;
    the exact-dup branch only fires where the corpus has dups
    (sf0.1+) and is pytest-covered on crafted docs."""
    return curate_corpus(table(spark, sf, "documents"))
