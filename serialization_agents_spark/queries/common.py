"""What several query modules share: the registry decorator, the
deterministic fixture builders every query derives its inputs from, the
memoized kg pipeline with the scratch each query call leaves behind, and
the DuckDB SQL fragments more than one module's oracles are built from.

Every fixture value is a pure function of the sf tables (doc_id,
customer keys), so each oracle rebuilds the same rows analytically."""

from __future__ import annotations

import gc
import shutil
import tempfile
import time
from collections.abc import Callable
from contextlib import ExitStack

import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.streaming import StreamingQuery

from serialization_agents_spark.functions.normalize import normalize_name_expr
from serialization_agents_spark.parallel import spread
from serialization_agents_spark.plans.pipeline import PipelineResult, run_pipeline

Query = Callable[[SparkSession, str], DataFrame]
# (name, plan, oracle SQL or None for a rows-only query)
Entry = tuple[str, Query, str | None]


def registry() -> tuple[list[Entry], Callable[[str | None], Callable[[Query], Query]]]:
    """A module's ENTRIES list and its `query` decorator: `@query(sql)`
    over `def <name>(spark, sf)` appends `(name, fn, sql)`, so definition
    order is key order and the function name is the key's one spelling."""
    entries: list[Entry] = []

    def query(oracle: str | None) -> Callable[[Query], Query]:
        def register(fn: Query) -> Query:
            entries.append((fn.__name__, fn, oracle))
            return fn

        return register

    return entries, query


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _key(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    return (spark.sparkContext.applicationId, sf_dir)


# The heavy kg pipeline and each query call's scratch are held per
# (spark app, sf_dir): the kg_* suite shares one linked/canonical DAG
# instead of re-deriving it per query.
_KG_CACHE: dict[tuple[str, str], PipelineResult] = {}
_SCRATCH: dict[tuple[str, str], ExitStack] = {}


def footer_row_count(sf_dir: str, name: str) -> int:
    """Plan-build-time row count of a table, read from its parquet
    footers: no Spark job."""
    return ds.dataset(f"{sf_dir}/{name}.parquet").count_rows()


# ---------------------------------------------------------------------------
# KG flagship: pages derived deterministically from documents x customer.
# Every value is a pure function of (doc_id, customer count), so the DuckDB
# oracle can reproduce the whole pipeline analytically.
#
# Mention-1 markup branches (per doc_id d, ck1 = (d*37) % n):
#   A d%6==0              stale VIAF hint ck1+9000000  (J6/S11 redirects path)
#   B d%2==0, d%6!=0      live VIAF hint ck1           (J1 path)
#   C d odd, ck1 even     LCNAF URI only, name "Agent <ck1>"  (P3/J2 path —
#                         the name intentionally misses the name block)
#   D d odd, ck1 odd      plain span, UPPER(name)      (J4 name path)
# Plus: secondary mention (d%3==0), noise span (d%5==0), and a subject
# block (P4): name-typed subject at d%7==0, topic-typed at d%7==3.
# ---------------------------------------------------------------------------
def kg_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the whole narrow fact path (page markup -> extract -> mention
    # regexes -> broadcast linking) chains off this scan; a single-row-
    # group test file would otherwise pin it all to ONE task
    docs = spread(table(spark, sf_dir, "documents").select("doc_id"))
    cust = table(spark, sf_dir, "customer")
    n = footer_row_count(sf_dir, "customer")
    d = F.col("doc_id")
    base = (
        # the (d%7)*11 term decouples ck1's parity/mod-3 class from d's, so
        # every markup branch below is non-empty at every sf (a pure-linear
        # key collapses: n % 6 == 0 forces ck1 odd for odd d, etc.)
        docs.withColumn("ck1", (d * 37 + (d % 7) * 11) % n)
        .withColumn("ck2", F.when(d % 3 == 0, (d * 53 + 11) % n))
        .withColumn("ck3", F.when(d % 7 == 0, (d * 11 + 3) % n))
        .withColumn("stale1", d % 6 == 0)
        .withColumn("vhint1", (d % 2 == 0) & (d % 6 != 0))
        .withColumn("lchint1", (d % 2 == 1) & (F.col("ck1") % 2 == 0))
        .withColumn("hinted2", d % 4 == 0)
        .withColumn("noise", F.when(d % 5 == 0, F.format_string("Unlisted Person %d", d % 37)))
    )
    c1 = cust.select(F.col("c_custkey").alias("ck1"), F.col("c_name").alias("name1"))
    c2 = cust.select(F.col("c_custkey").alias("ck2"), F.col("c_name").alias("name2"))
    c3 = cust.select(F.col("c_custkey").alias("ck3"), F.col("c_name").alias("name3"))
    base = (
        base.join(broadcast(c1), "ck1")
        .join(broadcast(c2), "ck2", "left")
        .join(broadcast(c3), "ck3", "left")
    )

    def span_viaf(ck, name):
        return F.format_string(
            '<p>Work by <span class="agent" data-viaf="%s">%s</span> reviewed.</p>',
            ck.cast("string"), name,
        )

    def span_plain(name):
        return F.format_string(
            '<p>Work by <span class="agent">%s</span> reviewed.</p>', name
        )

    s1 = (
        F.when(F.col("stale1"), span_viaf(F.col("ck1") + 9000000, F.col("name1")))
        .when(F.col("vhint1"), span_viaf(F.col("ck1"), F.col("name1")))
        .when(
            F.col("lchint1"),
            F.format_string(
                '<p>Work by <span class="agent" data-lcnaf='
                '"http://id.loc.gov/authorities/names/n%s">Agent %s</span> reviewed.</p>',
                F.col("ck1").cast("string"), F.col("ck1").cast("string"),
            ),
        )
        .otherwise(span_plain(F.upper(F.col("name1"))))
    )
    s2 = F.when(
        F.col("ck2").isNotNull(),
        F.when(F.col("hinted2"), span_viaf(F.col("ck2"), F.col("name2"))).otherwise(
            span_plain(F.upper(F.col("name2")))
        ),
    )
    sn = F.when(F.col("noise").isNotNull(), span_plain(F.col("noise")))
    subj = F.when(
        F.col("ck3").isNotNull(),
        F.format_string(
            '<p>Subjects: <span class="subject" data-type="name">%s</span></p>',
            F.col("name3"),
        ),
    ).when(
        d % 7 == 3,
        F.format_string(
            '<p>Theme: <span class="subject" data-type="topic">Theme T%d</span></p>',
            d % 13,
        ),
    )
    html = F.concat(
        F.lit("<html><head><title>D</title></head><body><nav>Site Nav</nav>"),
        F.concat_ws("", s1, s2, sn, subj),
        F.format_string("<p>Document %d.</p>", d),
        F.lit("<footer>(c) docs</footer></body></html>"),
    )
    return base.select(
        F.format_string("https://example.org/doc/%d", d).alias("url"),
        # 37 s spacing spreads sf0.01's 500 docs over ~31 tumbling 10-min
        # windows so kg_windowed_metrics certifies the window GROUP BY
        # across many buckets (1 s spacing kept every page in one window).
        F.timestamp_seconds(F.lit(1704067200) + d * 37).alias("warc_ts"),
        html.cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )


# ---------------------------------------------------------------------------
# URL-keyed crawl captures for the urls.py operator family: deterministic
# scheme/www/port/tracking-param/fragment variants of logical pages, derived
# purely from doc_id so DuckDB rebuilds the identical table. Logical page =
# doc_id DIV 2 (two captures per page; the later warc_ts wins the dedup);
# registered domain = site{page % 23}.example; text = repeat('w ', 5+3*dom)
# so every domain's average token count is EXACTLY 5+3*dom and the domain
# gate discriminates identically at every scale factor.
# ---------------------------------------------------------------------------
def url_captures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    page = F.expr("doc_id DIV 2")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.format_string("site%d.example", page % 23),
        F.when(
            d % 9 == 0,
            F.when(d % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")),
        ).otherwise(F.lit("")),
        F.format_string("/articles/item-%d", page),
        F.when((d % 8 == 3) & (page % 5 != 0), F.lit("/")).otherwise(F.lit("")),
        F.when(
            (page % 5 == 0) & (d % 4 == 0),
            F.format_string("?utm_campaign=w17&q=%d", page % 7),
        )
        .when(page % 5 == 0, F.format_string("?q=%d", page % 7))
        .when(d % 4 == 0, F.lit("?utm_source=feed"))
        .otherwise(F.lit("")),
        F.when(d % 6 == 1, F.lit("#section-2")).otherwise(F.lit("")),
    )
    return docs.select(
        "doc_id",
        url.alias("url"),
        (F.lit(1704067200) + d * 7).alias("warc_ts"),
        F.expr("repeat('w ', CAST(5 + ((doc_id DIV 2) % 23) * 3 AS INT))").alias(
            "text"
        ),
    )


def kg_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authority dimension derived from `customer`.

    Customers with c_custkey % 17 == 5 carry an EXTRA normalized form —
    the normalized name of customer k-1 — so the k-1 name block holds TWO
    candidates and kg_linked must run the fuzzy argmax (J4 multi-candidate
    path) to pick the right one; the oracle encodes the analytically
    provable winner (the near-exact candidate k-1 strictly out-scores k
    under string_score).

    X4 coverage: lc_terms of customers with k % 9 == 4 carry the
    reference's '(Spirit)' qualifier (lib/utils_shadowcat.js:230) that
    merge must strip back to c_name — the oracle is blind to the suffix,
    so an unstripped name hash-fails kg_agents/kg_triples. Rows in the
    engineered fuzzy blocks (k % 17 in (4, 5)) are exempted so the
    provable-argmax analysis above is untouched.
    """
    # the authority feeds THREE broadcast builds (viaf keys, lc keys,
    # name-block argmax), each paying the normalize regex per row — fan
    # the one-row-group scan out so those builds are not single-task
    cust = spread(table(spark, sf_dir, "customer").select("c_custkey", "c_name"))
    k = F.col("c_custkey")
    norm = normalize_name_expr(F.col("c_name"))
    collide = (k % 17 == 5) & (k >= 1)
    spirit = (k % 9 == 4) & ~(k % 17).isin(4, 5)
    lc_term = F.when(
        k % 2 == 0,
        F.concat(F.col("c_name"), F.when(spirit, F.lit(" (Spirit)")).otherwise(F.lit(""))),
    )
    return cust.select(
        k.cast("string").alias("viaf_id"),
        F.array(k.cast("string")).alias("viaf_all"),
        F.lit(1).alias("source_count"),
        F.when(k % 10 == 9, "Corporate").otherwise("Personal").alias("type"),
        (k % 2 == 0).alias("has_lc"),
        F.when(k % 2 == 0, F.concat(F.lit("n"), k.cast("string"))).alias("lc_id"),
        F.when(k % 4 == 0, (k + 500000000).cast("string")).alias("getty_id"),
        F.when(k % 3 == 0, F.concat(F.lit("Q"), k.cast("string"))).alias("wikidata_id"),
        lc_term.alias("lc_term"),
        F.lit(None).cast("string").alias("dnb_term"),
        F.col("c_name").alias("viaf_term"),
        F.lit(None).cast("string").alias("birth"),
        F.lit(None).cast("string").alias("death"),
        F.lit(None).cast("string").alias("dbpedia_id"),
        F.when(
            collide, F.array(norm, F.format_string("customer %09d", k - 1))
        ).otherwise(F.array(norm)).alias("normalized"),
        F.array().cast("array<long>").alias("fast"),
    )


def kg_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static VIAF-redirects dimension (stands in for the reference's live
    probes, /root/reference/lib/viaf.js:11-128). Stale id ck+9000000:
    ck%3==0 redirects to ck; ck%3==1 is deleted with a mads:useInstead LC
    fallback; ck%3==2 is dead (no fallback)."""
    cust = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return cust.select(
        (k + 9000000).cast("string").alias("old_id"),
        F.when(k % 3 == 0, k.cast("string")).alias("new_id"),
        F.lit(None).cast("string").alias("lc_id"),
        F.when(k % 3 == 1, F.concat(F.lit("n"), k.cast("string"))).alias("use_instead_lc"),
    )


def kg_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, ...]:
    """run_pipeline's (pages, authority, redirects) for this sf."""
    return (
        kg_pages(spark, sf_dir),
        kg_authority(spark, sf_dir),
        kg_redirects(spark, sf_dir),
    )


def kg_canonical(spark: SparkSession, sf_dir: str) -> PipelineResult:
    """The kg pipeline through the enumerated canonical agents, built once
    per (spark app, sf_dir) by the in-memory run_pipeline: the kg_*
    queries read its pinned `linked`, `agents` and `canonical` frames."""
    key = _key(spark, sf_dir)
    if key not in _KG_CACHE:
        _KG_CACHE[key] = run_pipeline(
            spark, *kg_inputs(spark, sf_dir), until="canonical"
        )
    return _KG_CACHE[key]


def scratch_dir(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """A fresh temp dir for one query call's staged files. The query's
    DataFrame reads them lazily, so they live until kg_cache_clear
    releases this (spark app, sf_dir) entry."""
    path = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH.setdefault(_key(spark, sf_dir), ExitStack()).callback(shutil.rmtree, path)
    return path


def await_query(q: StreamingQuery, name: str) -> None:
    """Block until an availableNow query has drained its input; raise if
    it timed out or failed."""
    finished = q.awaitTermination(600)
    if not finished or q.exception() is not None:
        q.stop()
        raise RuntimeError(
            f"{name} streaming query did not finish cleanly: "
            f"timed_out={not finished} exception={q.exception()}"
        )


def kg_cache_clear(
    sf_dir: str | None = None, wait_cleanup_s: float = 0.0
) -> int:
    """Release the memoized kg pipeline's persisted frames and every
    query call's scratch dirs (all entries, or just one sf_dir's). The
    bench/driver processes are short-lived so the cache can stay pinned
    there, but a long-lived session embedding queries() should call this
    between corpora to avoid leaking executor storage and disk. Returns
    the number of pipeline entries released.

    `.unpersist()` covers the two explicit persists; the pipeline's
    `localCheckpoint` blocks (authority, merged agents, CC loop,
    enumerate offsets, block-argmax dimension) are pinned by RDD
    references, not the CacheManager, and are NOT unpersisted directly
    — doing so would corrupt any still-referenced frame, because a local
    checkpoint truncates lineage (the blocks are the only copy). They are
    instead released by Spark's ContextCleaner once unreachable: with
    `wait_cleanup_s` > 0 this drops the Python references, forces a GC
    on both sides, and polls storage until the checkpoint blocks are
    gone (or the deadline passes). Returns even if blocks remain —
    callers that require a clean storage state assert on it (bench.py
    does)."""
    released = 0
    for key in list(_KG_CACHE.keys() | _SCRATCH.keys()):
        if sf_dir is not None and key[1] != sf_dir:
            continue
        _SCRATCH.pop(key, ExitStack()).close()
        res = _KG_CACHE.pop(key, None)
        if res is not None:
            res.linked.unpersist()
            res.canonical.unpersist()
            released += 1
    res = None  # drop the loop's ref
    if wait_cleanup_s > 0:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            gc.collect()  # release py4j handles -> JVM refs unreachable
            jsc = spark.sparkContext._jsc.sc()
            deadline = time.time() + wait_cleanup_s
            while time.time() < deadline:
                # ContextCleaner's thread drains the reference queue the
                # JVM GC populates; nudge the GC until storage is empty.
                spark.sparkContext._jvm.System.gc()
                if len(jsc.getRDDStorageInfo()) == 0:
                    break
                time.sleep(0.25)
    return released


# ---------------------------------------------------------------------------
# DuckDB SQL fragments shared by several modules' oracles.
# ---------------------------------------------------------------------------
TOKS = "string_split_regex(lower(trim(text)), '\\s+')"
NTOK = f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({TOKS}) END"
SHINGLES = (
    "list_distinct(CASE WHEN len(w) >= 3 THEN "
    "list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) "
    "ELSE [array_to_string(w, ' ')] END)"
)
LANG_COUNTS = ", ".join(
    f"len(list_intersect({TOKS}, {markers!r})) AS s_{lang}"
    for lang, markers in [
        ("en", ["the", "and", "of", "to", "a", "in", "is", "that", "it", "was"]),
        ("de", ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "den", "von"]),
        ("fr", ["le", "la", "les", "et", "est", "une", "dans", "que", "pour", "des"]),
        ("es", ["el", "la", "los", "las", "es", "una", "en", "que", "por", "con"]),
    ]
)
LANG_PRED = (
    "CASE "
    "WHEN s_en <= 0 AND s_de <= 0 AND s_fr <= 0 AND s_es <= 0 THEN 'und' "
    "WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en' "
    "WHEN s_de >= s_fr AND s_de >= s_es THEN 'de' "
    "WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred"
)


def qual_cte(extra_cols: str) -> str:
    """The quality-score inputs over `documents` as CTE `q` — one source
    of truth for every oracle that derives quality (QUAL_EXPR)."""
    return (
        f"WITH q AS (SELECT {extra_cols}, length(text) AS n_chars, "
        f"{NTOK} AS n_tok, "
        f"len(list_intersect({TOKS}, "
        "['the','and','of','to','a','in','is','that','it','was'])) AS stop_hits, "
        "len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct "
        "FROM documents)"
    )


QUAL_EXPR = (
    "round(("
    "least(n_tok / 20.0, 1.0) + "
    "(CASE WHEN n_tok > 0 AND (n_chars - (n_tok - 1.0)) / n_tok BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END) + "
    "least((CASE WHEN n_tok > 0 THEN stop_hits::DOUBLE / n_tok ELSE 0 END) * 10.0, 1.0) + "
    "greatest(0.0, 1.0 - (CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0 END) * 5.0)"
    ") / 4.0, 4)"
)


def string_score_walk(cols: str) -> str:
    """The string_score char-walk (`fuzzy_score_py` in tests/references.py
    — the public algorithm the reference calls at lib/utils.js:56) as a
    RECURSIVE CTE `walk` over `pq(<cols>, t, q)`, carrying the
    (i, r=running, s=start_at, f=fuzzies) state per row; score the
    finished rows (i = length(q)) with STRING_SCORE_FINAL.

    (A list_reduce lambda version exists but DuckDB 1.0's vectorized
    list_reduce bleeds accumulator fields across rows when the CASE
    branches diverge within a batch; the recursive CTE is branch-safe.
    tests/test_normalize.py sweeps this SQL against fuzzy_score_py.)"""
    # rel = 1-based find of query char i+1 in lower(t) from offset s;
    # 0 = miss. consecutive-match <=> rel == 1; 0-based hit idx = s+rel-1.
    rel = "strpos(substr(lower(t), s + 1), substr(lower(q), i + 1, 1))"
    return f"""walk AS (
  SELECT {cols}, t, q, 0 AS i,
         CAST(0.0 AS DOUBLE) AS r, 0 AS s, CAST(1.0 AS DOUBLE) AS f
  FROM pq
  UNION ALL
  SELECT {cols}, t, q, i + 1,
         CASE WHEN rel = 0 THEN r ELSE r
           + (CASE WHEN rel = 1 THEN 0.7 ELSE 0.1
              + (CASE WHEN substr(t, s + rel - 1, 1) = ' ' THEN 0.8 ELSE 0.0 END) END)
           + (CASE WHEN substr(t, s + rel, 1) = substr(q, i + 1, 1) THEN 0.1 ELSE 0.0 END)
         END,
         CASE WHEN rel = 0 THEN s ELSE s + rel END,
         CASE WHEN rel = 0 THEN f + 0.5 ELSE f END
  FROM (SELECT {cols}, t, q, i, r, s, f, {rel} AS rel
        FROM walk WHERE i < length(q)) x
)"""


STRING_SCORE_FINAL = "(0.5 * (w.r / length(t) + w.r / length(q)) / w.f)"


# The kg_* oracles' shared CTEs (DuckDB dialect). Mirrors kg_pages' four
# mention-1 branches (stale/vhint/lchint/plain), the secondary + noise +
# promoted-subject arms, and the linking outcome: every customer-backed
# mention resolves to viaf:<ck> (via J1, a redirect, the J2 LCNAF
# fallback, or the J4 name block — including the fuzzy multi-candidate
# blocks, whose winner is the near-exact candidate).
KG_SQL_BASE = """
WITH n AS (SELECT count(*) AS c FROM customer),
base AS (
  SELECT d.doc_id,
         'https://example.org/doc/' || d.doc_id AS url,
         (d.doc_id * 37 + (d.doc_id % 7) * 11) % (SELECT c FROM n) AS ck1,
         CASE WHEN d.doc_id % 3 = 0 THEN (d.doc_id * 53 + 11) % (SELECT c FROM n) END AS ck2,
         CASE WHEN d.doc_id % 7 = 0 THEN (d.doc_id * 11 + 3) % (SELECT c FROM n) END AS ck3,
         d.doc_id % 6 = 0 AS stale1,
         d.doc_id % 2 = 0 AND d.doc_id % 6 <> 0 AS vhint1,
         d.doc_id % 2 = 1
           AND ((d.doc_id * 37 + (d.doc_id % 7) * 11) % (SELECT c FROM n)) % 2 = 0 AS lchint1,
         d.doc_id % 4 = 0 AS hinted2,
         CASE WHEN d.doc_id % 5 = 0 THEN 'Unlisted Person ' || (d.doc_id % 37) END AS noise
  FROM documents d
),
withnames AS (
  SELECT b.*, c1.c_name AS name1, c2.c_name AS name2, c3.c_name AS name3
  FROM base b
  JOIN customer c1 ON b.ck1 = c1.c_custkey
  LEFT JOIN customer c2 ON b.ck2 = c2.c_custkey
  LEFT JOIN customer c3 ON b.ck3 = c3.c_custkey
),
mentions AS (
  SELECT url,
         CASE WHEN stale1 OR vhint1 THEN name1
              WHEN lchint1 THEN 'Agent ' || ck1
              ELSE upper(name1) END AS name_raw,
         CASE WHEN stale1 THEN CAST(ck1 + 9000000 AS VARCHAR)
              WHEN vhint1 THEN CAST(ck1 AS VARCHAR) END AS viaf_hint,
         CASE WHEN lchint1 THEN 'n' || ck1 END AS lc_hint,
         ck1 AS ck, 'web' AS src, 1 AS prio
  FROM withnames
  UNION ALL
  SELECT url, CASE WHEN hinted2 THEN name2 ELSE upper(name2) END AS name_raw,
         CASE WHEN hinted2 THEN CAST(ck2 AS VARCHAR) END AS viaf_hint,
         NULL AS lc_hint, ck2 AS ck, 'web' AS src, 1 AS prio
  FROM withnames WHERE ck2 IS NOT NULL
  UNION ALL
  SELECT url, noise AS name_raw, NULL AS viaf_hint, NULL AS lc_hint,
         NULL AS ck, 'web' AS src, 1 AS prio
  FROM withnames WHERE noise IS NOT NULL
  UNION ALL
  SELECT url, name3 AS name_raw, NULL AS viaf_hint, NULL AS lc_hint,
         ck3 AS ck, 'web_subject' AS src, 2 AS prio
  FROM withnames WHERE ck3 IS NOT NULL
),
linked AS (
  SELECT url, name_raw,
         CASE WHEN ck IS NOT NULL THEN 'viaf:' || ck
              ELSE 'noViaf:' || substr(md5(trim(regexp_replace(lower(name_raw), '[^a-z0-9]+', ' ', 'g'))), 1, 16)
         END AS entity_key,
         ck, src, prio
  FROM mentions
),
deduped AS (
  SELECT url, name_raw, entity_key, ck, min(prio) AS prio
  FROM linked GROUP BY url, name_raw, entity_key, ck
),
entities AS (
  SELECT entity_key,
         CASE WHEN max(ck) IS NOT NULL THEN max(c.c_name) ELSE min(name_raw) END AS name_controlled,
         max(ck) IS NOT NULL AS is_controlled,
         CASE WHEN max(ck) % 10 = 9 THEN 'corporate' ELSE 'personal' END AS type,
         count(*) AS mention_count,
         max(ck) AS ck
  FROM deduped LEFT JOIN customer c ON deduped.ck = c.c_custkey
  GROUP BY entity_key
)
"""
