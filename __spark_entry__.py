"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship KG pipeline (extract -> mention-detect ->
link -> merge -> canonicalize -> triples) over pages deterministically
derived from the sf0.001 `documents` x `customer` tables and returns the
triples DataFrame.

`queries()` exposes every implemented operator family from SURVEY.md §2
plus the training-data ops (dedup / similarity / text analysis) as
(spark, sf_dir) -> DataFrame callables; `oracle_sql()` gives the DuckDB
equivalent for each (omitted only for ops whose float/hash plumbing is
not SQL-portable — those get the driver's rows-only check).

Known permanent exclusion — S12 (truncate/prepare, plans/pipeline.py
`mode("overwrite")` per stage): a WRITE MODE is not observable through a
read-only query result, so S12 has no `queries()` row BY NATURE. Its
semantics (stage overwrite + resume-skip on `_SUCCESS`) are pinned by
the resume pytest (tests/test_pipeline_e2e.py) instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from serialization_agents_spark.parallel import spread
from serialization_agents_spark.plans.pipeline import PipelineResult, run_pipeline


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Plan-build-time scalars and the heavy kg pipeline are memoized per
# (spark app, sf_dir): the kg_* suite shares one linked/canonical DAG
# instead of re-deriving it per query (and customer counts are read once,
# not once per plan build).
_KG_N: dict[tuple[str, str], int] = {}
_KG_CACHE: dict[tuple[str, str], PipelineResult] = {}


def _kg_customer_count(spark: SparkSession, sf_dir: str) -> int:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _KG_N:
        # plan-build-time scalar: prefer the parquet footer row count
        # (no Spark job at all) and fall back to a count() for any
        # source pyarrow cannot reach (non-local paths)
        try:
            import glob as _glob
            import os as _os

            import pyarrow.parquet as _pq

            path = f"{sf_dir}/customer.parquet"
            files = [path] if _os.path.isfile(path) else _glob.glob(
                f"{path}/*.parquet"
            )
            if not files:
                raise FileNotFoundError(path)
            _KG_N[key] = sum(_pq.ParquetFile(f).metadata.num_rows for f in files)
        except Exception:
            _KG_N[key] = _t(spark, sf_dir, "customer").count()
    return _KG_N[key]


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
def _kg_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the whole narrow fact path (page markup -> extract -> mention
    # regexes -> broadcast linking) chains off this scan; a single-row-
    # group test file would otherwise pin it all to ONE task
    docs = spread(_t(spark, sf_dir, "documents").select("doc_id"))
    cust = _t(spark, sf_dir, "customer")
    n = _kg_customer_count(spark, sf_dir)
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
def _url_captures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
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


def _kg_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    from serialization_agents_spark.functions.normalize import normalize_name_expr

    # the authority feeds THREE broadcast builds (viaf keys, lc keys,
    # name-block argmax), each paying the normalize regex per row — fan
    # the one-row-group scan out so those builds are not single-task
    cust = spread(_t(spark, sf_dir, "customer").select("c_custkey", "c_name"))
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


def _kg_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static VIAF-redirects dimension (stands in for the reference's live
    probes, /root/reference/lib/viaf.js:11-128). Stale id ck+9000000:
    ck%3==0 redirects to ck; ck%3==1 is deleted with a mads:useInstead LC
    fallback; ck%3==2 is dead (no fallback)."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return cust.select(
        (k + 9000000).cast("string").alias("old_id"),
        F.when(k % 3 == 0, k.cast("string")).alias("new_id"),
        F.lit(None).cast("string").alias("lc_id"),
        F.when(k % 3 == 1, F.concat(F.lit("n"), k.cast("string"))).alias("use_instead_lc"),
    )


def _kg_canonical(spark: SparkSession, sf_dir: str) -> PipelineResult:
    """The kg pipeline through the enumerated canonical agents, built once
    per (spark app, sf_dir) by the in-memory run_pipeline: the kg_*
    queries read its pinned `linked`, `agents` and `canonical` frames."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _KG_CACHE:
        _KG_CACHE[key] = run_pipeline(
            spark,
            _kg_pages(spark, sf_dir),
            _kg_authority(spark, sf_dir),
            redirects=_kg_redirects(spark, sf_dir),
            until="canonical",
        )
    return _KG_CACHE[key]


def kg_cache_clear(
    sf_dir: str | None = None, wait_cleanup_s: float = 0.0
) -> int:
    """Release the memoized kg pipeline's persisted frames (all entries,
    or just one sf_dir's). The bench/driver processes are short-lived so
    the cache can stay pinned there, but a long-lived session embedding
    queries() should call this between corpora to avoid leaking executor
    storage. Returns the number of entries released.

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
    for key in list(_KG_CACHE):
        if sf_dir is not None and key[1] != sf_dir:
            continue
        res = _KG_CACHE.pop(key)
        res.linked.unpersist()
        res.canonical.unpersist()
        _KG_N.pop(key, None)
        released += 1
    if wait_cleanup_s > 0:
        import gc
        import time

        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            if released:
                del res  # drop the loop's ref
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


# SQL building blocks shared by the kg_* oracles (DuckDB dialect).
# Mirrors _kg_pages' four mention-1 branches (stale/vhint/lchint/plain),
# the secondary + noise + promoted-subject arms, and the linking outcome:
# every customer-backed mention resolves to viaf:<ck> (via J1, a redirect,
# the J2 LCNAF fallback, or the J4 name block — including the fuzzy
# multi-candidate blocks, whose winner is the near-exact candidate).
_KG_SQL_BASE = """
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


# The kg_triples result set (shared by the kg_triples oracle and the
# triples-stage checksum in kg_lineage).
_KG_TRIPLES_SELECT = """
SELECT 'registry:agent/' || entity_key AS subj, 'rdf:type' AS pred,
       CASE WHEN type = 'corporate' THEN 'foaf:Organization' ELSE 'foaf:Person' END AS obj
FROM entities
UNION ALL
SELECT 'registry:agent/' || entity_key, 'skos:prefLabel', name_controlled FROM entities
UNION ALL
SELECT DISTINCT 'registry:agent/' || d.entity_key, 'skos:altLabel', d.name_raw
FROM deduped d JOIN entities e ON d.entity_key = e.entity_key
WHERE d.name_raw <> e.name_controlled
UNION ALL
SELECT 'registry:agent/' || entity_key, 'owl:sameAs', 'http://viaf.org/viaf/' || ck
FROM entities WHERE ck IS NOT NULL
UNION ALL
SELECT 'registry:agent/' || entity_key, 'owl:sameAs', 'http://www.wikidata.org/entity/Q' || ck
FROM entities WHERE ck IS NOT NULL AND ck % 3 = 0
UNION ALL
SELECT 'registry:agent/' || entity_key, 'owl:sameAs', 'http://id.loc.gov/authorities/names/n' || ck
FROM entities WHERE ck IS NOT NULL AND ck % 2 = 0
UNION ALL
SELECT DISTINCT url, 'dct:contributor', 'registry:agent/' || entity_key FROM deduped
"""


def _cksum(expr: str) -> str:
    """Order-independent md5-prefix SUM checksum (DuckDB side; mirrors
    the Spark conv(substring(md5(k),1,8),16,10) sum in kg_lineage)."""
    return f"CAST(sum(('0x' || substr(md5({expr}), 1, 8))::BIGINT) AS BIGINT)"


# DuckDB reproduction of operators/multimodal.py's synthetic media table
# and fake decoders: content is the utf-8 bytes of sha256('media'||id)'s
# hex string, and every decoder output is md5-digest arithmetic over it
# (multimodal._fake_decode / _fake_audio_decode) — so each column is a
# closed-form SQL expression, exactly like the kg oracle reproduces the
# page generator.
_MEDIA_SQL = """
WITH kinds AS (
  SELECT media_id,
         CASE WHEN media_id % 3 = 0 THEN 'audio'
              WHEN media_id % 7 = 1 THEN 'video'
              ELSE 'image' END AS kind
  FROM (SELECT unnest(range(200)) AS media_id)
)
"""


def _lcg_vectors_cte(n: int, dim: int, offset: int, idx: str, alias: str) -> str:
    """The deterministic vector family of similarity._hyperplane as a
    recursive CTE: x0 = (seed*1000003 + (offset+idx)*7919 + 12345) masked,
    x <- (x*1103515245 + 12345) masked, w = x/0x7FFFFFFF*2 - 1. Shared by
    the LSH-plane, IVF-centroid, and near-dup oracles (offset selects the
    family: 0 = LSH planes, IVF_CENTROID_BASE = centroids)."""
    return f"""{alias}_lcg AS (
  SELECT {idx}, 0 AS i,
         CAST((42 * 1000003 + ({offset} + {idx}) * 7919 + 12345) % 2147483648 AS BIGINT) AS x,
         CAST(NULL AS DOUBLE) AS w
  FROM (SELECT unnest(range({n})) AS {idx})
  UNION ALL
  SELECT {idx}, i + 1, (x * 1103515245 + 12345) % 2147483648,
         CAST((x * 1103515245 + 12345) % 2147483648 AS DOUBLE) / 2147483647 * 2.0 - 1.0
  FROM {alias}_lcg WHERE i < {dim}
),
{alias} AS (SELECT {idx}, list(w ORDER BY i) AS v FROM {alias}_lcg WHERE i >= 1 GROUP BY {idx})"""


_DUCK_COS = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)"
)


def _ann_ivf_sql(
    n_centroids: int = 16, n_probes: int = 4, dim: int = 64, k: int = 3
) -> str:
    """DuckDB transcription of similarity.ivf_topk: LCG centroids (offset
    IVF_CENTROID_BASE=1000), argmax-dot cell per corpus vector (ties to
    the lowest index — row_number ORDER BY d DESC, c), top-n_probes cells
    per query, exact cosine re-rank within probed cells."""
    cos = _DUCK_COS.format(a="b.qv", b="s.cv")
    return f"""
WITH RECURSIVE {_lcg_vectors_cte(n_centroids, dim, 1000, "c", "cents")},
corpus AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
qs AS (SELECT vec_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
cd AS (
  SELECT e.vec_id, e.cv, ct.c, list_dot_product(e.cv, ct.v) AS d
  FROM corpus e CROSS JOIN cents ct
),
cells AS (
  SELECT vec_id, cv, c FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, c) AS rn
    FROM cd) WHERE rn = 1
),
qd AS (
  SELECT q.vec_id AS query_id, q.qv, ct.c, list_dot_product(q.qv, ct.v) AS d
  FROM qs q CROSS JOIN cents ct
),
qcells AS (
  SELECT query_id, qv, c FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d DESC, c) AS rn
    FROM qd) WHERE rn <= {n_probes}
),
scored AS (
  SELECT b.query_id, s.vec_id AS neighbor_id, {cos} AS cosine
  FROM qcells b JOIN cells s USING (c) WHERE s.vec_id <> b.query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored) WHERE rank <= {k}
"""


def _kmeans_sql(n_centroids: int = 8, n_iters: int = 2, dim: int = 64) -> str:
    """DuckDB transcription of similarity.kmeans_lloyd: LCG init
    (IVF_CENTROID_BASE offset, same recurrence as the IVF oracle), then
    n_iters unrolled rounds of argmax-dot assignment (ties to the lowest
    cell via row_number) -> per-(cell, pos) round(avg, 4). Both engines
    round HALF_UP at 4dp between iterations, so round 2+ runs on
    bit-identical centroids; empty cells coalesce to the previous round's
    value with n_members 0."""
    steps = []
    for i in range(1, n_iters + 1):
        prev_vec = "ct.v" if i == 1 else None
        if prev_vec:  # round 1 dots against the init centroid LISTS
            steps.append(
                f"d{i} AS (SELECT e.vec_id, ct.c, list_dot_product(e.cv, {prev_vec}) AS d "
                "FROM corpus e CROSS JOIN cents0 ct)"
            )
        else:  # later rounds dot against the (cell, pos, m) table form
            steps.append(
                f"d{i} AS (SELECT e.vec_id, ct.c, sum(e.cv[ct.pos + 1] * ct.m) AS d "
                f"FROM corpus e CROSS JOIN c{i - 1} ct GROUP BY e.vec_id, ct.c)"
            )
        steps.append(
            f"a{i} AS (SELECT vec_id, c FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY vec_id ORDER BY d DESC, c) AS rn FROM d{i}) WHERE rn = 1)"
        )
        steps.append(
            f"m{i} AS (SELECT a.c, p.pos, round(avg(e.cv[p.pos + 1]), 4) AS m, "
            f"count(*)::BIGINT AS n FROM a{i} a JOIN corpus e USING (vec_id) "
            "CROSS JOIN p GROUP BY a.c, p.pos)"
        )
        steps.append(
            f"c{i} AS (SELECT c{i - 1}.c, c{i - 1}.pos, "
            f"coalesce(m{i}.m, c{i - 1}.m) AS m, coalesce(m{i}.n, 0) AS n "
            f"FROM c{i - 1} LEFT JOIN m{i} USING (c, pos))"
        )
    return f"""
WITH RECURSIVE {_lcg_vectors_cte(n_centroids, dim, 1000, "c", "cents0")},
corpus AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
p AS (SELECT unnest(range({dim})) AS pos),
c0 AS (SELECT ct.c, p.pos, ct.v[p.pos + 1] AS m, 0::BIGINT AS n
       FROM cents0 ct CROSS JOIN p),
{", ".join(steps)}
SELECT c::BIGINT AS cell, pos::BIGINT AS pos,
       m + 0.0 AS c_val, n AS n_members
FROM c{n_iters}
"""


def _neardup_sql(threshold: float = 0.35, n_planes: int = 4, dim: int = 64) -> str:
    """DuckDB transcription of similarity.embedding_neardup_pairs: the
    first n_planes LSH planes (offset 0), sign-bit buckets over ALL
    vectors, within-bucket self-join, exact cosine >= threshold. The
    max_bucket cap never triggers at these SFs, so the oracle omits it."""
    cos = _DUCK_COS.format(a="a.cv", b="b.cv")
    return f"""
WITH RECURSIVE {_lcg_vectors_cte(n_planes, dim, 0, "p", "planes")},
vecs AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
sig AS (
  SELECT v.vec_id, v.cv,
         string_agg(CASE WHEN list_dot_product(v.cv, pl.v) >= 0 THEN '1' ELSE '0' END,
                    '' ORDER BY pl.p) AS bucket
  FROM vecs v CROSS JOIN planes pl GROUP BY v.vec_id, v.cv
)
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cosine
  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
) WHERE cosine >= {threshold}
"""


def _ann_lsh_sql(n_probes: int = 0, n_planes: int = 8, dim: int = 64, k: int = 3) -> str:
    """DuckDB transcription of operators/similarity.py:lsh_bucket_topk —
    the hyperplane LCG (`_hyperplane`) as a recursive CTE (the same way
    `_string_score_sql` transcribes the fuzzy walk), sign-bit bucket
    signatures, the multi-probe lowest-|margin| bit flips, and the
    in-bucket cosine re-rank. Sign/ordering parity holds because dots
    are O(1) while engine summation-order differences are O(1e-16)
    (documented in similarity._bucket_kernel).
    """
    probes_sql = ""
    qbuckets = "SELECT query_id, qv, base_sig AS bucket FROM qsig"
    if n_probes > 0:
        probes_sql = f""",
flips AS (
  SELECT query_id, p,
         row_number() OVER (PARTITION BY query_id ORDER BY abs(d), p) AS rk
  FROM qd
),
probes AS (
  SELECT f.query_id, s.qv,
         substr(s.base_sig, 1, f.p)
           || (CASE WHEN substr(s.base_sig, f.p + 1, 1) = '1' THEN '0' ELSE '1' END)
           || substr(s.base_sig, f.p + 2, {n_planes}) AS bucket
  FROM flips f JOIN qsig s USING (query_id) WHERE f.rk <= {n_probes}
)"""
        qbuckets += "\n    UNION ALL SELECT query_id, qv, bucket FROM probes"
    cos = (
        "round(list_dot_product(b.qv, s.cv) / "
        "(sqrt(list_dot_product(b.qv, b.qv)) * sqrt(list_dot_product(s.cv, s.cv))), 4)"
    )
    return f"""
WITH RECURSIVE {_lcg_vectors_cte(n_planes, dim, 0, "p", "planes")},
corpus AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
qs AS (SELECT vec_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
csig AS (
  SELECT c.vec_id, c.cv,
         string_agg(CASE WHEN list_dot_product(c.cv, pl.v) >= 0 THEN '1' ELSE '0' END,
                    '' ORDER BY pl.p) AS bucket
  FROM corpus c CROSS JOIN planes pl GROUP BY c.vec_id, c.cv
),
qd AS (
  SELECT q.vec_id AS query_id, q.qv, pl.p, list_dot_product(q.qv, pl.v) AS d
  FROM qs q CROSS JOIN planes pl
),
qsig AS (
  SELECT query_id, qv,
         string_agg(CASE WHEN d >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS base_sig
  FROM qd GROUP BY query_id, qv
){probes_sql},
qbuckets AS (SELECT DISTINCT query_id, qv, bucket FROM ({qbuckets})),
scored AS (
  SELECT DISTINCT b.query_id, s.vec_id AS neighbor_id, {cos} AS cosine
  FROM qbuckets b JOIN csig s ON b.bucket = s.bucket AND s.vec_id <> b.query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored) WHERE rank <= {k}
"""


def _string_score_sql() -> str:
    """DuckDB transcription of the string_score char-walk
    (functions/normalize.py:fuzzy_score_py — the public algorithm the
    reference calls at lib/utils.js:56), as a RECURSIVE CTE carrying the
    (i, r=running, s=start_at, f=fuzzies) walk state per row.

    (A list_reduce lambda version exists but DuckDB 1.0's vectorized
    list_reduce bleeds accumulator fields across rows when the CASE
    branches diverge within a batch; the recursive CTE is branch-safe.
    tests/test_normalize.py sweeps this SQL against fuzzy_score_py.)
    """
    # rel = 1-based find of query char i+1 in lower(t) from offset s;
    # 0 = miss. consecutive-match <=> rel == 1; 0-based hit idx = s+rel-1.
    rel = "strpos(substr(lower(t), s + 1), substr(lower(q), i + 1, 1))"
    final = "(0.5 * (w.r / length(t) + w.r / length(q)) / w.f)"
    return f"""
WITH RECURSIVE n AS (SELECT count(*) AS c FROM customer),
pairs AS (
  SELECT c_custkey AS mention_key,
         unnest([c_custkey, (c_custkey + 7) % (SELECT c FROM n)]) AS cand_key
  FROM customer
),
pq AS (
  SELECT mention_key, cand_key,
         'customer ' || lpad(CAST(mention_key AS VARCHAR), 9, '0') AS t,
         'Customer#' || lpad(CAST(cand_key AS VARCHAR), 9, '0') AS q
  FROM pairs
),
walk AS (
  SELECT mention_key, cand_key, t, q, 0 AS i,
         CAST(0.0 AS DOUBLE) AS r, 0 AS s, CAST(1.0 AS DOUBLE) AS f
  FROM pq
  UNION ALL
  SELECT mention_key, cand_key, t, q, i + 1,
         CASE WHEN rel = 0 THEN r ELSE r
           + (CASE WHEN rel = 1 THEN 0.7 ELSE 0.1
              + (CASE WHEN substr(t, s + rel - 1, 1) = ' ' THEN 0.8 ELSE 0.0 END) END)
           + (CASE WHEN substr(t, s + rel, 1) = substr(q, i + 1, 1) THEN 0.1 ELSE 0.0 END)
         END,
         CASE WHEN rel = 0 THEN s ELSE s + rel END,
         CASE WHEN rel = 0 THEN f + 0.5 ELSE f END
  FROM (SELECT mention_key, cand_key, t, q, i, r, s, f, {rel} AS rel
        FROM walk WHERE i < length(q)) x
)
SELECT mention_key, cand_key,
       round(CASE WHEN t = q THEN 1.0
                  WHEN substr(lower(q), 1, 1) = substr(lower(t), 1, 1)
                       AND {final} < 0.85 THEN {final} + 0.15
                  ELSE {final} END, 4) AS fuzzy
FROM walk w WHERE i = length(q)
"""


def _kg_alt_forms_sql() -> str:
    """Oracle for kg_alt_forms (X2/X3): the distinct per-entity alt forms
    (A6-deduped, controlled-name-excluded — same algebra as the kg_triples
    altLabel branch), with percentOverlap as plain SQL and the
    string_score walk vs the NORMALIZED controlled name as the same
    recursive CTE `_string_score_sql` uses."""
    rel = "strpos(substr(lower(t), s + 1), substr(lower(q), i + 1, 1))"
    final = "(0.5 * (w.r / length(t) + w.r / length(q)) / w.f)"
    base = _KG_SQL_BASE.replace("WITH n AS", "WITH RECURSIVE n AS", 1)
    return base + f""",
alt AS (
  SELECT DISTINCT d.entity_key, d.name_raw, d.prio, e.name_controlled
  FROM deduped d JOIN entities e USING (entity_key)
  WHERE d.name_raw <> e.name_controlled
),
pq AS (
  SELECT entity_key, name_raw, prio,
         trim(regexp_replace(lower(name_controlled), '[^a-z0-9]+', ' ', 'g')) AS t,
         trim(regexp_replace(lower(name_raw), '[^a-z0-9]+', ' ', 'g')) AS q,
         round(CASE WHEN name_raw = name_controlled THEN 100.0
                    WHEN len(ta) = 0 OR len(tb) = 0 THEN 0.0
                    ELSE 100.0 * len(list_intersect(ta, tb)) / greatest(len(ta), len(tb))
               END, 4) AS poverlap
  FROM (SELECT *,
          list_distinct(list_filter(string_split(name_raw, ' '), x -> x <> '')) AS ta,
          list_distinct(list_filter(string_split(name_controlled, ' '), x -> x <> '')) AS tb
        FROM alt)
),
walk AS (
  SELECT entity_key, name_raw, prio, poverlap, t, q, 0 AS i,
         CAST(0.0 AS DOUBLE) AS r, 0 AS s, CAST(1.0 AS DOUBLE) AS f
  FROM pq
  UNION ALL
  SELECT entity_key, name_raw, prio, poverlap, t, q, i + 1,
         CASE WHEN rel = 0 THEN r ELSE r
           + (CASE WHEN rel = 1 THEN 0.7 ELSE 0.1
              + (CASE WHEN substr(t, s + rel - 1, 1) = ' ' THEN 0.8 ELSE 0.0 END) END)
           + (CASE WHEN substr(t, s + rel, 1) = substr(q, i + 1, 1) THEN 0.1 ELSE 0.0 END)
         END,
         CASE WHEN rel = 0 THEN s ELSE s + rel END,
         CASE WHEN rel = 0 THEN f + 0.5 ELSE f END
  FROM (SELECT entity_key, name_raw, prio, poverlap, t, q, i, r, s, f, {rel} AS rel
        FROM walk WHERE i < length(q)) x
)
SELECT entity_key, name_raw AS alt_name,
       CASE WHEN prio = 1 THEN 'web' ELSE 'web_subject' END AS source,
       poverlap,
       round(CASE WHEN t = q THEN 1.0
                  WHEN length(q) = 0 THEN 0.0
                  WHEN substr(lower(q), 1, 1) = substr(lower(t), 1, 1)
                       AND {final} < 0.85 THEN {final} + 0.15
                  ELSE {final} END, 4) AS fuzzy
FROM walk w WHERE i = length(q)
"""


# ---------------------------------------------------------------------------
# queries() / oracle_sql()
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG pipeline at sf0.001; driver checks rows > 0."""
    from serialization_agents_spark.operators.triples import materialize_triples

    sf_dir = "/root/testdata/sf0.001"
    res = _kg_canonical(spark, sf_dir)
    return materialize_triples(res.canonical, res.linked)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from serialization_agents_spark.functions import text as T
    from serialization_agents_spark.operators import dedup as D
    from serialization_agents_spark.operators import similarity as S
    from serialization_agents_spark.operators.enumerate_ids import enumerate_ids
    from serialization_agents_spark.operators.triples import materialize_triples

    # ---- SURVEY §2 relational operators over the TPC-H-ish tables -------
    def s2_minmax_probe(spark, sf):
        return _t(spark, sf, "orders").agg(
            F.min("o_orderkey").alias("min_key"), F.max("o_orderkey").alias("max_key")
        )

    def s3_scan_project_filter(spark, sf):
        return (
            _t(spark, sf, "documents")
            .where(F.col("lang") == "en")
            .select("doc_id", "n_chars")
        )

    def f6_blacklist_anti_join(spark, sf):
        docs = _t(spark, sf, "documents")
        bl = docs.sparkSession.createDataFrame([("src0",), ("src1",)], "source string")
        return docs.join(broadcast(bl), "source", "left_anti").select("doc_id", "source")

    def f7_semi_join(spark, sf):
        cust = _t(spark, sf, "customer")
        orders = _t(spark, sf, "orders")
        return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
            "c_custkey"
        )

    def j1_broadcast_lookup_join(spark, sf):
        orders = _t(spark, sf, "orders")
        cust = _t(spark, sf, "customer")
        return orders.join(broadcast(cust), orders.o_custkey == cust.c_custkey).select(
            "o_orderkey", "c_name", "o_totalprice"
        )

    def o2_window_top1_orders(spark, sf):
        orders = _t(spark, sf, "orders")
        w = Window.partitionBy("o_custkey").orderBy(
            F.desc("o_totalprice"), F.asc("o_orderkey")
        )
        return (
            orders.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("o_custkey", "o_orderkey", "o_totalprice")
        )

    def o2_latest_event_per_user(spark, sf):
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        return (
            ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_id", "event_type")
        )

    def o3_enumerate_customers(spark, sf):
        cust = _t(spark, sf, "customer").select(F.col("c_name").alias("entity_key"))
        return enumerate_ids(cust, order_col="entity_key").select(
            "entity_key", "registry_id"
        )

    def a5_groupby_set_union(spark, sf):
        cust = _t(spark, sf, "customer")
        return cust.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.array_join(
                F.array_sort(F.collect_set(F.col("c_nationkey").cast("string"))), ","
            ).alias("nations"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )

    def u2_union_priority(spark, sf):
        ev = _t(spark, sf, "events")
        tagged = ev.where(F.col("event_type").isin("click", "view")).select(
            "user_id",
            F.when(F.col("event_type") == "click", 1).otherwise(2).alias("prio"),
        )
        return tagged.groupBy("user_id").agg(F.min("prio").alias("best_priority"))

    def p2_regexp_extract_id(spark, sf):
        cust = _t(spark, sf, "customer")
        return cust.select(
            "c_custkey",
            F.regexp_extract("c_name", r"Customer#([0-9]+)", 1).alias("name_id"),
        )

    def a6_distinct_pairs(spark, sf):
        return _t(spark, sf, "documents").select("lang", "source").distinct()

    def o4_sessionize(spark, sf):
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        # exact integer microseconds in both engines (no float epoch())
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        gap = us - F.lag(us).over(w)
        flagged = ev.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0),
        )
        return flagged.groupBy("user_id").agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )

    def j4_fuzzy_scores(spark, sf):
        """X3 under the hash gate: the PRODUCTION string_score expression
        (pure-JVM F.aggregate char-walk) evaluated on 2 candidate pairs
        per customer (near-exact + decoy), mirrored in DuckDB by a
        recursive-CTE transcription of the same walk."""
        from serialization_agents_spark.functions.normalize import (
            fuzzy_score_expr,
            normalize_name_expr,
        )

        cust = _t(spark, sf, "customer")
        n = _kg_customer_count(spark, sf)
        k = F.col("c_custkey")
        pairs = cust.select(
            k.alias("mention_key"),
            normalize_name_expr(F.col("c_name")).alias("target"),
            F.explode(F.array(k, (k + 7) % n)).alias("cand_key"),
        ).withColumn("query", F.format_string("Customer#%09d", F.col("cand_key")))
        # exchange barrier: target/query become concrete columns, keeping
        # the normalize regex OUT of the interpreted walk's step exprs.
        # Width derived from the exploded pair count (2 per customer) —
        # a fixed constant would cap the stage at scale.
        pairs = pairs.repartition(max(8, 2 * n // 100_000 + 1), "mention_key")
        return pairs.select(
            "mention_key",
            "cand_key",
            F.round(fuzzy_score_expr(F.col("target"), F.col("query")), 4).alias("fuzzy"),
        )

    def j5_variant_match(spark, sf):
        """J5/X7/X8/A4 — the full TMS matching strategy over tms-ish agent
        rows derived from `customer`: date cleanup, ordered checkNames
        variants, first-hit-wins multi-key candidate join, and the
        checkNames-first naming + date fallback
        (reference lib/tms_serialize_objects_agents.js:167-190,
        lib/utils_tms.js:83-116,125-199)."""
        from serialization_agents_spark.functions.normalize import normalize_name_expr
        from serialization_agents_spark.operators.variants import (
            build_agent_from_variant_match,
            build_check_names,
            clean_agent_dates,
            match_by_check_names,
        )

        # both tms-agents and authority derive from this scan; fan it out
        # so the variant/checkNames work is not single-task on a one-row-
        # group file (the exchange is reused across the two subtrees)
        cust = spread(_t(spark, sf, "customer").select("c_custkey", "c_name"))
        k = F.col("c_custkey")
        na = F.when(
            k % 13 == 7, F.concat(F.col("c_name"), F.lit(" & Sons"))
        ).otherwise(F.col("c_name"))
        agents = cust.select(
            k.alias("agent_id"),
            na.alias("name_alpha"),
            F.concat(F.lit("The "), na).alias("name_display"),
            F.when(k % 5 == 0, F.lit(0))
            .when(k % 5 == 3, F.lit(None))
            .otherwise(1800 + k % 100)
            .cast("long")
            .alias("date_start"),
            F.when(k % 5 == 0, F.lit(1900))
            .when(k % 5 == 1, 1900 + k % 100)
            .when(k % 5 == 2, 1850 + k % 100)
            .when(k % 5 == 3, F.lit(1950))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("date_end"),
        )
        normc = normalize_name_expr(F.col("c_name"))
        dated = F.concat(normc, F.lit(" "), (1800 + k % 100).cast("string"))
        forms = (
            F.when((k % 4 == 0) & (k % 5).isin(1, 2, 4), F.array(dated))
            .when(k % 4 == 0, F.array().cast("array<string>"))
            .when(k % 4 == 1, F.array(normc))
            .when(k % 12 == 2, F.array(F.concat(F.lit("the "), normc), normc))
            .when(k % 4 == 2, F.array(F.concat(F.lit("the "), normc)))
            .otherwise(F.array().cast("array<string>"))
        )
        auth = cust.select(
            k.cast("string").alias("viaf_id"),
            F.array(k.cast("string")).alias("viaf_all"),
            F.when(k % 10 == 9, "Corporate").otherwise("Personal").alias("type"),
            F.lit(None).cast("string").alias("lc_id"),
            F.lit(None).cast("string").alias("getty_id"),
            F.lit(None).cast("string").alias("wikidata_id"),
            F.when(k % 2 == 0, F.concat(F.col("c_name"), F.lit(" (LC)"))).alias("lc_term"),
            F.concat(F.col("c_name"), F.lit(" (VIAF)")).alias("viaf_term"),
            F.when(k % 3 == 0, (1700 + k % 50).cast("string")).alias("birth"),
            F.when(k % 3 == 0, (1760 + k % 50).cast("string")).alias("death"),
            F.lit(None).cast("string").alias("dbpedia_id"),
            forms.alias("normalized"),
            F.array().cast("array<long>").alias("fast"),
        )
        cleaned = build_check_names(clean_agent_dates(agents))
        built = build_agent_from_variant_match(match_by_check_names(cleaned, auth))
        return built.select(
            "agent_id",
            F.col("matched_variant").cast("int").alias("matched_variant"),
            "viaf",
            "name_controlled",
            "birth",
            "death",
            "agent_type",
        )

    # ---- training-data ops ----------------------------------------------
    def dedup_exact(spark, sf):
        return D.exact_duplicates(_t(spark, sf, "documents"))

    def dedup_minhash_signatures(spark, sf):
        sigs = D.minhash_signatures(_t(spark, sf, "documents"))
        return sigs.select("doc_id", "band0", "band1", "band2", "band3")

    def dedup_minhash_pairs(spark, sf):
        return D.minhash_candidate_pairs(_t(spark, sf, "documents"))

    def dedup_minhash_pairs_prod(spark, sf):
        """The PRODUCTION hash configuration (hash_fn='xxhash64': one
        64-bit JVM hash per shingle vs 16 md5 string transforms — the
        setting a 100 TB run uses, ~4x cheaper per shingle). md5 remains
        the cross-engine-replayable default certified by
        dedup_minhash_pairs' DuckDB oracle; this variant has no SQL
        oracle (DuckDB lacks xxhash64) so the driver records the weaker
        rows-only check, and bench.py reports THIS path as the headline
        so the published number reflects the scale configuration."""
        return D.minhash_candidate_pairs(
            _t(spark, sf, "documents"), hash_fn="xxhash64"
        )

    def dedup_ngram_jaccard(spark, sf):
        pairs = D.ngram_jaccard_pairs(_t(spark, sf, "documents"))
        return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))

    def dedup_simhash(spark, sf):
        return D.simhash(_t(spark, sf, "documents"))

    def ann_cosine_top3(spark, sf):
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.where(F.col("vec_id") < 5)
        corpus = emb.where(F.col("vec_id") >= 5)
        return S.cosine_topk(corpus, queries_df, k=3)

    def ann_lsh_top3(spark, sf):
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.where(F.col("vec_id") < 5)
        corpus = emb.where(F.col("vec_id") >= 5)
        return S.lsh_bucket_topk(corpus, queries_df, k=3)

    def ann_lsh_multiprobe_top3(spark, sf):
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.where(F.col("vec_id") < 5)
        corpus = emb.where(F.col("vec_id") >= 5)
        return S.lsh_bucket_topk(corpus, queries_df, k=3, n_probes=3)

    def ann_ivf_top3(spark, sf):
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.where(F.col("vec_id") < 5)
        corpus = emb.where(F.col("vec_id") >= 5)
        return S.ivf_topk(corpus, queries_df, k=3)

    def ann_rp_top3(spark, sf):
        """Johnson-Lindenstrauss random-projection top-3: project 64-dim
        embeddings to 16 dims through the deterministic LCG plane family
        (one Arrow matmul per batch), then cosine-rank in the projected
        space — the float-compression ANN member next to LSH bits, IVF
        cells, and SQ8 int8 (operators/similarity.py rp_project /
        rp_topk)."""
        emb = _t(spark, sf, "embeddings")
        return S.rp_topk(
            emb.where(F.col("vec_id") >= 5), emb.where(F.col("vec_id") < 5), k=3
        )

    def ann_sq8_top3(spark, sf):
        """Scalar-quantized (SQ8/uint8) brute-force top-3: per-dim
        corpus min/max grid, integer dot scoring — the memory-bound ANN
        technique (4x compression) with EXACT BIGINT scores, so the
        ranking is bit-reproducible cross-engine with no float rounding
        games (operators/similarity.py sq8_codes / sq8_topk)."""
        emb = _t(spark, sf, "embeddings")
        return S.sq8_topk(
            emb.where(F.col("vec_id") >= 5), emb.where(F.col("vec_id") < 5), k=3
        )

    def ann_kmeans_refine(spark, sf):
        """Quantized Lloyd k-means over the full embeddings table: LCG
        init shared with the IVF oracle family, two assign->mean rounds
        with HALF_UP 4dp centroid quantization between rounds so the
        DuckDB unrolled replay iterates on bit-identical centroids
        (operators/similarity.py kmeans_lloyd). Certifies the final
        centroid table (cell, pos, c_val) plus last-round membership
        counts."""
        return S.kmeans_lloyd(_t(spark, sf, "embeddings"))

    def dedup_embedding_neardup(spark, sf):
        pairs, _dropped = S.embedding_neardup_pairs(_t(spark, sf, "embeddings"))
        return pairs

    def text_lang_id(spark, sf):
        docs = _t(spark, sf, "documents")
        return docs.select("doc_id", T.lang_id(F.col("text")).alias("lang_pred"))

    def text_lang_confusion(spark, sf):
        """Language-ID confusion matrix vs the corpus's labeled lang
        column — the accuracy diagnostic a curation pipeline tracks per
        crawl (one hash agg over (label, prediction); the same
        evaluation-as-operator posture as kg_er_metrics)."""
        docs = _t(spark, sf, "documents")
        return (
            docs.select(
                F.col("lang").alias("lang_true"),
                T.lang_id(F.col("text")).alias("lang_pred"),
            )
            .groupBy("lang_true", "lang_pred")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )

    def text_quality(spark, sf):
        docs = _t(spark, sf, "documents")
        return docs.select("doc_id", T.quality_score(F.col("text")).alias("quality"))

    def text_token_counts(spark, sf):
        docs = _t(spark, sf, "documents")
        return docs.select(
            "doc_id",
            T.token_count(F.col("text")).cast("long").alias("ws_tokens"),
            T.bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
        )

    def text_fingerprint(spark, sf):
        docs = _t(spark, sf, "documents")
        return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fingerprint"))

    def text_repetition(spark, sf):
        """Gopher-rule repetition filters (duplicate word / 2-gram /
        3-gram fractions) — pure Column exprs, certified against DuckDB
        list arithmetic; the boilerplate/SEO-degenerate gate of a
        training-data pipeline."""
        docs = _t(spark, sf, "documents")
        r = T.repetition_features(F.col("text"))
        return docs.select(
            "doc_id",
            F.round(r["dup_word_fraction"], 4).alias("dup_word_fraction"),
            F.round(r["dup_2gram_fraction"], 4).alias("dup_2gram_fraction"),
            F.round(r["dup_3gram_fraction"], 4).alias("dup_3gram_fraction"),
        )

    def dedup_winnow_pairs(spark, sf):
        """Winnowing (MOSS) fingerprint match pairs: min-hash of every
        window of 4 consecutive 10-gram md5s, doc pairs sharing >= 1
        fingerprint with shared-count — guaranteed to catch any shared
        span >= 13 tokens at ~2/5 sampling density
        (operators/dedup.py winnow_fingerprints / winnow_pairs)."""
        pairs, _dropped = D.winnow_pairs(_t(spark, sf, "documents"))
        return pairs

    def dedup_winnow_pairs_prod(spark, sf):
        """The PRODUCTION hash configuration of the winnowing pairs
        (hash_fn='xxhash64': one 64-bit JVM hash per gram vs an md5 hex
        string — same fingerprint guarantee, different hash family). md5
        stays the cross-engine default certified by dedup_winnow_pairs'
        DuckDB oracle; this twin has no SQL oracle (DuckDB lacks
        xxhash64) so the driver records the rows-only check, and
        bench.py reports THIS path as the headline."""
        pairs, _dropped = D.winnow_pairs(
            _t(spark, sf, "documents"), hash_fn="xxhash64"
        )
        return pairs

    def dedup_repeated_spans(spark, sf):
        """Cross-doc repeated-span fraction: every 10-token window
        (stride 1, exact for any alignment), duplicated when the window
        text appears in >= 2 distinct docs — the cheap ExactSubstr
        relative (operators/dedup.py repeated_span_stats)."""
        return D.repeated_span_stats(_t(spark, sf, "documents"))

    def dedup_chunks(spark, sf):
        """CCNet-style paragraph/chunk-level exact dedup: globally
        keep-first over md5 chunk hashes, reassembled per doc. The
        synthetic corpus has no newlines, so the gate runs the
        fixed-word-window mode (12-token chunks); the regex-paragraph
        mode is pytest-covered on crafted multi-paragraph docs."""
        return D.chunk_dedup(_t(spark, sf, "documents"))

    def dedup_neardup_clusters(spark, sf):
        """MinHash-LSH candidate pairs closed under transitivity by the
        pipeline's connected-components loop — certifies the CC operator
        against an independent DuckDB recursive-CTE transitive closure
        (its other certification is composite, via kg_agents/kg_triples)."""
        return D.neardup_clusters(_t(spark, sf, "documents"))

    def text_pii_scrub(spark, sf):
        """PII redaction (emails / IPv4 / phone-shaped numbers) with
        per-category counts. The corpus itself is PII-free word soup, so
        the gate query first injects deterministic doc_id-derived PII
        into every row — the oracle injects the identical strings — and
        the certified values are the redaction counts plus the md5 of
        the scrubbed text."""
        docs = _t(spark, sf, "documents")
        injected = F.concat_ws(
            " ",
            F.col("text"),
            F.concat(F.lit("user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
            F.concat(F.lit("10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7")),
            F.concat(
                F.lit("call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        p = T.pii_features(injected)
        return docs.select(
            "doc_id",
            p["n_emails"].alias("n_emails"),
            p["n_ips"].alias("n_ips"),
            p["n_phones"].alias("n_phones"),
            F.md5(p["scrubbed"]).alias("scrubbed_hash"),
        )

    def text_corpus_stats(spark, sf):
        """Per-(source, lang) curation rollup: doc counts, mean quality,
        token totals — the sampling-weight / mixture table a training-data
        pipeline builds before sampling. The mean is computed over
        10^4-scaled integer quality (per-row values are already rounded
        to 4 decimals) with integer FLOOR division, so no engine ever
        rounds an inexact double: Spark's round() rounds the shortest
        decimal rendering while DuckDB rounds the binary value, and a
        half-way mean like 0.81695 splits them (measured)."""
        docs = _t(spark, sf, "documents")
        per = docs.select(
            "source",
            "lang",
            F.round(T.quality_score(F.col("text")) * 10000).cast("long").alias("q4"),
            T.token_count(F.col("text")).cast("long").alias("ws"),
        )
        agg = per.groupBy("source", "lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("q4").alias("q4sum"),
            F.sum("ws").alias("total_tokens"),
        )
        return agg.select(
            "source",
            "lang",
            "n_docs",
            (F.expr("q4sum DIV n_docs") / 10000.0).alias("avg_quality"),
            "total_tokens",
        )

    def text_vocab_stats(spark, sf):
        """Corpus vocabulary table (term_freq, doc_freq per token) — the
        tokenizer-induction / IDF input. One explode + ONE hash agg on
        the term key; integer-only output for exact oracle parity."""
        from serialization_agents_spark.operators.vocab import vocab_stats

        return vocab_stats(_t(spark, sf, "documents"))

    def corpus_sample(spark, sf):
        """Deterministic stratified mixture sampling: keep a document iff
        its md5(seed:doc_id) uniform deviate is below its language's
        configured rate. A pure Column expression keyed on content ids —
        the same rows survive at any partitioning, executor count, or
        resume, which is what makes 100 TB mixture sampling reproducible.
        The DuckDB oracle replays the identical md5 keep-set."""
        from serialization_agents_spark.operators.sample import sample_corpus

        docs = _t(spark, sf, "documents").select("doc_id", "lang")
        return sample_corpus(
            docs, rates={"en": 0.5, "de": 1.0, "zh": 0.25}, default_rate=0.1
        )

    def corpus_epoch_order(spark, sf):
        """Deterministic per-epoch training order: rank docs by
        md5(epoch || ':' || doc_id) through the TWO-PHASE partition-
        offset enumerate (operators/enumerate_ids.py — range-partition
        on the key, per-partition row_number, broadcast offsets; never
        a single global window), so every run, resume, and executor
        count replays the exact same shuffle order per epoch — the
        reproducible-dataloader contract of an LLM training pipeline."""
        from serialization_agents_spark.operators.enumerate_ids import enumerate_ids

        docs = _t(spark, sf, "documents").select("doc_id")
        epochs = []
        for ep in (0, 1):
            keyed = docs.select(
                "doc_id", F.lit(ep).alias("epoch"),
                F.md5(F.concat_ws(":", F.lit(str(ep)), F.col("doc_id"))).alias("_k"),
            )
            epochs.append(
                enumerate_ids(keyed, order_col="_k", id_col="ord", offset=1)
                .select("doc_id", "epoch", F.col("ord").cast("long").alias("ord"))
            )
        return epochs[0].unionByName(epochs[1])

    def corpus_mixture(spark, sf):
        """Temperature mixture rebalancing: derive per-LANGUAGE keep
        rates from the observed counts (share ∝ count^0.5, downsample-
        only) and keep by md5 deviate — lang is the one skewed stratum
        in the synthetic corpus (en ~44%), so the head is genuinely cut
        and the tail genuinely capped at 1.0. Rates go through integer
        micro-unit weights so the float arithmetic is bit-identical in
        any engine (operators/sample.py mixture_sample)."""
        from serialization_agents_spark.operators.sample import mixture_sample

        docs = _t(spark, sf, "documents").select("doc_id", "lang")
        return mixture_sample(docs, alpha=0.5, stratum_col="lang").select(
            "doc_id", "lang", "mix_rate"
        )

    def text_quality_gate(spark, sf):
        """Relative quality curation: keep docs beating their language's
        median quality — ONE percentile aggregate broadcast back, never
        a percent_rank window (a stratum is one reducer's group at
        10^12 docs) (operators/curate.py quality_gate)."""
        from serialization_agents_spark.operators.curate import quality_gate

        return quality_gate(_t(spark, sf, "documents"), p=0.5)

    def text_bm25_topk(spark, sf):
        """BM25 retrieval: rank the corpus for a 3-term query (one rare
        term, two common) — integer 1e-4 score units so the per-doc sum
        is order-free; top-k via orderBy+limit (TakeOrdered heap, never
        a global window) (operators/retrieval.py bm25_topk)."""
        from serialization_agents_spark.operators.retrieval import bm25_topk

        return bm25_topk(
            _t(spark, sf, "documents"), ["dup", "merge", "vector"], k=25
        )

    def corpus_shard_pack(spark, sf):
        """Token-budget shard packing: lay documents out in a
        deterministic md5-shuffled order and cut 4096-token shards by
        running cumsum — the two-phase partition-offset scheme, no
        global single-task window (operators/pack.py shard_pack)."""
        from serialization_agents_spark.operators.pack import shard_pack

        return shard_pack(_t(spark, sf, "documents"), budget=4096)

    def a8_rollup_counts(spark, sf):
        """ROLLUP subtotals over (source, lang) with grouping_id — the
        grouping-sets surface (one pass; Spark expands the sets in the
        Expand operator, still a single shuffle)."""
        docs = _t(spark, sf, "documents")
        return docs.rollup("source", "lang").agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )

    def u4_intersect_except(spark, sf):
        """INTERSECT / EXCEPT set semantics (the one relational-algebra
        surface u2/u3 don't touch): two derived customer snapshots,
        rows tagged 'both' (INTERSECT) and 'only_a' (EXCEPT), unioned.
        Spark plans both as aggregate-backed semi/anti joins — no
        distinct-then-join hand-rolling."""
        c = _t(spark, sf, "customer").select("c_custkey")
        a = c.where(F.col("c_custkey") % 2 == 0)
        b = c.where(F.col("c_custkey") % 3 == 0)
        return a.intersect(b).select(
            F.lit("both").alias("op"), "c_custkey"
        ).unionByName(
            a.exceptAll(b).distinct().select(
                F.lit("only_a").alias("op"), "c_custkey"
            )
        )

    def o11_pivot_event_types(spark, sf):
        """groupBy().pivot() surface with an EXPLICIT value list (the
        at-scale form: an implicit list costs an extra distinct pass
        and nondeterministic column sets) — per-user event-type counts
        as columns, one shuffle. Oracle replays as conditional aggs."""
        ev = _t(spark, sf, "events")
        return (
            ev.groupBy("user_id")
            .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
            .agg(F.count(F.lit(1)))
            .na.fill(0)
        )

    def a9_cube_counts(spark, sf):
        """CUBE over (source, lang) with grouping_id — completes the
        grouping-sets surface next to a8's ROLLUP (adds the
        lang-only subtotal slice ROLLUP omits; same single-shuffle
        Expand plan)."""
        docs = _t(spark, sf, "documents")
        return docs.cube("source", "lang").agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )

    def o6_trailing_window(spark, sf):
        """Trailing 1-hour RANGE-frame window per user: event count and
        exact integer-cents value sum (doubles are summed NOWHERE —
        segment-tree vs running-sum float orderings would diverge)."""
        ev = _t(spark, sf, "events").select(
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

    def o7_sliding_window(spark, sf):
        """Hopping-window aggregation (10-min windows, 5-min hop): each
        event lands in exactly two windows. Certifies F.window's sliding
        semantics; the oracle materializes both window starts per event.
        Exact integer-cents sums only."""
        ev = _t(spark, sf, "events").select(
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

    def o8_percentiles(spark, sf):
        """Exact linear-interpolation quartiles of integer cents per
        event_type. p in {.25,.5,.75} makes (n-1)*p and the lo+(hi-lo)*f
        interpolation EXACT binary arithmetic — both engines produce the
        identical double, no rounding games needed."""
        ev = _t(spark, sf, "events").select(
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
        from serialization_agents_spark.operators.intervals import interval_join

        ev = _t(spark, sf, "events").select(
            "event_id",
            F.col("user_id").cast("long").alias("user_id"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        ok = F.col("o_orderkey")
        start_s = F.lit(1704067200) + (ok % 720) * 3600
        iv = _t(spark, sf, "orders").select(
            ok.alias("o_orderkey"),
            (F.col("o_custkey") % 150).cast("long").alias("user_id"),
            (start_s * 1000000).cast("long").alias("start_us"),
            ((start_s + (ok % 6 + 1) * 1800) * 1000000).cast("long").alias("end_us"),
        )
        joined = interval_join(
            ev, iv, key="user_id", ts_col="ts_us",
            start_col="start_us", end_col="end_us",
            chunk=3600 * 1000000,
        )
        return joined.groupBy("o_orderkey").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("value_cents"),
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
        import tempfile

        from serialization_agents_spark.streaming.joins import (
            stream_interval_join_to_parquet,
        )

        base = tempfile.mkdtemp(prefix="o9s_")
        ev_dir, win_dir = f"{base}/events", f"{base}/windows"
        out_dir, ckpt = f"{base}/out", f"{base}/ckpt"
        _t(spark, sf, "events").select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"),
            F.col("user_id").cast("long").alias("user_id"),
            "event_type", "value",
        ).coalesce(4).write.mode("overwrite").parquet(ev_dir)
        ok = F.col("o_orderkey")
        start_s = F.lit(1704067200) + (ok % 720) * 3600
        _t(spark, sf, "orders").select(
            ok.alias("win_id"),
            (F.col("o_custkey") % 150).cast("long").alias("user_id"),
            F.timestamp_seconds(start_s).alias("win_start"),
            F.timestamp_seconds(start_s + (ok % 6 + 1) * 1800).alias("win_end"),
        ).coalesce(4).write.mode("overwrite").parquet(win_dir)
        q = stream_interval_join_to_parquet(spark, ev_dir, win_dir, out_dir, ckpt)
        finished = q.awaitTermination(600)
        if not finished or q.exception() is not None:
            q.stop()
            raise RuntimeError(
                f"o9s stream-stream join did not finish cleanly: "
                f"timed_out={not finished} exception={q.exception()}"
            )
        return (
            spark.read.parquet(out_dir)
            .groupBy(F.col("win_id").alias("o_orderkey"))
            .agg(F.count(F.lit(1)).alias("n_events"))
        )

    def kg_pagerank(spark, sf):
        """Fixed-point integer PageRank (3 iterations) over a
        deterministic doc_id-derived functional graph on 101 nodes —
        certifies the iterative join+agg loop against a DuckDB
        unrolled-CTE replay. Integer (DIV) arithmetic throughout so the
        distributed sum order can never perturb the result."""
        from serialization_agents_spark.operators.graph import pagerank

        d = F.col("doc_id")
        docs = _t(spark, sf, "documents").select("doc_id")
        e1 = docs.select(
            (d % 101).alias("src"), ((d * 7 + 3) % 101).alias("dst")
        )
        e2 = docs.select(
            (d % 101).alias("src"), ((d * d * 13 + 5) % 101).alias("dst")
        )
        return pagerank(e1.union(e2), iterations=3).select(
            "node", F.col("rank").alias("rank_fp")
        )

    def kg_label_prop(spark, sf):
        """Deterministic synchronous label propagation (3 iterations)
        over a doc_id-derived weighted block graph (80 nodes, 8-node
        blocks, sparse bridges) — certifies the iterative
        join+vote+argmax loop against a DuckDB unrolled-CTE replay.
        Integer weights + min-label ties, so no run-order can perturb
        it (operators/graph.py label_propagation)."""
        from serialization_agents_spark.operators.graph import label_propagation

        d = F.col("doc_id")
        docs = _t(spark, sf, "documents").select("doc_id")
        base = (d % 80).alias("src")
        e1 = docs.select(
            base,
            ((d % 80) - (d % 80) % 8 + (d * 7 + 1) % 8).alias("dst"),
            (d % 3 + 1).alias("w"),
        )
        e2 = docs.where(d % 13 == 0).select(
            base, ((d % 80 + 8) % 80).alias("dst"), F.lit(1).alias("w")
        )
        return label_propagation(e1.union(e2), iterations=3, weight_col="w")

    def kg_negative_samples(spark, sf):
        """Deterministic corrupt-tail negatives over the co-mention
        edge set — the link-prediction training negatives a KG-embedding
        trainer consumes (operators/graph.py negative_edge_samples):
        b_neg = entity at ((idx_a * salt + idx_b) mod n) + 1 in the
        enumerated registry order, degenerate and false negatives
        dropped. Pure integer sampling: same negatives in any engine."""
        from serialization_agents_spark.operators.graph import (
            cooccurrence_edges,
            negative_edge_samples,
        )

        res = _kg_canonical(spark, sf)
        edges = cooccurrence_edges(res.linked, doc_col="url", key_col="entity_key")
        ids = res.canonical.select(
            "entity_key", (F.col("registry_id") - 9999999).alias("idx")
        )
        return negative_edge_samples(edges, ids, res.canonical.count())

    def kg_temporal_provenance(spark, sf):
        """Temporal provenance for the KG: per entity, the first/last
        crawl timestamp and distinct-page support of its mentions —
        the validity-interval layer a continuously-crawled KG needs
        for triple aging/decay. Crawl ts derives from the synth pages'
        warc_ts law (epoch + doc_id * 37, __spark_entry__._kg_pages),
        reconstructed from the url on both engines; one distinct + one
        hash agg on the already-linked layer."""
        linked = _kg_canonical(spark, sf).linked
        d = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
        pages = linked.select(
            "entity_key", "url", (F.lit(1704067200) + d * 37).alias("ts_s")
        ).distinct()
        return pages.groupBy("entity_key").agg(
            F.min("ts_s").alias("first_seen_s"),
            F.max("ts_s").alias("last_seen_s"),
            F.count(F.lit(1)).alias("n_pages"),
        )

    def kg_er_metrics(spark, sf):
        """Pair-counting ER evaluation (operators/evaluate.py): scores
        naive name-block clustering (the normalized-name key) against
        the pipeline's authority-resolved entity_key over the distinct
        linked mention instances — the regression metric that shows what
        the redirect/viaf/lcnaf cascade buys over pure normalization.
        All cross-row arithmetic is exact BIGINT (C(n,2) sums), the
        three ratios divide identical integers in both engines."""
        from serialization_agents_spark.operators.evaluate import (
            pairwise_cluster_metrics,
        )

        linked = _kg_canonical(spark, sf).linked
        items = linked.select("url", "name_raw", "entity_key", "name_norm").distinct()
        return pairwise_cluster_metrics(
            items, gold_col="entity_key", pred_col="name_norm"
        )

    def kg_bfs_hops(spark, sf):
        """Multi-source BFS hop distances (4 synchronous rounds) over
        the doc_id-derived block graph — certifies the iterative
        frontier join+min loop against a DuckDB unrolled-CTE replay.
        Sources are nodes 0/29/58; min-over-integer updates cannot be
        perturbed by run order; unreached nodes are omitted
        (operators/graph.py bfs_distances)."""
        from serialization_agents_spark.operators.graph import bfs_distances

        d = F.col("doc_id")
        docs = _t(spark, sf, "documents").select("doc_id")
        base = (d % 80).alias("src")
        e1 = docs.select(
            base, ((d % 80) - (d % 80) % 8 + (d * 7 + 1) % 8).alias("dst")
        )
        e2 = docs.where(d % 13 == 0).select(
            base, ((d % 80 + 8) % 80).alias("dst")
        )
        srcs = spark.range(0, 80, 29).select(F.col("id").alias("node"))
        return bfs_distances(e1.union(e2), srcs, max_hops=4)

    def kg_cooccurrence(spark, sf):
        """Co-mention relatedness edges over the linked-mention layer:
        (a, b, co_pages) for every entity pair sharing a page, per-page
        agent set capped at 16 (deterministic smallest-key cap — bounds
        listy hub pages to C(16,2) pairs at 10^12-doc scale). No
        self-join: one groupBy(url) shuffle, two narrow posexplodes, one
        pair aggregation with map-side combine. Rides the memoized
        pipeline's persisted `linked` frame, like the other kg_*
        consumers."""
        from serialization_agents_spark.operators.graph import cooccurrence_edges

        linked = _kg_canonical(spark, sf).linked
        return cooccurrence_edges(linked, doc_col="url", key_col="entity_key")

    def kg_triangles(spark, sf):
        """Per-entity triangle counts over the co-mention graph: the
        local-clustering signal separating tight entity communities from
        hub noise. Degree-oriented enumeration (operators/graph.py
        triangle_counts) so celebrity hubs never explode the wedge join;
        the oracle replays the identical (degree, key) total order."""
        from serialization_agents_spark.operators.graph import (
            cooccurrence_edges,
            triangle_counts,
        )

        linked = _kg_canonical(spark, sf).linked
        edges = cooccurrence_edges(linked, doc_col="url", key_col="entity_key")
        return triangle_counts(edges, src="a", dst="b").select(
            F.col("node").alias("entity_key"), "n_triangles"
        )

    def o5_asof_join(spark, sf):
        """Point-in-time as-of join: each purchase event matched to the
        user's latest view at-or-before it (union-window form — one
        shuffle on user_id, O(1) running state; never a range join)."""
        from serialization_agents_spark.operators.asof import asof_join

        ev = _t(spark, sf, "events").select(
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
        j = asof_join(
            purchases, views, on="user_id", left_ts="tsu", right_ts="tsu",
            tiebreak="view_id",
        )
        return j.select(
            "event_id",
            "user_id",
            F.col("tsu").alias("purchase_ts"),
            F.col("asof_view_id").alias("view_id"),
            F.col("asof_tsu").alias("view_ts"),
        )

    def text_decontaminate(spark, sf):
        """Benchmark-decontamination report: corpus docs sharing any
        3-gram with a benchmark suite (here: the deterministic
        doc_id % 41 == 0 slice standing in for an eval set). Benchmark
        grams broadcast; the only shuffle is the per-doc hit agg."""
        from serialization_agents_spark.operators.contamination import (
            contamination_report,
        )

        docs = _t(spark, sf, "documents")
        bench = docs.where(F.col("doc_id") % 41 == 0).select("text")
        return contamination_report(docs, bench)

    def text_tfidf_topk(spark, sf):
        """Per-doc top-3 tf-idf terms. idf is 4dp-rounded before the
        multiply so ranking can't hinge on a sub-ulp libm difference
        between engines; ties break on term."""
        from serialization_agents_spark.operators.vocab import tfidf_topk

        return tfidf_topk(_t(spark, sf, "documents"), k=3)

    def text_bpe_pair_stats(spark, sf):
        """Adjacent-token-pair frequency table (one BPE induction
        iteration): narrow pair transform + ONE hash agg on the pair."""
        from serialization_agents_spark.operators.vocab import bpe_pair_stats

        return bpe_pair_stats(_t(spark, sf, "documents"))

    def text_inverted_index(spark, sf):
        """Per-term posting-list heads (16 smallest doc ids) + corpus
        term/doc frequencies — the retrieval-layer segment index. The
        head is window-bounded so stop-word terms never materialize
        their full posting list (operators/vocab.py inverted_index)."""
        from serialization_agents_spark.operators.vocab import inverted_index

        return inverted_index(_t(spark, sf, "documents"), max_postings=16)

    def text_perplexity_bucket(spark, sf):
        """CCNet-style perplexity filter: per-doc average negative
        log-prob under the corpus's add-one unigram LM as an exact
        integer micro-nll, bucketed head/middle/tail at the exact
        p25/p75 quartiles (operators/vocab.py perplexity_buckets). All
        doc-level sums are integer, so no float order can drift."""
        from serialization_agents_spark.operators.vocab import perplexity_buckets

        return perplexity_buckets(_t(spark, sf, "documents"))

    def text_ngram_counts(spark, sf):
        """Token trigram LM count table thresholded at 2 occurrences —
        one narrow transform + one hash agg with map-side combine."""
        from serialization_agents_spark.operators.vocab import ngram_counts

        return ngram_counts(_t(spark, sf, "documents"), n=3, min_count=2)

    def url_dedup_latest(spark, sf):
        """Canonical-URL latest-capture dedup (the first pass of a crawl
        pipeline): normalize scheme/www/port/tracking/fragment variants
        to one canonical key, keep the newest capture per key. ONE
        shuffle on canon_url shared by both window functions."""
        from serialization_agents_spark.operators.urls import dedup_latest_capture

        kept = dedup_latest_capture(_url_captures(spark, sf))
        return kept.select(
            "canon_url",
            F.col("url").alias("kept_url"),
            F.col("warc_ts").alias("kept_ts"),
            "n_captures",
        )

    def url_domain_stats(spark, sf):
        """Per-registered-domain rollup (page/canonical counts, token
        totals, latest capture) — the input table of a FineWeb-style
        domain-level curation gate. One hash agg on the domain key."""
        from serialization_agents_spark.operators.urls import domain_stats

        return domain_stats(_url_captures(spark, sf))

    def url_domain_filter(spark, sf):
        """Domain-level corpus gate: keep pages whose registered domain
        has >= 2 captures AND integer-average >= 35 tokens/page. The
        stats side aggregates once and broadcasts back — the per-page
        verdict is a broadcast hash join, never a second corpus
        shuffle."""
        from serialization_agents_spark.operators.urls import domain_filter

        return domain_filter(
            _url_captures(spark, sf), min_pages=2, min_avg_tokens=35
        ).select("doc_id", "domain")

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
        from serialization_agents_spark.operators.curate import curate_corpus

        return curate_corpus(
            _t(spark, sf, "documents"), min_quality=0.75, max_dup3=0.01
        )

    def u3_snapshot_diff(spark, sf):
        """CDC-style diff of two crawl snapshots (covers the EXCEPT/
        INTERSECT family — U3 — as ONE keyed full-outer join instead of
        three whole-row set ops; see operators/delta.py for why that is
        the 100 TB-correct shape). Snapshots derive deterministically
        from `documents`: the old crawl is missing doc_id % 7 == 0
        (-> 'added'), the new crawl dropped doc_id % 7 == 3
        (-> 'removed'), and doc_id % 5 == 2 pages carried different
        content in the old crawl (-> 'changed'). Fingerprints are
        md5(text) — the same oracle-replayable hash contract as
        dedup_exact."""
        from serialization_agents_spark.operators.delta import snapshot_diff

        docs = _t(spark, sf, "documents")
        d = F.col("doc_id")
        old = docs.where(d % 7 != 0).select(
            "doc_id",
            F.when(d % 5 == 2, F.md5(F.concat(F.col("text"), F.lit("-v1"))))
            .otherwise(F.md5(F.col("text")))
            .alias("fingerprint"),
        )
        new = docs.where(d % 7 != 3).select(
            "doc_id", F.md5(F.col("text")).alias("fingerprint")
        )
        return snapshot_diff(old, new)

    def multimodal_image_features(spark, sf):
        from serialization_agents_spark.operators.multimodal import (
            extract_image_features,
            synth_media,
        )

        media = synth_media(spark, n=200)
        return extract_image_features(media, fake=True).select(
            "media_id", "width", "height", "channels", "decode_ok"
        )

    def multimodal_audio_features(spark, sf):
        from serialization_agents_spark.operators.multimodal import (
            extract_audio_features,
            synth_media,
        )

        media = synth_media(spark, n=200)
        return extract_audio_features(media).select(
            "media_id", "sample_rate", "duration_ms", "decode_ok"
        )

    def multimodal_frame_sample(spark, sf):
        from serialization_agents_spark.operators.multimodal import (
            sample_video_frames,
            synth_media,
        )

        media = synth_media(spark, n=200)
        return sample_video_frames(media, every_ms=1000, max_frames=16).select(
            "media_id", "frame_idx", "ts_ms"
        )

    def multimodal_resize(spark, sf):
        """Resize kernel under the hash gate: the fake payload is a pure
        function of (content, target size), so its bytes are certified
        via md5-over-hex (DuckDB's md5 is VARCHAR-only)."""
        from serialization_agents_spark.operators.multimodal import (
            resize_images,
            synth_media,
        )

        media = synth_media(spark, n=200)
        out = resize_images(media, width=64, height=64)
        return out.select(
            "media_id", "width", "height",
            F.md5(F.lower(F.hex("content"))).alias("content_md5"),
        )

    # ---- KG pipeline over derived pages ----------------------------------
    def kg_extract_text(spark, sf):
        from serialization_agents_spark.operators.extract import with_extracted_text

        return with_extracted_text(_kg_pages(spark, sf)).select("url", "text")

    def kg_mentions(spark, sf):
        from serialization_agents_spark.operators.mentions import detect_mentions

        return detect_mentions(_kg_pages(spark, sf)).select(
            "url", "name_raw", "viaf_hint", "lc_hint"
        )

    def p4_promoted_mentions(spark, sf):
        from serialization_agents_spark.operators.mentions import (
            promote_subject_mentions,
        )

        return promote_subject_mentions(_kg_pages(spark, sf)).select(
            "url", "name_raw", "source", "source_priority"
        )

    def kg_mentions_prose(spark, sf):
        from serialization_agents_spark.operators.extract import with_extracted_text
        from serialization_agents_spark.operators.mentions import (
            detect_mentions_prose,
        )

        pages = with_extracted_text(_kg_pages(spark, sf))
        return detect_mentions_prose(pages).select("url", "name_raw")

    def kg_mentions_gazetteer(spark, sf):
        from serialization_agents_spark.functions.normalize import normalize_name_expr
        from serialization_agents_spark.operators.extract import with_extracted_text
        from serialization_agents_spark.operators.mentions import (
            detect_mentions_gazetteer,
        )

        pages = with_extracted_text(_kg_pages(spark, sf))
        cust = _t(spark, sf, "customer")
        k = F.col("c_custkey")
        gaz = cust.where(k % 11 == 0).select(
            k.cast("string").alias("viaf_id"),
            F.array(normalize_name_expr(F.col("c_name"))).alias("normalized"),
        )
        hits = detect_mentions_gazetteer(pages, gaz, max_shingle=2)
        return hits.select("url", "name_norm", "viaf_hint").distinct()

    def j6_redirect_resolution(spark, sf):
        from serialization_agents_spark.operators.linking import resolve_redirects
        from serialization_agents_spark.operators.mentions import detect_mentions

        mentions = detect_mentions(_kg_pages(spark, sf))
        resolved, _dead = resolve_redirects(mentions, _kg_redirects(spark, sf))
        return resolved.where(F.col("viaf_hint").isNotNull()).select(
            "url", "viaf_hint", "viaf_resolved", "lc_hint"
        )

    def s11_dead_viaf(spark, sf):
        from serialization_agents_spark.operators.linking import resolve_redirects
        from serialization_agents_spark.operators.mentions import detect_mentions

        mentions = detect_mentions(_kg_pages(spark, sf))
        _resolved, dead = resolve_redirects(mentions, _kg_redirects(spark, sf))
        return dead

    def j2_lcnaf_fallback(spark, sf):
        linked = _kg_canonical(spark, sf).linked
        return linked.where(F.col("lc_hint").isNotNull()).select(
            "url", "name_raw", "lc_hint", "entity_key"
        )

    def s15_error_log(spark, sf):
        """S15 — the pipeline's per-row failure audit: blacklisted names
        (F6 drops) + dead VIAF ids (S11), (stage, url, reason, detail)
        rows (reference lib/utils.js:238 logError)."""
        from serialization_agents_spark.operators.extract import with_extracted_text
        from serialization_agents_spark.operators.linking import resolve_redirects
        from serialization_agents_spark.operators.mentions import detect_mentions
        from serialization_agents_spark.plans.errors import pipeline_errors

        pages_x = with_extracted_text(_kg_pages(spark, sf))
        mentions = detect_mentions(_kg_pages(spark, sf), include_subjects=True)
        _resolved, dead = resolve_redirects(mentions, _kg_redirects(spark, sf))
        bl = spark.createDataFrame(
            [("Unlisted Person 3",), ("Unlisted Person 17",)], "name string"
        )
        return pipeline_errors(pages_x, mentions, dead, bl)

    def kg_linked(spark, sf):
        linked = _kg_canonical(spark, sf).linked
        return linked.select("url", "name_raw", "entity_key").distinct()

    def kg_agents(spark, sf):
        """Also certifies X4 (lc_terms with ' (Spirit)' are stripped back
        to c_name — the oracle derives names WITHOUT the suffix) and X6
        (ulan = getty_id int-cast, lib/utils_shadowcat.js:230,236)."""
        agents = _kg_canonical(spark, sf).agents
        return agents.select(
            "entity_key", "name_controlled", "is_controlled", "type",
            "ulan", "mention_count",
        )

    def kg_agents_bucketed(spark, sf):
        """The SAME agents surface as kg_agents, but produced through the
        flagship plan runner with `agents_table=` set (VERDICT r4 #5): the
        agents stage is persisted as a catalog table BUCKETED on
        entity_key (sources/bucketed.py) and handed downstream through
        the catalog, so every later entity_key join/aggregation plans
        with no shuffle Exchange on the agents side — the 10^12-entity
        maintenance-join layout, now exercised in the driver flow, not
        only in tests. Hash-certified against kg_agents' oracle: the
        bucketed layout must be a pure physical choice with zero effect
        on results."""
        import tempfile

        out = tempfile.mkdtemp(prefix="kg_bucketed_") + "/run"
        res = run_pipeline(
            spark,
            _kg_pages(spark, sf),
            _kg_authority(spark, sf),
            redirects=_kg_redirects(spark, sf),
            out_dir=out,
            agents_table="kg_agents_bucketed_stage",
            # the agents-refresh maintenance job: stop at the agents
            # stage — CC/triples/errors are never declared (until=),
            # keeping this gate row at the cost of the stages it tests
            until="agents",
        )
        return res.agents.select(
            "entity_key", "name_controlled", "is_controlled", "type",
            "ulan", "mention_count",
        )

    def kg_alt_forms(spark, sf):
        """X2/X3 under the hash gate: the scored altForms the reference
        stores on every agent (poverlap at lib/utils_shadowcat.js:247,
        fuzzy vs the final nameControlled; trivial-case 100/1.0 at :401),
        computed by merge.score_alt_forms on entity-scale rows."""
        canonical = _kg_canonical(spark, sf).canonical
        af = canonical.select(
            "entity_key", F.explode("alt_forms").alias("af")
        )
        return af.select(
            "entity_key",
            F.col("af.name").alias("alt_name"),
            F.col("af.source").alias("source"),
            F.round("af.poverlap", 4).alias("poverlap"),
            F.round("af.fuzzy", 4).alias("fuzzy"),
        )

    def kg_triples(spark, sf):
        res = _kg_canonical(spark, sf)
        return materialize_triples(res.canonical, res.linked)

    def kg_enumerate_agents(spark, sf):
        canonical = _kg_canonical(spark, sf).canonical
        return canonical.select("entity_key", "registry_id")

    def kg_lineage(spark, sf):
        """A7/X13 under the hash gate: per-stage lineage metrics —
        (stage, row_count, key_checksum) — the driver-queryable face of
        the reference's progress counters + metrics table
        (lib/shadowcat_serialize_viaf_agents.js:63-77). The checksum is
        an order-independent SUM over md5-prefix ints (md5, not
        xxhash64, so DuckDB can derive the identical value); the
        pipeline's per-partition variant lives in plans/lineage.py."""
        res = _kg_canonical(spark, sf)
        mentions, linked, agents = res.mentions, res.linked, res.agents
        triples = materialize_triples(res.canonical, linked)

        def m(df, stage, key):
            return (
                df.select(key.alias("k"))
                .agg(
                    F.count(F.lit(1)).alias("row_count"),
                    F.sum(
                        F.conv(F.substring(F.md5("k"), 1, 8), 16, 10).cast("long")
                    ).alias("key_checksum"),
                )
                .select(F.lit(stage).alias("stage"), "row_count", "key_checksum")
            )

        return (
            m(
                mentions, "mentions",
                F.concat_ws(
                    "|", "url", "name_raw",
                    F.coalesce("viaf_hint", F.lit("")),
                    F.coalesce("lc_hint", F.lit("")), "source",
                ),
            )
            .unionByName(
                m(linked, "linked", F.concat_ws("|", "url", "name_raw", "entity_key"))
            )
            .unionByName(m(agents, "agents", F.col("entity_key")))
            .unionByName(
                m(triples, "triples", F.concat_ws("|", "subj", "pred", "obj"))
            )
        )

    def kg_windowed_metrics(spark, sf):
        """Streaming surface under the driver gate: the watermarked
        windowed-metrics plan (streaming/windowed.py) run over the batch
        kg pages — same plan body either way (its docstring contract);
        the stream-mode late-drop semantics are pinned by
        tests/test_streaming_windowed.py. Window bounds exported as
        epoch SECONDS (integers hash identically cross-engine;
        timestamps don't)."""
        from serialization_agents_spark.streaming.windowed import windowed_page_metrics

        m = windowed_page_metrics(_kg_pages(spark, sf), window="10 minutes")
        return m.select(
            F.unix_seconds("window_start").alias("window_start_s"),
            F.unix_seconds("window_end").alias("window_end_s"),
            "lang", "n_pages",
            F.col("n_mentions").cast("long").alias("n_mentions"),
            F.col("n_subjects").cast("long").alias("n_subjects"),
        )

    def o10_session_window(spark, sf):
        """Spark's native merging session windows (F.session_window,
        streaming/windowed.py session_metrics) over the events table —
        the merging-window state shape, certified on batch input against
        a DuckDB gaps-and-islands replay (new session iff
        ts - prev > gap, boundary merges; session_end = last_ts + gap). The streaming
        run of the SAME plan (append mode, watermark late-drop, session
        fusion) is pinned by tests/test_streaming_windowed.py."""
        from serialization_agents_spark.streaming.windowed import session_metrics

        s = session_metrics(_t(spark, sf, "events"), gap="30 minutes")
        return s.select(
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            "n_events", "value_cents",
        )

    def kg_incremental_fold(spark, sf):
        """Streaming surface under the driver gate: the kg pages split
        into 3 deterministic batches (doc_id % 3) and folded one at a
        time into a persisted bucket-partitioned agents table via
        fold_batch_into_agents — the module's batch(all) == fold(batches)
        contract (streaming/incremental.py) means the folded table
        must hash-match the SAME oracle SQL as kg_agents."""
        import tempfile

        from serialization_agents_spark.streaming.incremental import (
            fold_batch_into_agents,
        )

        agents_dir = tempfile.mkdtemp(prefix="kg_fold_") + "/agents"
        pages = _kg_pages(spark, sf)
        auth = _kg_authority(spark, sf)
        red = _kg_redirects(spark, sf)
        d = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
        for b in range(3):
            res = run_pipeline(
                spark, pages.where(d % 3 == b), auth, redirects=red,
                until="agents", cache=False,
            )
            fold_batch_into_agents(spark, agents_dir, res.agents, b)
        folded = spark.read.parquet(agents_dir)
        return folded.select(
            "entity_key", "name_controlled", "is_controlled", "type",
            "ulan", "mention_count",
        )

    def kg_stateful_totals(spark, sf):
        """Stateful streaming surface under the driver gate — a REAL
        Structured Streaming execution, not a batch stand-in: the kg
        pages are written to a temp dir, consumed by an availableNow
        query whose applyInPandasWithState state carries running
        per-name mention totals (streaming/stateful.py), snapshots
        appended per micro-batch. The final totals (max per key — totals
        are monotone) must equal the batch per-name mention counts,
        which the DuckDB oracle derives from the same mentions CTE."""
        import tempfile

        from serialization_agents_spark.streaming.stateful import (
            stream_running_totals_to_parquet,
        )

        base = tempfile.mkdtemp(prefix="kg_stateful_")
        pages_dir, out_dir, ckpt = f"{base}/pages", f"{base}/totals", f"{base}/ckpt"
        # Keep the driver wall-time of this REAL streaming query small:
        # 4 input files consumed 2-per-trigger = exactly 2 micro-batches
        # (cross-batch state still exercised), and a narrow state-store
        # width for the throwaway checkpoint (shuffle.partitions is read
        # at query START and pinned into the checkpoint; restored after).
        _kg_pages(spark, sf).coalesce(4).write.mode("overwrite").parquet(pages_dir)
        conf_key = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(conf_key)
        spark.conf.set(conf_key, "4")
        try:
            q = stream_running_totals_to_parquet(
                spark, pages_dir, out_dir, ckpt, max_files_per_trigger=2
            )
        finally:
            spark.conf.set(conf_key, prev)
        finished = q.awaitTermination(600)
        if not finished or q.exception() is not None:
            q.stop()
            raise RuntimeError(
                f"kg_stateful_totals streaming query did not finish cleanly: "
                f"timed_out={not finished} exception={q.exception()}"
            )
        totals = spark.read.parquet(out_dir)
        return totals.groupBy("name_norm").agg(F.max("total").alias("total"))

    return {
        "s2_minmax_probe": s2_minmax_probe,
        "s3_scan_project_filter": s3_scan_project_filter,
        "f6_blacklist_anti_join": f6_blacklist_anti_join,
        "f7_semi_join": f7_semi_join,
        "j1_broadcast_lookup_join": j1_broadcast_lookup_join,
        "o2_window_top1_orders": o2_window_top1_orders,
        "o2_latest_event_per_user": o2_latest_event_per_user,
        "o3_enumerate_customers": o3_enumerate_customers,
        "a5_groupby_set_union": a5_groupby_set_union,
        "u2_union_priority": u2_union_priority,
        "u3_snapshot_diff": u3_snapshot_diff,
        "p2_regexp_extract_id": p2_regexp_extract_id,
        "a6_distinct_pairs": a6_distinct_pairs,
        "o4_sessionize": o4_sessionize,
        "j4_fuzzy_scores": j4_fuzzy_scores,
        "j5_variant_match": j5_variant_match,
        "dedup_exact": dedup_exact,
        "dedup_minhash_signatures": dedup_minhash_signatures,
        "dedup_minhash_pairs": dedup_minhash_pairs,
        "dedup_minhash_pairs_prod": dedup_minhash_pairs_prod,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_simhash": dedup_simhash,
        "dedup_chunks": dedup_chunks,
        "dedup_repeated_spans": dedup_repeated_spans,
        "dedup_winnow_pairs": dedup_winnow_pairs,
        "dedup_winnow_pairs_prod": dedup_winnow_pairs_prod,
        "dedup_neardup_clusters": dedup_neardup_clusters,
        "ann_cosine_top3": ann_cosine_top3,
        "ann_lsh_top3": ann_lsh_top3,
        "ann_lsh_multiprobe_top3": ann_lsh_multiprobe_top3,
        "ann_ivf_top3": ann_ivf_top3,
        "ann_kmeans_refine": ann_kmeans_refine,
        "ann_sq8_top3": ann_sq8_top3,
        "ann_rp_top3": ann_rp_top3,
        "dedup_embedding_neardup": dedup_embedding_neardup,
        "text_lang_id": text_lang_id,
        "text_lang_confusion": text_lang_confusion,
        "text_quality": text_quality,
        "text_token_counts": text_token_counts,
        "text_fingerprint": text_fingerprint,
        "text_repetition": text_repetition,
        "text_pii_scrub": text_pii_scrub,
        "text_corpus_stats": text_corpus_stats,
        "text_vocab_stats": text_vocab_stats,
        "text_inverted_index": text_inverted_index,
        "text_ngram_counts": text_ngram_counts,
        "text_perplexity_bucket": text_perplexity_bucket,
        "corpus_sample": corpus_sample,
        "corpus_mixture": corpus_mixture,
        "corpus_epoch_order": corpus_epoch_order,
        "text_bm25_topk": text_bm25_topk,
        "text_quality_gate": text_quality_gate,
        "corpus_shard_pack": corpus_shard_pack,
        "a8_rollup_counts": a8_rollup_counts,
        "a9_cube_counts": a9_cube_counts,
        "o11_pivot_event_types": o11_pivot_event_types,
        "u4_intersect_except": u4_intersect_except,
        "o6_trailing_window": o6_trailing_window,
        "o7_sliding_window": o7_sliding_window,
        "o8_percentiles": o8_percentiles,
        "o9_interval_join": o9_interval_join,
        "o10_session_window": o10_session_window,
        "o9s_stream_interval_join": o9s_stream_interval_join,
        "kg_pagerank": kg_pagerank,
        "kg_label_prop": kg_label_prop,
        "kg_bfs_hops": kg_bfs_hops,
        "kg_er_metrics": kg_er_metrics,
        "kg_temporal_provenance": kg_temporal_provenance,
        "kg_negative_samples": kg_negative_samples,
        "kg_cooccurrence": kg_cooccurrence,
        "kg_triangles": kg_triangles,
        "o5_asof_join": o5_asof_join,
        "text_decontaminate": text_decontaminate,
        "text_tfidf_topk": text_tfidf_topk,
        "text_bpe_pair_stats": text_bpe_pair_stats,
        "url_dedup_latest": url_dedup_latest,
        "url_domain_stats": url_domain_stats,
        "url_domain_filter": url_domain_filter,
        "webtext_curate": webtext_curate,
        "multimodal_image_features": multimodal_image_features,
        "multimodal_audio_features": multimodal_audio_features,
        "multimodal_frame_sample": multimodal_frame_sample,
        "multimodal_resize": multimodal_resize,
        "kg_extract_text": kg_extract_text,
        "kg_mentions": kg_mentions,
        "p4_promoted_mentions": p4_promoted_mentions,
        "kg_mentions_prose": kg_mentions_prose,
        "kg_mentions_gazetteer": kg_mentions_gazetteer,
        "j6_redirect_resolution": j6_redirect_resolution,
        "s11_dead_viaf": s11_dead_viaf,
        "j2_lcnaf_fallback": j2_lcnaf_fallback,
        "s15_error_log": s15_error_log,
        "kg_linked": kg_linked,
        "kg_agents": kg_agents,
        "kg_agents_bucketed": kg_agents_bucketed,
        "kg_alt_forms": kg_alt_forms,
        "kg_triples": kg_triples,
        "kg_enumerate_agents": kg_enumerate_agents,
        "kg_lineage": kg_lineage,
        "kg_windowed_metrics": kg_windowed_metrics,
        "kg_incremental_fold": kg_incremental_fold,
        "kg_stateful_totals": kg_stateful_totals,
    }


def oracle_sql() -> dict[str, str]:
    shingle_sql = (
        "list_distinct(CASE WHEN len(w) >= 3 THEN "
        "list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) "
        "ELSE [array_to_string(w, ' ')] END)"
    )
    toks = "string_split_regex(lower(trim(text)), '\\s+')"
    mh = lambda i: f"list_min(list_transform(sh, s -> md5('{i}:' || s)))"  # noqa: E731
    band = lambda b: (  # noqa: E731
        f"md5('{b}' || '|' || " + " || '|' || ".join(f"mh{b * 4 + r}" for r in range(4)) + ")"
    )
    sig_cte = (
        f"WITH sh AS (SELECT doc_id, {shingle_sql} AS sh FROM "
        f"(SELECT doc_id, {toks} AS w FROM documents)), "
        "sig AS (SELECT doc_id, "
        + ", ".join(f"{mh(i)} AS mh{i}" for i in range(16))
        + " FROM sh), "
        "bands AS (SELECT doc_id, "
        + ", ".join(f"{band(b)} AS band{b}" for b in range(4))
        + " FROM sig)"
    )
    lang_counts = ", ".join(
        f"len(list_intersect({toks}, {markers!r})) AS s_{lang}"
        for lang, markers in [
            ("en", ["the", "and", "of", "to", "a", "in", "is", "that", "it", "was"]),
            ("de", ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "den", "von"]),
            ("fr", ["le", "la", "les", "et", "est", "une", "dans", "que", "pour", "des"]),
            ("es", ["el", "la", "los", "las", "es", "una", "en", "que", "por", "con"]),
        ]
    )
    cos = (
        "round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
        "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
        "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4)"
    )
    # Quality-score pieces shared by text_quality and text_corpus_stats —
    # one source of truth so the two oracles can never drift apart.
    qual_cte = lambda extra_cols: (  # noqa: E731
        f"WITH q AS (SELECT {extra_cols}, length(text) AS n_chars, "
        f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({toks}) END AS n_tok, "
        f"len(list_intersect({toks}, "
        "['the','and','of','to','a','in','is','that','it','was'])) AS stop_hits, "
        "len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct "
        "FROM documents)"
    )
    qual_expr = (
        "round(("
        "least(n_tok / 20.0, 1.0) + "
        "(CASE WHEN n_tok > 0 AND (n_chars - (n_tok - 1.0)) / n_tok BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END) + "
        "least((CASE WHEN n_tok > 0 THEN stop_hits::DOUBLE / n_tok ELSE 0 END) * 10.0, 1.0) + "
        "greatest(0.0, 1.0 - (CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0 END) * 5.0)"
        ") / 4.0, 4)"
    )
    from serialization_agents_spark.functions.text import (
        PII_EMAIL,
        PII_IPV4,
        PII_PHONE,
    )
    from serialization_agents_spark.operators.urls import (
        canonical_url_sql,
        registered_domain_sql,
    )

    # The _url_captures generator, rebuilt in SQL (pure doc_id arithmetic),
    # plus the shared canonicalization chain from CANONICAL_STEPS.
    url_caps_cte = (
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
    url_dom = registered_domain_sql("canon_url")
    url_ntok = f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({toks}) END"

    return {
        "s2_minmax_probe": "SELECT min(o_orderkey) AS min_key, max(o_orderkey) AS max_key FROM orders",
        "s3_scan_project_filter": "SELECT doc_id, n_chars FROM documents WHERE lang = 'en'",
        "f6_blacklist_anti_join": "SELECT doc_id, source FROM documents WHERE source NOT IN ('src0', 'src1')",
        "f7_semi_join": "SELECT c_custkey FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)",
        "j1_broadcast_lookup_join": (
            "SELECT o_orderkey, c_name, o_totalprice FROM orders "
            "JOIN customer ON o_custkey = c_custkey"
        ),
        "o2_window_top1_orders": (
            "SELECT o_custkey, o_orderkey, o_totalprice FROM ("
            "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER ("
            "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn "
            "FROM orders) WHERE rn = 1"
        ),
        "o2_latest_event_per_user": (
            "SELECT user_id, event_id, event_type FROM ("
            "SELECT user_id, event_id, event_type, row_number() OVER ("
            "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn "
            "FROM events) WHERE rn = 1"
        ),
        "o3_enumerate_customers": (
            "SELECT c_name AS entity_key, "
            "row_number() OVER (ORDER BY c_name) + 9999999 AS registry_id FROM customer"
        ),
        "a5_groupby_set_union": (
            "SELECT c_mktsegment, count(*) AS n_customers, "
            "array_to_string(list_sort(list(DISTINCT CAST(c_nationkey AS VARCHAR))), ',') AS nations, "
            "round(sum(c_acctbal), 2) AS total_balance "
            "FROM customer GROUP BY c_mktsegment"
        ),
        "u2_union_priority": (
            "SELECT user_id, min(CASE WHEN event_type = 'click' THEN 1 ELSE 2 END) AS best_priority "
            "FROM events WHERE event_type IN ('click', 'view') GROUP BY user_id"
        ),
        "u3_snapshot_diff": (
            "WITH old AS (SELECT doc_id, CASE WHEN doc_id % 5 = 2 "
            "THEN md5(text || '-v1') ELSE md5(text) END AS fp "
            "FROM documents WHERE doc_id % 7 <> 0), "
            "new AS (SELECT doc_id, md5(text) AS fp "
            "FROM documents WHERE doc_id % 7 <> 3) "
            "SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, "
            "CASE WHEN o.doc_id IS NULL THEN 'added' "
            "WHEN n.doc_id IS NULL THEN 'removed' "
            "WHEN o.fp <> n.fp THEN 'changed' END AS change, "
            "o.fp AS old_fingerprint, n.fp AS new_fingerprint "
            "FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id "
            "WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.fp <> n.fp"
        ),
        "p2_regexp_extract_id": (
            "SELECT c_custkey, regexp_extract(c_name, 'Customer#([0-9]+)', 1) AS name_id FROM customer"
        ),
        "a6_distinct_pairs": "SELECT DISTINCT lang, source FROM documents",
        "o4_sessionize": (
            "WITH g AS (SELECT user_id, event_id, "
            "epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap "
            "FROM events) "
            "SELECT user_id, sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)::BIGINT AS n_sessions, "
            "count(*) AS n_events FROM g GROUP BY user_id"
        ),
        "dedup_exact": (
            "SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, "
            "count(*) AS dup_count FROM documents GROUP BY md5(text)"
        ),
        "dedup_minhash_signatures": (
            sig_cte + " SELECT doc_id, band0, band1, band2, band3 FROM bands"
        ),
        "dedup_minhash_pairs": (
            sig_cte
            + ", eb AS ("
            + " UNION ALL ".join(
                f"SELECT doc_id, band{b} AS band FROM bands" for b in range(4)
            )
            + "), ebd AS (SELECT DISTINCT doc_id, band FROM eb) "
            "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM ebd a JOIN ebd b ON a.band = b.band AND a.doc_id < b.doc_id"
        ),
        "dedup_ngram_jaccard": (
            sig_cte
            + ", eb AS ("
            + " UNION ALL ".join(
                f"SELECT doc_id, band{b} AS band FROM bands" for b in range(4)
            )
            + "), ebd AS (SELECT DISTINCT doc_id, band FROM eb), "
            "pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM ebd a JOIN ebd b ON a.band = b.band AND a.doc_id < b.doc_id) "
            "SELECT id_a, id_b, round("
            "len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 4"
            ") AS jaccard FROM pairs "
            "JOIN sh sa ON pairs.id_a = sa.doc_id JOIN sh sb ON pairs.id_b = sb.doc_id"
        ),
        "dedup_simhash": (
            "WITH tok AS (SELECT doc_id, unnest(list_distinct("
            + toks
            + ")) AS t FROM documents), "
            "h AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS hv FROM tok), "
            "votes AS (SELECT doc_id, "
            + ", ".join(
                f"sum(((hv >> {b}) & 1) * 2 - 1) AS b{b}" for b in range(32)
            )
            + " FROM h GROUP BY doc_id) "
            "SELECT doc_id, ("
            + " + ".join(f"CASE WHEN b{b} > 0 THEN {2**b} ELSE 0 END" for b in range(32))
            + ")::BIGINT AS simhash FROM votes"
        ),
        # Winnowing: gram md5s, window-of-4 list_min (lexicographic, same
        # as Spark's array_min on hex strings), distinct (doc, fp), then
        # a fingerprint-blocked self-join. Cap never triggers at gate SFs
        # (like the minhash oracle, the cap is pytest territory).
        "dedup_winnow_pairs": (
            f"WITH t AS (SELECT doc_id, {toks} AS w FROM documents), "
            "g AS (SELECT doc_id, list_transform("
            "range(0, len(w) - 10 + 1), i -> md5("
            + " || ' ' || ".join(f"w[i + {j}]" for j in range(1, 11))
            + ")) AS hs FROM t WHERE len(w) >= 13), "
            "fp AS (SELECT DISTINCT doc_id, unnest(list_transform("
            "range(0, len(hs) - 4 + 1), j -> list_min(hs[j + 1 : j + 4]"
            "))) AS fp FROM g) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "count(*)::BIGINT AS n_shared "
            "FROM fp a JOIN fp b USING (fp) WHERE a.doc_id < b.doc_id "
            "GROUP BY a.doc_id, b.doc_id"
        ),
        # Every 10-token window (stride 1): element-concat windowing
        # (the minhash shingle CTE pattern), duplicated = window text in
        # >= 2 distinct docs, fraction divides the same two BIGINTs in
        # both engines.
        "dedup_repeated_spans": (
            f"WITH t AS (SELECT doc_id, {toks} AS w FROM documents), "
            "occ AS (SELECT doc_id, unnest(list_transform("
            "range(0, len(w) - 10 + 1), i -> "
            + " || ' ' || ".join(f"w[i + {j}]" for j in range(1, 11))
            + ")) AS win FROM t WHERE len(w) >= 10), "
            "dup AS (SELECT win FROM (SELECT win, count(DISTINCT doc_id) "
            "AS nd FROM occ GROUP BY win) WHERE nd >= 2) "
            "SELECT o.doc_id, count(*)::BIGINT AS n_windows, "
            "sum(CASE WHEN d.win IS NULL THEN 0 ELSE 1 END)::BIGINT "
            "AS dup_windows, "
            "round(sum(CASE WHEN d.win IS NULL THEN 0 ELSE 1 END)::DOUBLE "
            "/ count(*), 4) AS dup_fraction "
            "FROM occ o LEFT JOIN dup d USING (win) GROUP BY o.doc_id"
        ),
        # Chunk-level keep-first dedup: DuckDB's unnest(range(...)) plays
        # the role of Spark's posexplode over fixed 12-token windows; the
        # keep-first rule is the identical row_number window on the chunk
        # hash ordered by (doc_id, chunk_idx).
        "dedup_chunks": (
            f"WITH t AS (SELECT doc_id, {toks} AS w FROM documents), "
            "ix AS (SELECT doc_id, w, unnest(range(0, "
            "CAST(ceil(len(w) / 12.0) AS BIGINT))) AS i FROM t WHERE len(w) > 0), "
            "ch AS (SELECT doc_id, i AS chunk_idx, "
            "array_to_string(w[(i*12+1):(i*12+12)], ' ') AS chunk FROM ix), "
            "chf AS (SELECT doc_id, chunk_idx, chunk FROM ch WHERE chunk <> ''), "
            "r AS (SELECT doc_id, chunk_idx, chunk, row_number() OVER ("
            "PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx) AS rn FROM chf) "
            "SELECT doc_id, count(*) AS total_chunks, "
            "sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS kept_chunks, "
            "coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx) "
            "FILTER (WHERE rn = 1), '') AS dedup_text "
            "FROM r GROUP BY doc_id"
        ),
        # Transitive closure over the SAME banded candidate pairs the
        # dedup_minhash_pairs oracle certifies, as a recursive CTE; the
        # Spark side runs the kg pipeline's connected-components loop, so
        # this row is the CC operator's independent cross-engine oracle.
        "dedup_neardup_clusters": (
            "WITH RECURSIVE "
            + sig_cte[len("WITH ") :]
            + ", eb AS ("
            + " UNION ALL ".join(
                f"SELECT doc_id, band{b} AS band FROM bands" for b in range(4)
            )
            + "), ebd AS (SELECT DISTINCT doc_id, band FROM eb), "
            "pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM ebd a JOIN ebd b ON a.band = b.band AND a.doc_id < b.doc_id), "
            "e AS (SELECT id_a AS a, id_b AS b FROM pairs "
            "UNION SELECT id_b, id_a FROM pairs), "
            "reach(id, r) AS (SELECT a, a FROM e "
            "UNION SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a) "
            "SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY id"
        ),
        "ann_cosine_top3": (
            "SELECT query_id, neighbor_id, cosine, rank FROM ("
            "SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, "
            f"{cos} AS cosine, "
            f"row_number() OVER (PARTITION BY b.vec_id ORDER BY {cos} DESC, a.vec_id ASC) AS rank "
            "FROM embeddings a CROSS JOIN embeddings b "
            "WHERE b.vec_id < 5 AND a.vec_id >= 5) WHERE rank <= 3"
        ),
        "text_lang_id": (
            f"WITH s AS (SELECT doc_id, {lang_counts} FROM documents) "
            "SELECT doc_id, CASE "
            "WHEN s_en <= 0 AND s_de <= 0 AND s_fr <= 0 AND s_es <= 0 THEN 'und' "
            "WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en' "
            "WHEN s_de >= s_fr AND s_de >= s_es THEN 'de' "
            "WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred FROM s"
        ),
        "text_lang_confusion": (
            f"WITH s AS (SELECT lang AS lang_true, {lang_counts} FROM documents), "
            "p AS (SELECT lang_true, CASE "
            "WHEN s_en <= 0 AND s_de <= 0 AND s_fr <= 0 AND s_es <= 0 THEN 'und' "
            "WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en' "
            "WHEN s_de >= s_fr AND s_de >= s_es THEN 'de' "
            "WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred FROM s) "
            "SELECT lang_true, lang_pred, count(*)::BIGINT AS n_docs "
            "FROM p GROUP BY 1, 2"
        ),
        "text_quality": (
            qual_cte("doc_id") + " SELECT doc_id, " + qual_expr + " AS quality FROM q"
        ),
        "text_token_counts": (
            "SELECT doc_id, "
            f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({toks}) END AS ws_tokens, "
            "len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens "
            "FROM documents"
        ),
        "text_fingerprint": (
            "SELECT doc_id, md5(array_to_string(list_sort(list_distinct("
            + toks
            + ")), ' ')) AS fingerprint FROM documents"
        ),
        # Repetition fractions: DuckDB lists are 1-based and scalar
        # range(a, b) is half-open, so range(1, len(l)) enumerates the
        # n-1 bigram starts exactly like Spark's sequence(1, k-1).
        "text_repetition": (
            f"WITH t AS (SELECT doc_id, {toks} AS l FROM documents), "
            "g AS (SELECT doc_id, l, "
            "list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]) AS g2, "
            "list_transform(range(1, len(l) - 1), "
            "i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) AS g3 FROM t) "
            "SELECT doc_id, "
            "CASE WHEN len(l) > 0 THEN round(1.0 - len(list_distinct(l))::DOUBLE / len(l), 4) ELSE 0.0 END AS dup_word_fraction, "
            "CASE WHEN len(g2) > 0 THEN round(1.0 - len(list_distinct(g2))::DOUBLE / len(g2), 4) ELSE 0.0 END AS dup_2gram_fraction, "
            "CASE WHEN len(g3) > 0 THEN round(1.0 - len(list_distinct(g3))::DOUBLE / len(g3), 4) ELSE 0.0 END AS dup_3gram_fraction "
            "FROM g"
        ),
        # PII scrub over deterministically injected doc_id-derived PII
        # (the synthetic corpus carries none); patterns are the RE2-safe
        # Java-regex subset so both engines match byte-for-byte, and the
        # redaction order (email -> ip -> phone) is fixed on both sides.
        "text_pii_scrub": (
            "WITH i AS (SELECT doc_id, concat_ws(' ', text, "
            "'user' || doc_id::VARCHAR || '@example.com', "
            "'10.0.' || (doc_id % 256)::VARCHAR || '.7', "
            "'call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')) AS t "
            "FROM documents), "
            f"e1 AS (SELECT doc_id, len(regexp_extract_all(t, '{PII_EMAIL}')) AS n_emails, "
            f"regexp_replace(t, '{PII_EMAIL}', '<EMAIL>', 'g') AS t FROM i), "
            f"e2 AS (SELECT doc_id, n_emails, len(regexp_extract_all(t, '{PII_IPV4}')) AS n_ips, "
            f"regexp_replace(t, '{PII_IPV4}', '<IP>', 'g') AS t FROM e1), "
            f"e3 AS (SELECT doc_id, n_emails, n_ips, len(regexp_extract_all(t, '{PII_PHONE}')) AS n_phones, "
            f"regexp_replace(t, '{PII_PHONE}', '<PHONE>', 'g') AS t FROM e2) "
            "SELECT doc_id, n_emails::BIGINT AS n_emails, n_ips::BIGINT AS n_ips, "
            "n_phones::BIGINT AS n_phones, md5(t) AS scrubbed_hash FROM e3"
        ),
        # Mean quality via 10^4-scaled integer sums with FLOOR division
        # (// here, DIV on the Spark side): per-row quality is already
        # rounded to 4 decimals, so the whole aggregate stays in exact
        # integer space and no engine rounds an inexact double.
        "text_corpus_stats": (
            qual_cte("source, lang")
            + ", per AS (SELECT source, lang, "
            f"CAST(round({qual_expr} * 10000) AS BIGINT) AS q4, n_tok AS ws FROM q) "
            "SELECT source, lang, count(*) AS n_docs, "
            "(sum(q4)::BIGINT // count(*)) / 10000.0 AS avg_quality, "
            "sum(ws)::BIGINT AS total_tokens FROM per GROUP BY source, lang"
        ),
        # Inverted-index vocabulary build: identical tokenization, one
        # GROUP BY term; integer columns only so the hash is exact.
        "text_vocab_stats": (
            f"WITH e AS (SELECT doc_id, unnest({toks}) AS term FROM documents) "
            "SELECT term, count(*)::BIGINT AS term_freq, "
            "count(DISTINCT doc_id)::BIGINT AS doc_freq "
            "FROM e WHERE term <> '' GROUP BY term"
        ),
        # Inverted-index heads: the oracle takes the 16 smallest doc ids
        # by slicing the numerically-sorted full list — identical to the
        # window row_number head because doc_id is unique per (term, doc)
        # group; cast to VARCHAR only after the numeric sort.
        "text_inverted_index": (
            f"WITH e AS (SELECT doc_id, unnest({toks}) AS term FROM documents), "
            "pd AS (SELECT term, doc_id, count(*) AS tf FROM e "
            "WHERE term <> '' GROUP BY term, doc_id), "
            "st AS (SELECT term, sum(tf)::BIGINT AS term_freq, "
            "count(*)::BIGINT AS doc_freq FROM pd GROUP BY term), "
            "hd AS (SELECT term, array_to_string(list_transform("
            "list_sort(list(doc_id))[1:16], x -> CAST(x AS VARCHAR)), ',') "
            "AS postings_head FROM pd GROUP BY term) "
            "SELECT st.term, term_freq, doc_freq, doc_freq > 16 AS truncated, "
            "postings_head FROM st JOIN hd ON st.term = hd.term"
        ),
        # CCNet-style LM buckets: integer micro-nll per token (round
        # before the per-doc sum, so only exact BIGINT arithmetic crosses
        # rows), exact quartile interpolation at binary-exact fractions.
        "text_perplexity_bucket": (
            f"WITH ex AS (SELECT doc_id, unnest({toks}) AS term FROM documents), "
            "tok AS (SELECT doc_id, term FROM ex WHERE term <> ''), "
            "c AS (SELECT term, count(*) AS c FROM tok GROUP BY term), "
            "nv AS (SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS v FROM c), "
            "lm AS (SELECT term, round(-ln((c + 1)::DOUBLE / "
            "((SELECT n FROM nv) + (SELECT v FROM nv))::DOUBLE) "
            "* 10000)::BIGINT AS cost FROM c), "
            "d AS (SELECT t.doc_id, sum(l.cost)::BIGINT AS nll, "
            "count(*)::BIGINT AS n_tokens FROM tok t JOIN lm l USING (term) "
            "GROUP BY t.doc_id), "
            "s AS (SELECT doc_id, n_tokens, "
            "round(nll::DOUBLE / n_tokens)::BIGINT AS avg_nll_e4 FROM d), "
            "q AS (SELECT quantile_cont(avg_nll_e4, 0.25) AS p25, "
            "quantile_cont(avg_nll_e4, 0.75) AS p75 FROM s) "
            "SELECT doc_id, n_tokens, avg_nll_e4, "
            "CASE WHEN avg_nll_e4 <= (SELECT p25 FROM q) THEN 'head' "
            "WHEN avg_nll_e4 > (SELECT p75 FROM q) THEN 'tail' "
            "ELSE 'middle' END AS bucket FROM s"
        ),
        # Trigram LM counts: the same w[i..i+2] windowing as the minhash
        # shingle CTE, but counting every occurrence (no list_distinct)
        # and dropping docs shorter than 3 tokens.
        "text_ngram_counts": (
            f"WITH t AS (SELECT {toks} AS w FROM documents), "
            "g AS (SELECT unnest(list_transform(range(1, len(w) - 1), "
            "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ngram "
            "FROM t WHERE len(w) >= 3) "
            "SELECT ngram, count(*)::BIGINT AS n_occurrences FROM g "
            "GROUP BY ngram HAVING count(*) >= 2"
        ),
        # Deterministic stratified sampling: the deviate is the first 8
        # hex chars of md5('sample:' || doc_id) over 2^32 — exact in
        # binary (h/2^32), so both engines round the same double and the
        # keep-set replays bit-for-bit.
        "corpus_sample": (
            "WITH u AS (SELECT doc_id, lang, "
            "CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) "
            "/ 4294967296.0 AS u FROM documents), "
            "r AS (SELECT doc_id, lang, u, CASE lang WHEN 'en' THEN 0.5 "
            "WHEN 'de' THEN 1.0 WHEN 'zh' THEN 0.25 ELSE 0.1 END AS rate FROM u) "
            "SELECT doc_id, lang, round(u, 6) AS u FROM r WHERE u < rate"
        ),
        # Temperature mixture: weights floored to integer micro-units
        # BEFORE summation (float sums are order-dependent; integer sums
        # are not), then the rate is two IEEE divisions and a multiply on
        # identical operands — bit-identical across engines. sqrt (not
        # pow) because sqrt is IEEE correctly-rounded everywhere.
        # Epoch shuffle order: rank over md5(epoch:doc) per epoch, 1-based
        # to match enumerate's offset=0 (+ row_number) arithmetic.
        "corpus_epoch_order": (
            "SELECT doc_id, epoch, ord FROM ("
            "SELECT doc_id, e.epoch, row_number() OVER ("
            "PARTITION BY e.epoch "
            "ORDER BY md5(e.epoch || ':' || doc_id)) AS ord "
            "FROM documents CROSS JOIN "
            "(SELECT unnest(range(2)) AS epoch) e)"
        ),
        "corpus_mixture": (
            "WITH d AS (SELECT lang, count(*)::BIGINT AS cnt "
            "FROM documents GROUP BY lang), "
            "w AS (SELECT lang, cnt, "
            "floor(sqrt(CAST(cnt AS DOUBLE)) * 1e6)::BIGINT AS wu FROM d), "
            "t AS (SELECT sum(cnt)::BIGINT AS total, sum(wu)::BIGINT AS wsum FROM w), "
            "r AS (SELECT lang, least(1.0, "
            "(CAST(wu AS DOUBLE) / CAST(wsum AS DOUBLE)) * "
            "(CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE))) AS rate FROM w, t) "
            "SELECT doc_id, documents.lang AS lang, round(rate, 6) AS mix_rate "
            "FROM documents JOIN r ON documents.lang = r.lang "
            "WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)) "
            "AS UBIGINT) / 4294967296.0 < rate"
        ),
        # Relative quality gate: integer 1e-4 quality units (the score
        # is 4dp-rounded, so units are exact) make the p=0.5 quantile
        # interpolation (a+b)*0.5 exact binary — same contract as o8.
        "text_quality_gate": (
            qual_cte("doc_id, lang")
            + f", s AS (SELECT doc_id, lang AS stratum, round(({qual_expr}) * "
            "10000.0, 0)::BIGINT AS q_units FROM q), "
            "t AS (SELECT stratum, quantile_cont(q_units, 0.5) AS q_thr "
            "FROM s GROUP BY stratum) "
            "SELECT doc_id, s.stratum AS stratum, q_units, q_thr "
            "FROM s JOIN t ON s.stratum = t.stratum WHERE q_units > q_thr"
        ),
        # BM25: idf coarsened to 4dp before any multiply (ln is the one
        # libm-divergent op), per-term scores snapped to integer 1e-4
        # units before the per-doc sum, identical parenthesization to
        # the Spark expression. LIMIT with (score desc, doc_id) ties.
        "text_bm25_topk": (
            "WITH base AS (SELECT doc_id, "
            f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({toks}) END::BIGINT "
            f"AS dl, {toks} AS w FROM documents), "
            "st AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS total FROM base), "
            "tf AS (SELECT doc_id, dl, term, count(*)::BIGINT AS tf FROM ("
            "SELECT doc_id, dl, unnest(w) AS term FROM base) "
            "WHERE term IN ('dup', 'merge', 'vector') GROUP BY doc_id, dl, term), "
            "dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term), "
            "sc AS (SELECT doc_id, round("
            "round(ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / "
            "(CAST(df AS DOUBLE) + 0.5) + 1.0), 4) * "
            "((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * "
            "(0.25 + 0.75 * (CAST(dl AS DOUBLE) / "
            "(CAST(total AS DOUBLE) / CAST(n AS DOUBLE)))))) * 10000.0, 0)::BIGINT "
            "AS u FROM tf, dfq AS d, st WHERE tf.term = d.term), "
            "agg AS (SELECT doc_id, count(*)::BIGINT AS n_matched, "
            "sum(u)::BIGINT AS score_e4 FROM sc GROUP BY doc_id) "
            "SELECT doc_id, n_matched, score_e4 FROM agg "
            "ORDER BY score_e4 DESC, doc_id ASC LIMIT 25"
        ),
        # Shard packing: exclusive prefix-sum of integer token counts
        # along the md5-shuffled order (the oracle's one global window
        # IS the thing the Spark side decomposes into partition offsets).
        "corpus_shard_pack": (
            "WITH t AS (SELECT doc_id, "
            f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({toks}) END::BIGINT "
            "AS n_tokens, "
            "md5('pack:' || CAST(doc_id AS VARCHAR)) AS k FROM documents), "
            "c AS (SELECT doc_id, n_tokens, coalesce(sum(n_tokens) OVER ("
            "ORDER BY k, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
            "), 0) AS tokens_before FROM t) "
            "SELECT doc_id, n_tokens, (tokens_before // 4096)::BIGINT AS shard_id "
            "FROM c"
        ),
        # ROLLUP with the same GROUPING bit encoding in both engines.
        "a8_rollup_counts": (
            "SELECT source, lang, GROUPING(source, lang)::BIGINT AS gid, "
            "count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars "
            "FROM documents GROUP BY ROLLUP (source, lang)"
        ),
        "a9_cube_counts": (
            "SELECT source, lang, GROUPING(source, lang)::BIGINT AS gid, "
            "count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars "
            "FROM documents GROUP BY CUBE (source, lang)"
        ),
        "u4_intersect_except": (
            "WITH a AS (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0), "
            "b AS (SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0) "
            "SELECT 'both' AS op, c_custkey FROM (SELECT * FROM a INTERSECT SELECT * FROM b) "
            "UNION ALL "
            "SELECT 'only_a' AS op, c_custkey FROM (SELECT * FROM a EXCEPT SELECT * FROM b)"
        ),
        # Pivot = conditional aggregation; count over a filter never
        # yields NULL so the na.fill(0) on the Spark side is symmetric.
        "o11_pivot_event_types": (
            "SELECT user_id, "
            + ", ".join(
                f"count(*) FILTER (event_type = '{t}')::BIGINT AS {t}"
                for t in ("click", "error", "purchase", "signup", "view")
            )
            + " FROM events GROUP BY user_id"
        ),
        "o6_trailing_window": (
            "WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS tsu, "
            "round(value * 100)::BIGINT AS cents FROM events) "
            "SELECT event_id, user_id, tsu, "
            "count(*) OVER w AS n_1h, sum(cents) OVER w AS cents_1h FROM ev "
            "WINDOW w AS (PARTITION BY user_id ORDER BY tsu "
            "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"
        ),
        # Sliding window: every event belongs to exactly two 10-min/5-min
        # hop windows; the oracle materializes both starts per event.
        "o7_sliding_window": (
            "WITH ev AS (SELECT epoch_us(ts) AS tu, event_type, "
            "round(value * 100)::BIGINT AS cents FROM events), "
            "w AS (SELECT unnest([(tu // 300000000) * 300000000, "
            "(tu // 300000000) * 300000000 - 300000000]) AS w_start, "
            "event_type, cents FROM ev) "
            "SELECT w_start, event_type, count(*) AS n, "
            "sum(cents)::BIGINT AS cents_sum FROM w "
            "GROUP BY w_start, event_type"
        ),
        # Quartiles over integer cents: p in {.25,.5,.75} keeps the
        # linear interpolation exact in binary on both engines.
        "o8_percentiles": (
            "WITH ev AS (SELECT event_type, "
            "round(value * 100)::BIGINT AS cents FROM events) "
            "SELECT event_type, quantile_cont(cents, 0.25) AS p25, "
            "quantile_cont(cents, 0.5) AS p50, "
            "quantile_cont(cents, 0.75) AS p75, count(*) AS n "
            "FROM ev GROUP BY event_type"
        ),
        # Range join replayed as the plain non-equi join (DuckDB plans
        # an IEJoin); micros and cents are integer end-to-end.
        # Native session windows: islands via lag/cumsum; Spark's
        # session rule is new-session iff ts - prev > gap (an event AT
        # exactly last_ts + gap still MERGES — pinned by pytest),
        # end = last_ts + gap.
        "o10_session_window": (
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
        ),
        # Streaming twin of o9: identical non-equi join, counts only
        # (the streaming select carries no value column).
        "o9s_stream_interval_join": (
            "WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us "
            "FROM events), "
            "iv AS (SELECT o_orderkey, o_custkey % 150 AS user_id, "
            "(1704067200 + (o_orderkey % 720) * 3600) * 1000000 AS start_us, "
            "(1704067200 + (o_orderkey % 720) * 3600 "
            "+ (o_orderkey % 6 + 1) * 1800) * 1000000 AS end_us FROM orders) "
            "SELECT o_orderkey, count(*)::BIGINT AS n_events "
            "FROM ev JOIN iv ON ev.user_id = iv.user_id "
            "AND ts_us >= start_us AND ts_us < end_us "
            "GROUP BY o_orderkey"
        ),
        "o9_interval_join": (
            "WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, "
            "round(value * 100)::BIGINT AS cents FROM events), "
            "iv AS (SELECT o_orderkey, o_custkey % 150 AS user_id, "
            "(1704067200 + (o_orderkey % 720) * 3600) * 1000000 AS start_us, "
            "(1704067200 + (o_orderkey % 720) * 3600 "
            "+ (o_orderkey % 6 + 1) * 1800) * 1000000 AS end_us FROM orders) "
            "SELECT o_orderkey, count(*)::BIGINT AS n_events, "
            "sum(cents)::BIGINT AS value_cents "
            "FROM ev JOIN iv ON ev.user_id = iv.user_id "
            "AND ts_us >= start_us AND ts_us < end_us "
            "GROUP BY o_orderkey"
        ),
        # Fixed-point PageRank: 3 iterations unrolled as chained CTEs;
        # pure integer arithmetic (// and *17//20 damping) replays the
        # Spark loop exactly regardless of reduction order.
        "kg_pagerank": (
            "WITH e AS (SELECT DISTINCT src, dst FROM ("
            "SELECT doc_id % 101 AS src, (doc_id * 7 + 3) % 101 AS dst "
            "FROM documents UNION ALL "
            "SELECT doc_id % 101, (doc_id * doc_id * 13 + 5) % 101 "
            "FROM documents)), "
            "nodes AS (SELECT DISTINCT src AS node FROM e "
            "UNION SELECT DISTINCT dst FROM e), "
            "deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src), "
            "r0 AS (SELECT node, 1000000::BIGINT AS r FROM nodes), "
            + " ".join(
                f"c{i} AS (SELECT dst, sum(r // deg)::BIGINT AS s FROM e "
                f"JOIN deg USING (src) JOIN r{i - 1} ON r{i - 1}.node = e.src "
                "GROUP BY dst), "
                f"r{i} AS (SELECT node, "
                "(150000 + coalesce(s, 0) * 17 // 20)::BIGINT AS r "
                f"FROM nodes LEFT JOIN c{i} ON c{i}.dst = nodes.node),"
                for i in (1, 2, 3)
            ).rstrip(",")
            + " SELECT node, r AS rank_fp FROM r3"
        ),
        # Synchronous LPA replay: the argmax is a row_number window in
        # SQL but (votes desc, label asc) ordering is identical to the
        # Spark min-struct; UNION ALL keeps parallel-edge multiplicity.
        # Corrupt-tail negatives: the cooccurrence CTE + enumerated ids
        # + pure integer index arithmetic; least/greatest canonical pair
        # for the false-negative anti-join.
        "kg_negative_samples": (
            _KG_SQL_BASE
            + """,
dm AS (SELECT DISTINCT url, entity_key FROM linked),
capped AS (
  SELECT url, entity_key FROM (
    SELECT url, entity_key,
           row_number() OVER (PARTITION BY url ORDER BY entity_key) AS rn
    FROM dm) t
  WHERE rn <= 16
),
co AS (
  SELECT x.entity_key AS a, y.entity_key AS b, count(*) AS co_pages
  FROM capped x JOIN capped y ON x.url = y.url AND x.entity_key < y.entity_key
  GROUP BY 1, 2
),
ids AS (SELECT entity_key, row_number() OVER (ORDER BY entity_key) AS idx
        FROM entities),
nn AS (SELECT count(*) AS n FROM entities),
cand AS (
  SELECT co.a, co.b,
         (ia.idx * 2654435761 + ib.idx) % (SELECT n FROM nn) + 1 AS neg_idx
  FROM co JOIN ids ia ON ia.entity_key = co.a
          JOIN ids ib ON ib.entity_key = co.b
),
neg AS (
  SELECT c.a, c.b, i.entity_key AS b_neg
  FROM cand c JOIN ids i ON i.idx = c.neg_idx
  WHERE i.entity_key <> c.a AND i.entity_key <> c.b
)
SELECT g.a, g.b, g.b_neg
FROM neg g LEFT JOIN co e
  ON e.a = least(g.a, g.b_neg) AND e.b = greatest(g.a, g.b_neg)
WHERE e.a IS NULL"""
        ),
        # Temporal provenance: (url, entity) distinct from the pipeline
        # CTEs, ts reconstructed by the same warc_ts law.
        "kg_temporal_provenance": (
            _KG_SQL_BASE
            + ", pg AS (SELECT DISTINCT entity_key, url, "
            "1704067200 + CAST(regexp_extract(url, '/doc/(\\d+)$', 1) AS BIGINT) * 37 AS ts_s "
            "FROM linked) "
            "SELECT entity_key, min(ts_s) AS first_seen_s, "
            "max(ts_s) AS last_seen_s, count(*)::BIGINT AS n_pages "
            "FROM pg GROUP BY entity_key"
        ),
        # Pairwise ER metrics over the pipeline CTEs: the naive blocking
        # key is the SAME normalization the noViaf surrogate hashes (its
        # equality with Spark's X1 fold is already certified through
        # kg_linked's entity_key); all cross-row sums are BIGINT C(n,2).
        "kg_er_metrics": (
            _KG_SQL_BASE
            + """, items AS (
  SELECT DISTINCT url, name_raw, entity_key,
         trim(regexp_replace(lower(name_raw), '[^a-z0-9]+', ' ', 'g')) AS name_norm
  FROM linked
),
cells AS (SELECT entity_key AS g, name_norm AS p, count(*)::BIGINT AS n
          FROM items GROUP BY 1, 2),
tp AS (SELECT sum(n * (n - 1) // 2)::BIGINT AS tp_pairs,
              sum(n)::BIGINT AS n_items FROM cells),
gold AS (SELECT sum(n * (n - 1) // 2)::BIGINT AS gold_pairs
         FROM (SELECT sum(n) AS n FROM cells GROUP BY g)),
pred AS (SELECT sum(n * (n - 1) // 2)::BIGINT AS pred_pairs
         FROM (SELECT sum(n) AS n FROM cells GROUP BY p))
SELECT n_items, gold_pairs, pred_pairs, tp_pairs,
       CASE WHEN pred_pairs > 0 THEN
         round(tp_pairs::DOUBLE * 10000 / pred_pairs)::BIGINT END AS precision_e4,
       CASE WHEN gold_pairs > 0 THEN
         round(tp_pairs::DOUBLE * 10000 / gold_pairs)::BIGINT END AS recall_e4,
       CASE WHEN pred_pairs + gold_pairs > 0 THEN
         round(tp_pairs::DOUBLE * 2 * 10000 / (pred_pairs + gold_pairs))::BIGINT
       END AS f1_e4
FROM tp, gold, pred"""
        ),
        # Multi-source BFS: 4 unrolled frontier-join/min rounds; least()
        # skips NULLs identically in both engines; unreached omitted.
        "kg_bfs_hops": (
            "WITH e0 AS ("
            "SELECT doc_id % 80 AS src, "
            "(doc_id % 80) - (doc_id % 80) % 8 + (doc_id * 7 + 1) % 8 AS dst "
            "FROM documents "
            "UNION ALL SELECT doc_id % 80, (doc_id % 80 + 8) % 80 "
            "FROM documents WHERE doc_id % 13 = 0), "
            "half AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst), "
            "und AS (SELECT src, dst FROM half "
            "UNION SELECT dst, src FROM half), "
            "nodes AS (SELECT DISTINCT src AS node FROM und), "
            "d0 AS (SELECT node, CASE WHEN node % 29 = 0 THEN 0 END"
            "::BIGINT AS dist FROM nodes), "
            + " ".join(
                f"r{i} AS (SELECT u.src AS node, min(d.dist) + 1 AS via "
                f"FROM und u JOIN d{i - 1} d ON d.node = u.dst "
                "WHERE d.dist IS NOT NULL GROUP BY u.src), "
                f"d{i} AS (SELECT d.node, least(d.dist, r.via)::BIGINT AS dist "
                f"FROM d{i - 1} d LEFT JOIN r{i} r ON r.node = d.node),"
                for i in (1, 2, 3, 4)
            ).rstrip(",")
            + " SELECT node, dist FROM d4 WHERE dist IS NOT NULL"
        ),
        "kg_label_prop": (
            "WITH e0 AS ("
            "SELECT doc_id % 80 AS src, "
            "(doc_id % 80) - (doc_id % 80) % 8 + (doc_id * 7 + 1) % 8 AS dst, "
            "doc_id % 3 + 1 AS w FROM documents "
            "UNION ALL SELECT doc_id % 80, (doc_id % 80 + 8) % 80, 1 "
            "FROM documents WHERE doc_id % 13 = 0), "
            "half AS (SELECT src, dst, w FROM e0 WHERE src <> dst), "
            "und AS (SELECT src, dst, w FROM half "
            "UNION ALL SELECT dst, src, w FROM half), "
            "nodes AS (SELECT DISTINCT src AS node FROM und), "
            "l0 AS (SELECT node, node AS lab FROM nodes), "
            + " ".join(
                f"v{i} AS (SELECT u.src AS node, l.lab AS lab, "
                f"sum(u.w)::BIGINT AS votes FROM und u JOIN l{i - 1} l "
                "ON l.node = u.dst GROUP BY u.src, l.lab), "
                f"b{i} AS (SELECT node, lab FROM (SELECT node, lab, "
                "row_number() OVER (PARTITION BY node "
                f"ORDER BY votes DESC, lab ASC) AS rn FROM v{i}) WHERE rn = 1), "
                f"l{i} AS (SELECT l.node, coalesce(b.lab, l.lab)::BIGINT AS lab "
                f"FROM l{i - 1} l LEFT JOIN b{i} b ON b.node = l.node),"
                for i in (1, 2, 3)
            ).rstrip(",")
            + " SELECT node, lab AS label FROM l3"
        ),
        # Co-mention edges: the capped sorted-set pair expansion replayed
        # as row_number <= 16 + an a < b self-join (ASCII keys, so the
        # string sort orders identically in both engines).
        "kg_cooccurrence": (
            _KG_SQL_BASE
            + """,
dm AS (SELECT DISTINCT url, entity_key FROM linked),
capped AS (
  SELECT url, entity_key FROM (
    SELECT url, entity_key,
           row_number() OVER (PARTITION BY url ORDER BY entity_key) AS rn
    FROM dm) t
  WHERE rn <= 16
)
SELECT x.entity_key AS a, y.entity_key AS b, count(*) AS co_pages
FROM capped x JOIN capped y ON x.url = y.url AND x.entity_key < y.entity_key
GROUP BY 1, 2"""
        ),
        # Triangle counts replay the degree-oriented enumeration with
        # DuckDB row-value comparisons standing in for Spark's struct
        # ordering — ties in degree break on the entity key in both.
        "kg_triangles": (
            _KG_SQL_BASE
            + """,
dm AS (SELECT DISTINCT url, entity_key FROM linked),
capped AS (
  SELECT url, entity_key FROM (
    SELECT url, entity_key,
           row_number() OVER (PARTITION BY url ORDER BY entity_key) AS rn
    FROM dm) t
  WHERE rn <= 16
),
e AS (
  SELECT x.entity_key AS u, y.entity_key AS v
  FROM capped x JOIN capped y ON x.url = y.url AND x.entity_key < y.entity_key
  GROUP BY 1, 2
),
deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
  GROUP BY n
),
o AS (
  SELECT CASE WHEN (a.d, e.u) < (b.d, e.v) THEN e.u ELSE e.v END AS s,
         CASE WHEN (a.d, e.u) < (b.d, e.v) THEN e.v ELSE e.u END AS t,
         CASE WHEN (a.d, e.u) < (b.d, e.v) THEN b.d ELSE a.d END AS td
  FROM e JOIN deg a ON e.u = a.n JOIN deg b ON e.v = b.n
),
w AS (
  SELECT x.s AS p, x.t AS q, y.t AS r
  FROM o x JOIN o y ON x.s = y.s AND (x.td, x.t) < (y.td, y.t)
),
tri AS (SELECT p, q, r FROM w JOIN o ON w.q = o.s AND w.r = o.t)
SELECT node AS entity_key, count(*) AS n_triangles
FROM (SELECT p AS node FROM tri UNION ALL SELECT q FROM tri
      UNION ALL SELECT r FROM tri)
GROUP BY node"""
        ),
        # As-of join, replayed with the identical union-window algebra
        # (rights sort before lefts at equal ts; right ties resolve to
        # the max tiebreak).
        "o5_asof_join": (
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
        ),
        # Contamination: same token/shingle fragments as the minhash
        # oracles, benchmark = the doc_id % 41 slice.
        "text_decontaminate": (
            f"WITH wt AS (SELECT doc_id, {toks} AS w FROM documents), "
            f"shl AS (SELECT doc_id, {shingle_sql} AS sh FROM wt), "
            "bg AS (SELECT DISTINCT unnest(sh) AS gram FROM shl "
            "WHERE doc_id % 41 = 0), "
            "cg AS (SELECT doc_id, unnest(sh) AS gram FROM shl) "
            "SELECT cg.doc_id, count(DISTINCT cg.gram)::BIGINT AS n_hits "
            "FROM cg JOIN bg USING (gram) GROUP BY cg.doc_id"
        ),
        # tf-idf: idf rounded to 4dp before the multiply (both engines),
        # so a sub-ulp ln() difference cannot flip a ranking.
        "text_tfidf_topk": (
            f"WITH ex AS (SELECT doc_id, unnest({toks}) AS term FROM documents), "
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
        ),
        "text_bpe_pair_stats": (
            f"WITH wt AS (SELECT {toks} AS w FROM documents), "
            "p AS (SELECT unnest(list_transform(range(1, len(w)), "
            "i -> {'l': w[i], 'r': w[i+1]})) AS p FROM wt WHERE len(w) >= 2) "
            "SELECT p.l AS tok_left, p.r AS tok_right, "
            "count(*) AS pair_freq FROM p GROUP BY 1, 2"
        ),
        "url_dedup_latest": (
            url_caps_cte + ", r AS (SELECT canon_url, url, warc_ts, "
            "row_number() OVER (PARTITION BY canon_url "
            "ORDER BY warc_ts DESC, url ASC) AS rn, "
            "count(*) OVER (PARTITION BY canon_url) AS n_captures FROM url_canon) "
            "SELECT canon_url, url AS kept_url, warc_ts AS kept_ts, n_captures "
            "FROM r WHERE rn = 1"
        ),
        "url_domain_stats": (
            url_caps_cte + f", dd AS (SELECT {url_dom} AS domain, canon_url, "
            f"{url_ntok} AS n_tokens, warc_ts AS ts_epoch FROM url_canon) "
            "SELECT domain, count(*) AS n_pages, "
            "count(DISTINCT canon_url) AS n_canonical, "
            "sum(n_tokens)::BIGINT AS total_tokens, "
            "max(ts_epoch) AS latest_ts_epoch FROM dd GROUP BY domain"
        ),
        "url_domain_filter": (
            url_caps_cte + f", dd AS (SELECT doc_id, {url_dom} AS domain, "
            f"{url_ntok} AS n_tokens FROM url_canon), "
            "s AS (SELECT domain, count(*) AS n_pages, "
            "sum(n_tokens)::BIGINT AS total_tokens FROM dd GROUP BY domain), "
            "good AS (SELECT domain FROM s "
            "WHERE n_pages >= 2 AND total_tokens // n_pages >= 35) "
            "SELECT dd.doc_id, dd.domain FROM dd JOIN good USING (domain)"
        ),
        # The curation cascade, recomposed in SQL from the same certified
        # pieces (quality / lang-id / repetition / exact-dedup keeper /
        # chunk keep-first over survivors). Gate thresholds compare the
        # 4-dp-rounded values on both sides.
        "webtext_curate": (
            qual_cte("doc_id")
            + ", qv AS (SELECT doc_id, "
            + qual_expr
            + " AS quality FROM q), "
            f"lf AS (SELECT doc_id, {lang_counts} FROM documents), "
            "lp AS (SELECT doc_id, CASE "
            "WHEN s_en <= 0 AND s_de <= 0 AND s_fr <= 0 AND s_es <= 0 THEN 'und' "
            "WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en' "
            "WHEN s_de >= s_fr AND s_de >= s_es THEN 'de' "
            "WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred FROM lf), "
            f"rt AS (SELECT doc_id, {toks} AS l FROM documents), "
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
            f"ct AS (SELECT d.doc_id, {toks} AS w FROM documents d "
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
        ),
        "multimodal_image_features": (
            _MEDIA_SQL
            + """
SELECT media_id,
       CAST(16 + ('0x' || substr(h, 1, 2))::INT % 240 AS INTEGER) AS width,
       CAST(16 + ('0x' || substr(h, 3, 2))::INT % 240 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       TRUE AS decode_ok
FROM (SELECT media_id, md5(sha256('media' || media_id)) AS h
      FROM kinds WHERE kind = 'image')
"""
        ),
        "multimodal_audio_features": (
            _MEDIA_SQL
            + """
SELECT media_id,
       CAST(16000 AS INTEGER) AS sample_rate,
       CAST(500 + ('0x' || substr(h, 1, 4))::INT % 60000 AS INTEGER) AS duration_ms,
       TRUE AS decode_ok
FROM (SELECT media_id, md5('audio:' || sha256('media' || media_id)) AS h
      FROM kinds WHERE kind = 'audio')
"""
        ),
        "multimodal_frame_sample": (
            _MEDIA_SQL
            + """
, vids AS (
  SELECT media_id,
         least(16, greatest(1,
           (500 + ('0x' || substr(md5('audio:' || sha256('media' || media_id)), 1, 4))::INT
            % 60000) // 1000)) AS n
  FROM kinds WHERE kind = 'video'
),
frames AS (SELECT media_id, unnest(range(0, n)) AS i FROM vids)
SELECT media_id, CAST(i AS INTEGER) AS frame_idx, CAST(i * 1000 AS INTEGER) AS ts_ms
FROM frames
"""
        ),
        "multimodal_resize": (
            _MEDIA_SQL
            + """
SELECT media_id,
       CAST(64 AS INTEGER) AS width, CAST(64 AS INTEGER) AS height,
       md5(repeat(md5(sha256('media' || media_id) || '64x64'), 256)) AS content_md5
FROM kinds WHERE kind = 'image'
"""
        ),
        "kg_extract_text": (
            _KG_SQL_BASE
            + "SELECT url, "
            "'Work by ' || (CASE WHEN stale1 OR vhint1 THEN name1 "
            "WHEN lchint1 THEN 'Agent ' || ck1 ELSE upper(name1) END) || ' reviewed.' || "
            "(CASE WHEN ck2 IS NOT NULL THEN ' Work by ' || (CASE WHEN hinted2 THEN name2 ELSE upper(name2) END) || ' reviewed.' ELSE '' END) || "
            "(CASE WHEN noise IS NOT NULL THEN ' Work by ' || noise || ' reviewed.' ELSE '' END) || "
            "(CASE WHEN ck3 IS NOT NULL THEN ' Subjects: ' || name3 ELSE '' END) || "
            "(CASE WHEN doc_id % 7 = 3 THEN ' Theme: Theme T' || (doc_id % 13) ELSE '' END) || "
            "' Document ' || doc_id || '.' AS text "
            "FROM withnames"
        ),
        "kg_mentions": (
            _KG_SQL_BASE
            + "SELECT url, name_raw, viaf_hint, lc_hint FROM mentions WHERE src = 'web'"
        ),
        "p4_promoted_mentions": (
            _KG_SQL_BASE
            + "SELECT url, name_raw, src AS source, prio AS source_priority "
            "FROM mentions WHERE src = 'web_subject'"
        ),
        "kg_mentions_prose": (
            _KG_SQL_BASE
            + "SELECT url, 'Agent ' || ck1 AS name_raw FROM withnames WHERE lchint1 "
            "UNION ALL "
            "SELECT url, noise AS name_raw FROM withnames WHERE noise IS NOT NULL"
        ),
        "kg_mentions_gazetteer": (
            _KG_SQL_BASE
            + ", gazhits AS ("
            "SELECT url, ck1 AS ck FROM withnames WHERE ck1 % 11 = 0 AND NOT lchint1 "
            "UNION ALL "
            "SELECT url, ck2 FROM withnames WHERE ck2 IS NOT NULL AND ck2 % 11 = 0 "
            "UNION ALL "
            "SELECT url, ck3 FROM withnames WHERE ck3 IS NOT NULL AND ck3 % 11 = 0) "
            "SELECT DISTINCT url, "
            "'customer ' || lpad(CAST(ck AS VARCHAR), 9, '0') AS name_norm, "
            "CAST(ck AS VARCHAR) AS viaf_hint FROM gazhits"
        ),
        "j6_redirect_resolution": (
            _KG_SQL_BASE
            + "SELECT url, CAST(ck1 + 9000000 AS VARCHAR) AS viaf_hint, "
            "CASE WHEN ck1 % 3 = 0 THEN CAST(ck1 AS VARCHAR) END AS viaf_resolved, "
            "CASE WHEN ck1 % 3 = 1 THEN 'n' || ck1 END AS lc_hint "
            "FROM withnames WHERE stale1 "
            "UNION ALL "
            "SELECT url, CAST(ck1 AS VARCHAR), CAST(ck1 AS VARCHAR), NULL "
            "FROM withnames WHERE vhint1 "
            "UNION ALL "
            "SELECT url, CAST(ck2 AS VARCHAR), CAST(ck2 AS VARCHAR), NULL "
            "FROM withnames WHERE ck2 IS NOT NULL AND hinted2"
        ),
        "s11_dead_viaf": (
            _KG_SQL_BASE
            + "SELECT url, CAST(ck1 + 9000000 AS VARCHAR) AS dead_viaf "
            "FROM withnames WHERE stale1 AND ck1 % 3 = 2"
        ),
        "j2_lcnaf_fallback": (
            _KG_SQL_BASE
            + "SELECT url, 'Agent ' || ck1 AS name_raw, 'n' || ck1 AS lc_hint, "
            "'viaf:' || ck1 AS entity_key FROM withnames WHERE lchint1 "
            "UNION ALL "
            "SELECT url, name1, 'n' || ck1, 'viaf:' || ck1 "
            "FROM withnames WHERE stale1 AND ck1 % 3 = 1"
        ),
        "s15_error_log": (
            _KG_SQL_BASE
            + "SELECT 'link' AS stage, url, 'blacklisted_name' AS reason, "
            "name_raw AS detail FROM mentions "
            "WHERE name_raw IN ('Unlisted Person 3', 'Unlisted Person 17') "
            "UNION ALL "
            "SELECT 'link', url, 'dead_viaf', CAST(ck1 + 9000000 AS VARCHAR) "
            "FROM withnames WHERE stale1 AND ck1 % 3 = 2"
        ),
        "ann_lsh_top3": _ann_lsh_sql(n_probes=0),
        "ann_lsh_multiprobe_top3": _ann_lsh_sql(n_probes=3),
        "ann_ivf_top3": _ann_ivf_sql(),
        "ann_kmeans_refine": _kmeans_sql(),
        # JL projection: LCG plane family at offset RP_BASE=2000,
        # list(d ORDER BY j) rebuilds the projected vector, cosine
        # rounded 4dp (BLAS-vs-sequential dot parity per the ANN
        # precedent).
        "ann_rp_top3": (
            "WITH RECURSIVE "
            + _lcg_vectors_cte(16, 64, 2000, "j", "planes")
            + ", corpus AS (SELECT vec_id, embedding::DOUBLE[] AS cv "
            "FROM embeddings WHERE len(embedding) = 64 AND vec_id >= 5), "
            "qs AS (SELECT vec_id, embedding::DOUBLE[] AS cv "
            "FROM embeddings WHERE len(embedding) = 64 AND vec_id < 5), "
            "cr AS (SELECT vec_id, list(d ORDER BY j) AS rv FROM ("
            "SELECT e.vec_id, pl.j, list_dot_product(e.cv, pl.v) AS d "
            "FROM corpus e CROSS JOIN planes pl) GROUP BY vec_id), "
            "qr AS (SELECT vec_id, list(d ORDER BY j) AS rv FROM ("
            "SELECT e.vec_id, pl.j, list_dot_product(e.cv, pl.v) AS d "
            "FROM qs e CROSS JOIN planes pl) GROUP BY vec_id), "
            "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
            + _DUCK_COS.format(a="q.rv", b="c.rv")
            + " AS cosine_rp FROM qr q CROSS JOIN cr c "
            "WHERE q.vec_id <> c.vec_id) "
            "SELECT query_id, neighbor_id, cosine_rp, rank FROM ("
            "SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY cosine_rp DESC, neighbor_id ASC) AS rank FROM scored) "
            "WHERE rank <= 3"
        ),
        # SQ8: corpus-grid codes, integer dot (<= 64 * 255^2, exact in
        # any engine); degenerate dims span-default 1.0 on both sides.
        "ann_sq8_top3": (
            "WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS cv "
            "FROM embeddings WHERE len(embedding) = 64 AND vec_id >= 5), "
            "qs AS (SELECT vec_id, embedding::DOUBLE[] AS cv "
            "FROM embeddings WHERE len(embedding) = 64 AND vec_id < 5), "
            "p AS (SELECT unnest(range(64)) AS pos), "
            "ext AS (SELECT pos, min(cv[pos + 1]) AS lo, "
            "CASE WHEN max(cv[pos + 1]) > min(cv[pos + 1]) "
            "THEN max(cv[pos + 1]) - min(cv[pos + 1]) ELSE 1.0 END AS span "
            "FROM corpus CROSS JOIN p GROUP BY pos), "
            "cc AS (SELECT vec_id, pos, "
            "round((cv[pos + 1] - lo) * 255 / span)::BIGINT AS code "
            "FROM corpus CROSS JOIN ext), "
            "qc AS (SELECT vec_id, pos, "
            "round((cv[pos + 1] - lo) * 255 / span)::BIGINT AS code "
            "FROM qs CROSS JOIN ext), "
            "dots AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
            "sum(q.code * c.code)::BIGINT AS dot_q "
            "FROM qc q JOIN cc c USING (pos) GROUP BY 1, 2) "
            "SELECT query_id, neighbor_id, dot_q, rank FROM ("
            "SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY dot_q DESC, neighbor_id ASC) AS rank FROM dots) "
            "WHERE rank <= 3"
        ),
        "dedup_embedding_neardup": _neardup_sql(),
        "j4_fuzzy_scores": _string_score_sql(),
        "j5_variant_match": """
WITH t AS (
  SELECT c_custkey AS k, c_name,
         CASE WHEN c_custkey % 13 = 7 THEN c_name || ' & Sons' ELSE c_name END AS na
  FROM customer
),
d AS (
  SELECT *,
    CASE WHEN k % 5 = 0 THEN 0 WHEN k % 5 = 3 THEN NULL ELSE 1800 + k % 100 END AS rs,
    CASE WHEN k % 5 = 0 THEN 1900 WHEN k % 5 = 1 THEN 1900 + k % 100
         WHEN k % 5 = 2 THEN 1850 + k % 100 WHEN k % 5 = 3 THEN 1950 ELSE 0 END AS re
  FROM t
),
cd AS (
  -- X7 parseInt semantics: integer inputs never parse-fail, so the
  -- present-but-falsy start the JS +100 check coerces to 0 is exactly
  -- rs itself; a source-NULL rs makes the check NULL (JS NaN) -> kept.
  SELECT *, CASE WHEN rs = 0 THEN NULL ELSE rs END AS s,
    CASE WHEN re = 0 OR rs + 100 = re THEN NULL ELSE re END AS e
  FROM d
),
cn AS (
  SELECT *, list_filter([
      CASE WHEN s IS NOT NULL AND e IS NOT NULL THEN na || ', ' || s || '-' || e END,
      CASE WHEN s IS NOT NULL THEN na || ', ' || s || '-' END,
      na, 'The ' || na], x -> x IS NOT NULL) AS check_names
  FROM cd
),
nn AS (
  SELECT *, list_transform(check_names,
              x -> trim(regexp_replace(lower(x), '[^a-z0-9]+', ' ', 'g'))) AS check_norms,
         trim(regexp_replace(lower(c_name), '[^a-z0-9]+', ' ', 'g')) AS normc
  FROM cn
),
af AS (
  SELECT *, CASE
      WHEN k % 4 = 0 AND k % 5 IN (1, 2, 4) THEN [normc || ' ' || (1800 + k % 100)]
      WHEN k % 4 = 0 THEN CAST([] AS VARCHAR[])
      WHEN k % 4 = 1 THEN [normc]
      WHEN k % 12 = 2 THEN ['the ' || normc, normc]
      WHEN k % 4 = 2 THEN ['the ' || normc]
      ELSE CAST([] AS VARCHAR[]) END AS auth_forms
  FROM nn
),
mm AS (
  SELECT *, list_min(list_filter(list_transform(auth_forms,
              f -> list_position(check_norms, f)), p -> p IS NOT NULL AND p > 0)) AS mv
  FROM af
)
SELECT k AS agent_id, CAST(mv AS INTEGER) AS matched_variant,
  CASE WHEN mv IS NOT NULL THEN CAST(k AS VARCHAR) END AS viaf,
  CASE WHEN mv IS NOT NULL THEN
    CASE WHEN k % 2 = 0 THEN c_name || ' (LC)' ELSE c_name || ' (VIAF)' END
  ELSE check_names[1] END AS name_controlled,
  CASE WHEN mv IS NOT NULL THEN
    CASE WHEN k % 3 = 0 THEN CAST(1700 + k % 50 AS VARCHAR) END
  ELSE CAST(s AS VARCHAR) END AS birth,
  CASE WHEN mv IS NOT NULL THEN
    CASE WHEN k % 3 = 0 THEN CAST(1760 + k % 50 AS VARCHAR) END
  ELSE CAST(e AS VARCHAR) END AS death,
  CASE WHEN mv IS NOT NULL THEN
    CASE WHEN k % 10 = 9 THEN 'corporate' ELSE 'personal' END
  WHEN contains(check_names[1], '&') THEN 'corporate' ELSE 'personal' END AS agent_type
FROM mm
""",
        "kg_linked": (
            _KG_SQL_BASE + "SELECT DISTINCT url, name_raw, entity_key FROM linked"
        ),
        "kg_agents": (
            _KG_SQL_BASE
            + "SELECT entity_key, name_controlled, is_controlled, type, "
            # X6: ulan = int-cast getty_id; X4 is certified implicitly —
            # name_controlled here NEVER carries the ' (Spirit)' suffix
            # the Spark authority's lc_terms do.
            "CASE WHEN ck % 4 = 0 THEN ck + 500000000 END AS ulan, "
            "mention_count FROM entities"
        ),
        # The bucketed catalog layout is a physical choice only — the
        # query must hash-match kg_agents' oracle verbatim.
        "kg_agents_bucketed": (
            _KG_SQL_BASE
            + "SELECT entity_key, name_controlled, is_controlled, type, "
            "CASE WHEN ck % 4 = 0 THEN ck + 500000000 END AS ulan, "
            "mention_count FROM entities"
        ),
        "kg_alt_forms": _kg_alt_forms_sql(),
        "kg_triples": (_KG_SQL_BASE + _KG_TRIPLES_SELECT),
        "kg_enumerate_agents": (
            _KG_SQL_BASE
            + "SELECT entity_key, row_number() OVER (ORDER BY entity_key) + 9999999 AS registry_id "
            "FROM entities"
        ),
        # Windowed metrics: per-page span counts mirror _kg_pages' html
        # emission exactly — s1 always renders; s2 needs ck2 AND a
        # customer hit (format_string nulls out otherwise); the noise
        # span is a plain agent span (metrics count spans PRE-blacklist);
        # the subject span needs ck3 AND name3. Tumbling 10-min windows
        # on warc_ts = 1704067200 + doc_id * 37 (37 s spacing -> ~31
        # windows at sf0.01, so the GROUP BY is exercised across buckets).
        "kg_windowed_metrics": (
            _KG_SQL_BASE
            + """,
perpage AS (
  SELECT (1704067200 + doc_id * 37) AS ts,
         1 + CASE WHEN ck2 IS NOT NULL AND name2 IS NOT NULL THEN 1 ELSE 0 END
           + CASE WHEN noise IS NOT NULL THEN 1 ELSE 0 END AS m,
         CASE WHEN ck3 IS NOT NULL AND name3 IS NOT NULL THEN 1 ELSE 0 END AS s
  FROM withnames
)
SELECT (ts // 600) * 600 AS window_start_s,
       (ts // 600) * 600 + 600 AS window_end_s,
       'en' AS lang,
       count(*) AS n_pages,
       CAST(sum(m) AS BIGINT) AS n_mentions,
       CAST(sum(s) AS BIGINT) AS n_subjects
FROM perpage GROUP BY 1, 2
"""
        ),
        # The fold maintains the same merged agents table kg_agents
        # queries in one shot — batch(all) == fold(batches), so the
        # oracle is KG_AGENTS' SQL verbatim.
        "kg_incremental_fold": (
            _KG_SQL_BASE
            + "SELECT entity_key, name_controlled, is_controlled, type, "
            "CASE WHEN ck % 4 = 0 THEN ck + 500000000 END AS ulan, "
            "mention_count FROM entities"
        ),
        # Stateful running totals: the stream's per-key GroupState ends at
        # the total mention count per normalized name — the same mention
        # rows the base CTE enumerates (noise spans included: totals run
        # PRE-linking). Synth names are ASCII, so the lower+non-alnum
        # normalization is the full normalize_name_expr here.
        "kg_stateful_totals": (
            _KG_SQL_BASE
            + "SELECT trim(regexp_replace(lower(name_raw), '[^a-z0-9]+', ' ', 'g')) "
            "AS name_norm, count(*) AS total FROM mentions GROUP BY 1"
        ),
        "kg_lineage": (
            _KG_SQL_BASE
            + f""",
tri AS ({_KG_TRIPLES_SELECT})
SELECT 'mentions' AS stage, count(*) AS row_count,
       {_cksum("url || '|' || name_raw || '|' || coalesce(viaf_hint, '') || '|' || coalesce(lc_hint, '') || '|' || src")} AS key_checksum
FROM mentions
UNION ALL
SELECT 'linked', count(*), {_cksum("url || '|' || name_raw || '|' || entity_key")}
FROM linked
UNION ALL
SELECT 'agents', count(*), {_cksum("entity_key")} FROM entities
UNION ALL
SELECT 'triples', count(*), {_cksum("subj || '|' || pred || '|' || obj")} FROM tri
"""
        ),
    }
