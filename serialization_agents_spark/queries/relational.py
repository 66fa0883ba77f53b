"""SURVEY §2 relational operators over the TPC-H-ish tables: scans,
filters, semi/anti joins, windows, enumeration, grouped set unions, the
production fuzzy string_score, and the TMS variant-matching strategy."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from serialization_agents_spark.functions.normalize import (
    fuzzy_score_expr,
    normalize_name_expr,
)
from serialization_agents_spark.operators.delta import snapshot_diff
from serialization_agents_spark.operators.enumerate_ids import enumerate_ids
from serialization_agents_spark.operators.variants import (
    build_agent_from_variant_match,
    build_check_names,
    clean_agent_dates,
    match_by_check_names,
)
from serialization_agents_spark.parallel import spread
from serialization_agents_spark.queries.common import (
    STRING_SCORE_FINAL,
    footer_row_count,
    registry,
    string_score_walk,
    table,
)

ENTRIES, query = registry()


@query("SELECT min(o_orderkey) AS min_key, max(o_orderkey) AS max_key FROM orders")
def s2_minmax_probe(spark, sf):
    return table(spark, sf, "orders").agg(
        F.min("o_orderkey").alias("min_key"), F.max("o_orderkey").alias("max_key")
    )


@query("SELECT doc_id, n_chars FROM documents WHERE lang = 'en'")
def s3_scan_project_filter(spark, sf):
    return (
        table(spark, sf, "documents")
        .where(F.col("lang") == "en")
        .select("doc_id", "n_chars")
    )


@query("SELECT doc_id, source FROM documents WHERE source NOT IN ('src0', 'src1')")
def f6_blacklist_anti_join(spark, sf):
    docs = table(spark, sf, "documents")
    bl = docs.sparkSession.createDataFrame([("src0",), ("src1",)], "source string")
    return docs.join(broadcast(bl), "source", "left_anti").select("doc_id", "source")


@query(
    "SELECT c_custkey FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)"
)
def f7_semi_join(spark, sf):
    cust = table(spark, sf, "customer")
    orders = table(spark, sf, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey"
    )


@query(
    "SELECT o_orderkey, c_name, o_totalprice FROM orders "
    "JOIN customer ON o_custkey = c_custkey"
)
def j1_broadcast_lookup_join(spark, sf):
    orders = table(spark, sf, "orders")
    cust = table(spark, sf, "customer")
    return orders.join(broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_name", "o_totalprice"
    )


@query(
    "SELECT o_custkey, o_orderkey, o_totalprice FROM ("
    "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER ("
    "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn "
    "FROM orders) WHERE rn = 1"
)
def o2_window_top1_orders(spark, sf):
    orders = table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@query(
    "SELECT user_id, event_id, event_type FROM ("
    "SELECT user_id, event_id, event_type, row_number() OVER ("
    "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn "
    "FROM events) WHERE rn = 1"
)
def o2_latest_event_per_user(spark, sf):
    ev = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


@query(
    "SELECT c_name AS entity_key, "
    "row_number() OVER (ORDER BY c_name) + 9999999 AS registry_id FROM customer"
)
def o3_enumerate_customers(spark, sf):
    cust = table(spark, sf, "customer").select(F.col("c_name").alias("entity_key"))
    return enumerate_ids(cust).select(
        "entity_key", "registry_id"
    )


@query(
    "SELECT c_mktsegment, count(*) AS n_customers, "
    "array_to_string(list_sort(list(DISTINCT CAST(c_nationkey AS VARCHAR))), ',') AS nations, "
    "round(sum(c_acctbal), 2) AS total_balance "
    "FROM customer GROUP BY c_mktsegment"
)
def a5_groupby_set_union(spark, sf):
    cust = table(spark, sf, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.array_join(
            F.array_sort(F.collect_set(F.col("c_nationkey").cast("string"))), ","
        ).alias("nations"),
        F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
    )


@query(
    "SELECT user_id, min(CASE WHEN event_type = 'click' THEN 1 ELSE 2 END) AS best_priority "
    "FROM events WHERE event_type IN ('click', 'view') GROUP BY user_id"
)
def u2_union_priority(spark, sf):
    ev = table(spark, sf, "events")
    tagged = ev.where(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.when(F.col("event_type") == "click", 1).otherwise(2).alias("prio"),
    )
    return tagged.groupBy("user_id").agg(F.min("prio").alias("best_priority"))


@query(
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
    docs = table(spark, sf, "documents")
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


@query(
    "SELECT c_custkey, regexp_extract(c_name, 'Customer#([0-9]+)', 1) AS name_id FROM customer"
)
def p2_regexp_extract_id(spark, sf):
    cust = table(spark, sf, "customer")
    return cust.select(
        "c_custkey",
        F.regexp_extract("c_name", r"Customer#([0-9]+)", 1).alias("name_id"),
    )


@query("SELECT DISTINCT lang, source FROM documents")
def a6_distinct_pairs(spark, sf):
    return table(spark, sf, "documents").select("lang", "source").distinct()


@query(
    "WITH g AS (SELECT user_id, event_id, "
    "epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap "
    "FROM events) "
    "SELECT user_id, sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)::BIGINT AS n_sessions, "
    "count(*) AS n_events FROM g GROUP BY user_id"
)
def o4_sessionize(spark, sf):
    ev = table(spark, sf, "events")
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


@query(
    f"""
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
{string_score_walk("mention_key, cand_key")}
SELECT mention_key, cand_key,
       round(CASE WHEN t = q THEN 1.0
                  WHEN substr(lower(q), 1, 1) = substr(lower(t), 1, 1)
                       AND {STRING_SCORE_FINAL} < 0.85 THEN {STRING_SCORE_FINAL} + 0.15
                  ELSE {STRING_SCORE_FINAL} END, 4) AS fuzzy
FROM walk w WHERE i = length(q)
"""
)
def j4_fuzzy_scores(spark, sf):
    """X3 under the hash gate: the PRODUCTION string_score expression
    (pure-JVM F.aggregate char-walk) evaluated on 2 candidate pairs
    per customer (near-exact + decoy), mirrored in DuckDB by a
    recursive-CTE transcription of the same walk."""
    cust = table(spark, sf, "customer")
    n = footer_row_count(sf, "customer")
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


@query("""
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
""")
def j5_variant_match(spark, sf):
    """J5/X7/X8/A4 — the full TMS matching strategy over tms-ish agent
    rows derived from `customer`: date cleanup, ordered checkNames
    variants, first-hit-wins multi-key candidate join, and the
    checkNames-first naming + date fallback
    (reference lib/tms_serialize_objects_agents.js:167-190,
    lib/utils_tms.js:83-116,125-199)."""
    # both tms-agents and authority derive from this scan; fan it out
    # so the variant/checkNames work is not single-task on a one-row-
    # group file (the exchange is reused across the two subtrees)
    cust = spread(table(spark, sf, "customer").select("c_custkey", "c_name"))
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
