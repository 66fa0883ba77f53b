"""The KG pipeline's stages over the derived pages — extract, mention
detection, redirects, linking, merge, canonicalize, enumerate, triples,
lineage — and its streaming surfaces (windowed metrics, the incremental
agents fold, stateful running totals). Every oracle builds on
KG_SQL_BASE, the analytic replay of kg_pages and the linking outcome."""

from __future__ import annotations

from pyspark.sql import functions as F

from serialization_agents_spark.functions.normalize import normalize_name_expr
from serialization_agents_spark.operators.extract import with_extracted_text
from serialization_agents_spark.operators.linking import resolve_redirects
from serialization_agents_spark.operators.mentions import (
    detect_mentions,
    detect_mentions_gazetteer,
    detect_mentions_prose,
    promote_subject_mentions,
)
from serialization_agents_spark.operators.triples import materialize_triples
from serialization_agents_spark.plans.errors import pipeline_errors
from serialization_agents_spark.plans.pipeline import run_pipeline
from serialization_agents_spark.queries.common import (
    KG_SQL_BASE,
    STRING_SCORE_FINAL,
    await_query,
    kg_canonical,
    kg_inputs,
    kg_pages,
    kg_redirects,
    registry,
    scratch_dir,
    scratch_table,
    string_score_walk,
    table,
)
from serialization_agents_spark.streaming.incremental import fold_batch_into_agents
from serialization_agents_spark.streaming.stateful import (
    stream_running_totals_to_parquet,
)
from serialization_agents_spark.streaming.windowed import windowed_page_metrics

ENTRIES, query = registry()

# The agents surface kg_agents certifies; kg_agents_bucketed and
# kg_incremental_fold build the same table other ways and must match it.
_AGENT_COLS = (
    "entity_key", "name_controlled", "is_controlled", "type", "ulan", "mention_count"
)
_KG_AGENTS_SQL = (
    KG_SQL_BASE
    + "SELECT entity_key, name_controlled, is_controlled, type, "
    # X6: ulan = int-cast getty_id; X4 is certified implicitly —
    # name_controlled here NEVER carries the ' (Spirit)' suffix the
    # Spark authority's lc_terms do.
    "CASE WHEN ck % 4 = 0 THEN ck + 500000000 END AS ulan, "
    "mention_count FROM entities"
)

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


@query(
    KG_SQL_BASE
    + "SELECT url, "
    "'Work by ' || (CASE WHEN stale1 OR vhint1 THEN name1 "
    "WHEN lchint1 THEN 'Agent ' || ck1 ELSE upper(name1) END) || ' reviewed.' || "
    "(CASE WHEN ck2 IS NOT NULL THEN ' Work by ' || (CASE WHEN hinted2 THEN name2 ELSE upper(name2) END) || ' reviewed.' ELSE '' END) || "
    "(CASE WHEN noise IS NOT NULL THEN ' Work by ' || noise || ' reviewed.' ELSE '' END) || "
    "(CASE WHEN ck3 IS NOT NULL THEN ' Subjects: ' || name3 ELSE '' END) || "
    "(CASE WHEN doc_id % 7 = 3 THEN ' Theme: Theme T' || (doc_id % 13) ELSE '' END) || "
    "' Document ' || doc_id || '.' AS text "
    "FROM withnames"
)
def kg_extract_text(spark, sf):
    return with_extracted_text(kg_pages(spark, sf)).select("url", "text")


@query(
    KG_SQL_BASE + "SELECT url, name_raw, viaf_hint, lc_hint FROM mentions WHERE src = 'web'"
)
def kg_mentions(spark, sf):
    return detect_mentions(kg_pages(spark, sf)).select(
        "url", "name_raw", "viaf_hint", "lc_hint"
    )


@query(
    KG_SQL_BASE
    + "SELECT url, name_raw, src AS source, prio AS source_priority "
    "FROM mentions WHERE src = 'web_subject'"
)
def p4_promoted_mentions(spark, sf):
    return promote_subject_mentions(kg_pages(spark, sf)).select(
        "url", "name_raw", "source", "source_priority"
    )


@query(
    KG_SQL_BASE
    + "SELECT url, 'Agent ' || ck1 AS name_raw FROM withnames WHERE lchint1 "
    "UNION ALL "
    "SELECT url, noise AS name_raw FROM withnames WHERE noise IS NOT NULL"
)
def kg_mentions_prose(spark, sf):
    pages = with_extracted_text(kg_pages(spark, sf))
    return detect_mentions_prose(pages).select("url", "name_raw")


@query(
    KG_SQL_BASE
    + ", gazhits AS ("
    "SELECT url, ck1 AS ck FROM withnames WHERE ck1 % 11 = 0 AND NOT lchint1 "
    "UNION ALL "
    "SELECT url, ck2 FROM withnames WHERE ck2 IS NOT NULL AND ck2 % 11 = 0 "
    "UNION ALL "
    "SELECT url, ck3 FROM withnames WHERE ck3 IS NOT NULL AND ck3 % 11 = 0) "
    "SELECT DISTINCT url, "
    "'customer ' || lpad(CAST(ck AS VARCHAR), 9, '0') AS name_norm, "
    "CAST(ck AS VARCHAR) AS viaf_hint FROM gazhits"
)
def kg_mentions_gazetteer(spark, sf):
    pages = with_extracted_text(kg_pages(spark, sf))
    cust = table(spark, sf, "customer")
    k = F.col("c_custkey")
    gaz = cust.where(k % 11 == 0).select(
        k.cast("string").alias("viaf_id"),
        F.array(normalize_name_expr(F.col("c_name"))).alias("normalized"),
    )
    hits = detect_mentions_gazetteer(pages, gaz)
    return hits.select("url", "name_norm", "viaf_hint").distinct()


@query(
    KG_SQL_BASE
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
)
def j6_redirect_resolution(spark, sf):
    mentions = detect_mentions(kg_pages(spark, sf))
    resolved, _dead = resolve_redirects(mentions, kg_redirects(spark, sf))
    return resolved.where(F.col("viaf_hint").isNotNull()).select(
        "url", "viaf_hint", "viaf_resolved", "lc_hint"
    )


@query(
    KG_SQL_BASE
    + "SELECT url, CAST(ck1 + 9000000 AS VARCHAR) AS dead_viaf "
    "FROM withnames WHERE stale1 AND ck1 % 3 = 2"
)
def s11_dead_viaf(spark, sf):
    mentions = detect_mentions(kg_pages(spark, sf))
    _resolved, dead = resolve_redirects(mentions, kg_redirects(spark, sf))
    return dead


@query(
    KG_SQL_BASE
    + "SELECT url, 'Agent ' || ck1 AS name_raw, 'n' || ck1 AS lc_hint, "
    "'viaf:' || ck1 AS entity_key FROM withnames WHERE lchint1 "
    "UNION ALL "
    "SELECT url, name1, 'n' || ck1, 'viaf:' || ck1 "
    "FROM withnames WHERE stale1 AND ck1 % 3 = 1"
)
def j2_lcnaf_fallback(spark, sf):
    linked = kg_canonical(spark, sf).linked
    return linked.where(F.col("lc_hint").isNotNull()).select(
        "url", "name_raw", "lc_hint", "entity_key"
    )


@query(
    KG_SQL_BASE
    + "SELECT 'link' AS stage, url, 'blacklisted_name' AS reason, "
    "name_raw AS detail FROM mentions "
    "WHERE name_raw IN ('Unlisted Person 3', 'Unlisted Person 17') "
    "UNION ALL "
    "SELECT 'link', url, 'dead_viaf', CAST(ck1 + 9000000 AS VARCHAR) "
    "FROM withnames WHERE stale1 AND ck1 % 3 = 2"
)
def s15_error_log(spark, sf):
    """S15 — the pipeline's per-row failure audit: blacklisted names
    (F6 drops) + dead VIAF ids (S11), (stage, url, reason, detail)
    rows (reference lib/utils.js:238 logError)."""
    pages_x = with_extracted_text(kg_pages(spark, sf))
    mentions = detect_mentions(kg_pages(spark, sf), include_subjects=True)
    _resolved, dead = resolve_redirects(mentions, kg_redirects(spark, sf))
    bl = spark.createDataFrame(
        [("Unlisted Person 3",), ("Unlisted Person 17",)], "name string"
    )
    return pipeline_errors(pages_x, mentions, dead, bl)


@query(KG_SQL_BASE + "SELECT DISTINCT url, name_raw, entity_key FROM linked")
def kg_linked(spark, sf):
    linked = kg_canonical(spark, sf).linked
    return linked.select("url", "name_raw", "entity_key").distinct()


@query(_KG_AGENTS_SQL)
def kg_agents(spark, sf):
    """Also certifies X4 (lc_terms with ' (Spirit)' are stripped back
    to c_name — the oracle derives names WITHOUT the suffix) and X6
    (ulan = getty_id int-cast, lib/utils_shadowcat.js:230,236)."""
    return kg_canonical(spark, sf).agents.select(*_AGENT_COLS)


@query(_KG_AGENTS_SQL)
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
    res = run_pipeline(
        spark,
        *kg_inputs(spark, sf),
        out_dir=scratch_dir(spark, sf, "kg_bucketed_") + "/run",
        agents_table=scratch_table(spark, sf, "kg_agents_bucketed_stage"),
        # the agents-refresh maintenance job: stop at the agents
        # stage — CC/triples/errors are never declared (until=),
        # keeping this gate row at the cost of the stages it tests
        until="agents",
    )
    return res.agents.select(*_AGENT_COLS)


@query(
    KG_SQL_BASE.replace("WITH n AS", "WITH RECURSIVE n AS", 1)
    + f""",
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
{string_score_walk("entity_key, name_raw, prio, poverlap")}
SELECT entity_key, name_raw AS alt_name,
       CASE WHEN prio = 1 THEN 'web' ELSE 'web_subject' END AS source,
       poverlap,
       round(CASE WHEN t = q THEN 1.0
                  WHEN length(q) = 0 THEN 0.0
                  WHEN substr(lower(q), 1, 1) = substr(lower(t), 1, 1)
                       AND {STRING_SCORE_FINAL} < 0.85 THEN {STRING_SCORE_FINAL} + 0.15
                  ELSE {STRING_SCORE_FINAL} END, 4) AS fuzzy
FROM walk w WHERE i = length(q)
"""
)
def kg_alt_forms(spark, sf):
    """X2/X3 under the hash gate: the scored altForms the reference
    stores on every agent (poverlap at lib/utils_shadowcat.js:247,
    fuzzy vs the final nameControlled; trivial-case 100/1.0 at :401),
    computed by merge.score_alt_forms on entity-scale rows. The oracle
    takes the distinct per-entity alt forms (A6-deduped, controlled-
    name-excluded — the kg_triples altLabel algebra), percentOverlap as
    plain SQL, and the string_score walk vs the NORMALIZED controlled
    name."""
    canonical = kg_canonical(spark, sf).canonical
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


@query(KG_SQL_BASE + _KG_TRIPLES_SELECT)
def kg_triples(spark, sf):
    res = kg_canonical(spark, sf)
    return materialize_triples(res.canonical, res.linked)


@query(
    KG_SQL_BASE
    + "SELECT entity_key, row_number() OVER (ORDER BY entity_key) + 9999999 AS registry_id "
    "FROM entities"
)
def kg_enumerate_agents(spark, sf):
    canonical = kg_canonical(spark, sf).canonical
    return canonical.select("entity_key", "registry_id")


@query(
    KG_SQL_BASE
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
)
def kg_lineage(spark, sf):
    """A7/X13 under the hash gate: per-stage lineage metrics —
    (stage, row_count, key_checksum) — the driver-queryable face of
    the reference's progress counters + metrics table
    (lib/shadowcat_serialize_viaf_agents.js:63-77). The checksum is
    an order-independent SUM over md5-prefix ints (md5, not
    xxhash64, so DuckDB can derive the identical value); the
    pipeline's own per-stage rows ride each stage write's observe()
    in plans/pipeline.py."""
    res = kg_canonical(spark, sf)
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


# Windowed metrics: per-page span counts mirror kg_pages' html emission
# exactly — s1 always renders; s2 needs ck2 AND a customer hit
# (format_string nulls out otherwise); the noise span is a plain agent
# span (metrics count spans PRE-blacklist); the subject span needs ck3
# AND name3. Tumbling 10-min windows on warc_ts = 1704067200 + doc_id *
# 37 (37 s spacing -> ~31 windows at sf0.01, so the GROUP BY is
# exercised across buckets).
@query(
    KG_SQL_BASE
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
)
def kg_windowed_metrics(spark, sf):
    """Tumbling crawl-time windows under the driver gate: the
    windowed-metrics plan (streaming/windowed.py) over the kg pages.
    Window bounds exported as epoch SECONDS (integers hash identically
    cross-engine; timestamps don't)."""
    m = windowed_page_metrics(kg_pages(spark, sf))
    return m.select(
        F.unix_seconds("window_start").alias("window_start_s"),
        F.unix_seconds("window_end").alias("window_end_s"),
        "lang", "n_pages",
        F.col("n_mentions").cast("long").alias("n_mentions"),
        F.col("n_subjects").cast("long").alias("n_subjects"),
    )


@query(_KG_AGENTS_SQL)
def kg_incremental_fold(spark, sf):
    """Streaming surface under the driver gate: the kg pages split
    into 3 deterministic batches (doc_id % 3) and folded one at a
    time into a persisted bucket-partitioned agents table via
    fold_batch_into_agents — the module's batch(all) == fold(batches)
    contract (streaming/incremental.py) means the folded table
    must hash-match the SAME oracle SQL as kg_agents."""
    agents_dir = scratch_dir(spark, sf, "kg_fold_") + "/agents"
    pages, auth, red = kg_inputs(spark, sf)
    d = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
    for b in range(3):
        res = run_pipeline(
            spark, pages.where(d % 3 == b), auth, redirects=red,
            until="agents", cache=False,
        )
        fold_batch_into_agents(spark, agents_dir, res.agents, b)
    return spark.read.parquet(agents_dir).select(*_AGENT_COLS)


# Stateful running totals: the stream's per-key GroupState ends at the
# total mention count per normalized name — the same mention rows the
# base CTE enumerates (noise spans included: totals run PRE-linking).
# Synth names are ASCII, so the lower+non-alnum normalization is the
# full normalize_name_expr here.
@query(
    KG_SQL_BASE
    + "SELECT trim(regexp_replace(lower(name_raw), '[^a-z0-9]+', ' ', 'g')) "
    "AS name_norm, count(*) AS total FROM mentions GROUP BY 1"
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
    base = scratch_dir(spark, sf, "kg_stateful_")
    pages_dir, out_dir, ckpt = f"{base}/pages", f"{base}/totals", f"{base}/ckpt"
    # Keep the driver wall-time of this REAL streaming query small:
    # 4 input files consumed 2-per-trigger = exactly 2 micro-batches
    # (cross-batch state still exercised), and a narrow state-store
    # width for the throwaway checkpoint (shuffle.partitions is read
    # at query START and pinned into the checkpoint; restored after).
    kg_pages(spark, sf).coalesce(4).write.mode("overwrite").parquet(pages_dir)
    conf_key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf_key)
    spark.conf.set(conf_key, "4")
    try:
        q = stream_running_totals_to_parquet(spark, pages_dir, out_dir, ckpt)
    finally:
        spark.conf.set(conf_key, prev)
    await_query(q, "kg_stateful_totals")
    totals = spark.read.parquet(out_dir)
    return totals.groupBy("name_norm").agg(F.max("total").alias("total"))
