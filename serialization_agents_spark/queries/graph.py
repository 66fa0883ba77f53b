"""Graph analytics: iterative PageRank, label propagation and BFS over
doc_id-derived graphs, plus the KG's co-mention graph, its triangles,
link-prediction negatives, temporal provenance and ER evaluation."""

from __future__ import annotations

from pyspark.sql import functions as F

from serialization_agents_spark.operators.evaluate import pairwise_cluster_metrics
from serialization_agents_spark.operators.graph import (
    bfs_distances,
    cooccurrence_edges,
    label_propagation,
    negative_edge_samples,
    pagerank,
    triangle_counts,
)
from serialization_agents_spark.queries.common import (
    KG_SQL_BASE,
    kg_canonical,
    registry,
    table,
)

ENTRIES, query = registry()

# Co-mention pages: the capped sorted-set pair expansion replayed as
# row_number <= 16 per page (ASCII keys, so the string sort orders
# identically in both engines).
_CAPPED = """,
dm AS (SELECT DISTINCT url, entity_key FROM linked),
capped AS (
  SELECT url, entity_key FROM (
    SELECT url, entity_key,
           row_number() OVER (PARTITION BY url ORDER BY entity_key) AS rn
    FROM dm) t
  WHERE rn <= 16
)"""


def _block_graph(spark, sf):
    """The doc_id-derived weighted block graph (80 nodes, 8-node blocks,
    sparse bridges) label propagation and BFS run on."""
    d = F.col("doc_id")
    docs = table(spark, sf, "documents").select("doc_id")
    base = (d % 80).alias("src")
    e1 = docs.select(
        base,
        ((d % 80) - (d % 80) % 8 + (d * 7 + 1) % 8).alias("dst"),
        (d % 3 + 1).alias("w"),
    )
    e2 = docs.where(d % 13 == 0).select(
        base, ((d % 80 + 8) % 80).alias("dst"), F.lit(1).alias("w")
    )
    return e1.union(e2)


@query(
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
)
def kg_pagerank(spark, sf):
    """Fixed-point integer PageRank (3 iterations) over a
    deterministic doc_id-derived functional graph on 101 nodes —
    certifies the iterative join+agg loop against a DuckDB
    unrolled-CTE replay. Integer (DIV) arithmetic throughout so the
    distributed sum order can never perturb the result."""
    d = F.col("doc_id")
    docs = table(spark, sf, "documents").select("doc_id")
    e1 = docs.select(
        (d % 101).alias("src"), ((d * 7 + 3) % 101).alias("dst")
    )
    e2 = docs.select(
        (d % 101).alias("src"), ((d * d * 13 + 5) % 101).alias("dst")
    )
    return pagerank(e1.union(e2), iterations=3).select(
        "node", F.col("rank").alias("rank_fp")
    )


# Synchronous LPA replay: the argmax is a row_number window in SQL but
# (votes desc, label asc) ordering is identical to the Spark min-struct;
# UNION ALL keeps parallel-edge multiplicity.
@query(
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
)
def kg_label_prop(spark, sf):
    """Deterministic synchronous label propagation (3 iterations)
    over a doc_id-derived weighted block graph (80 nodes, 8-node
    blocks, sparse bridges) — certifies the iterative
    join+vote+argmax loop against a DuckDB unrolled-CTE replay.
    Integer weights + min-label ties, so no run-order can perturb
    it (operators/graph.py label_propagation)."""
    return label_propagation(_block_graph(spark, sf), iterations=3, weight_col="w")


# least() skips NULLs identically in both engines.
@query(
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
)
def kg_bfs_hops(spark, sf):
    """Multi-source BFS hop distances (4 synchronous rounds) over
    the doc_id-derived block graph — certifies the iterative
    frontier join+min loop against a DuckDB unrolled-CTE replay.
    Sources are nodes 0/29/58; min-over-integer updates cannot be
    perturbed by run order; unreached nodes are omitted
    (operators/graph.py bfs_distances)."""
    srcs = spark.range(0, 80, 29).select(F.col("id").alias("node"))
    return bfs_distances(_block_graph(spark, sf).drop("w"), srcs, max_hops=4)


# Pairwise ER metrics over the pipeline CTEs: the naive blocking key is
# the SAME normalization the noViaf surrogate hashes (its equality with
# Spark's X1 fold is already certified through kg_linked's entity_key);
# all cross-row sums are BIGINT C(n,2).
@query(
    KG_SQL_BASE
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
)
def kg_er_metrics(spark, sf):
    """Pair-counting ER evaluation (operators/evaluate.py): scores
    naive name-block clustering (the normalized-name key) against
    the pipeline's authority-resolved entity_key over the distinct
    linked mention instances — the regression metric that shows what
    the redirect/viaf/lcnaf cascade buys over pure normalization.
    All cross-row arithmetic is exact BIGINT (C(n,2) sums), the
    three ratios divide identical integers in both engines."""
    linked = kg_canonical(spark, sf).linked
    items = linked.select("url", "name_raw", "entity_key", "name_norm").distinct()
    return pairwise_cluster_metrics(
        items, gold_col="entity_key", pred_col="name_norm"
    )


@query(
    KG_SQL_BASE
    + ", pg AS (SELECT DISTINCT entity_key, url, "
    "1704067200 + CAST(regexp_extract(url, '/doc/(\\d+)$', 1) AS BIGINT) * 37 AS ts_s "
    "FROM linked) "
    "SELECT entity_key, min(ts_s) AS first_seen_s, "
    "max(ts_s) AS last_seen_s, count(*)::BIGINT AS n_pages "
    "FROM pg GROUP BY entity_key"
)
def kg_temporal_provenance(spark, sf):
    """Temporal provenance for the KG: per entity, the first/last
    crawl timestamp and distinct-page support of its mentions —
    the validity-interval layer a continuously-crawled KG needs
    for triple aging/decay. Crawl ts derives from the synth pages'
    warc_ts law (epoch + doc_id * 37, queries.common.kg_pages),
    reconstructed from the url on both engines; one distinct + one
    hash agg on the already-linked layer."""
    linked = kg_canonical(spark, sf).linked
    d = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
    pages = linked.select(
        "entity_key", "url", (F.lit(1704067200) + d * 37).alias("ts_s")
    ).distinct()
    return pages.groupBy("entity_key").agg(
        F.min("ts_s").alias("first_seen_s"),
        F.max("ts_s").alias("last_seen_s"),
        F.count(F.lit(1)).alias("n_pages"),
    )


# Corrupt-tail negatives: the cooccurrence CTE + enumerated ids + pure
# integer index arithmetic; least/greatest canonical pair for the
# false-negative anti-join.
@query(
    KG_SQL_BASE
    + _CAPPED
    + """,
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
)
def kg_negative_samples(spark, sf):
    """Deterministic corrupt-tail negatives over the co-mention
    edge set — the link-prediction training negatives a KG-embedding
    trainer consumes (operators/graph.py negative_edge_samples):
    b_neg = entity at ((idx_a * salt + idx_b) mod n) + 1 in the
    enumerated registry order, degenerate and false negatives
    dropped. Pure integer sampling: same negatives in any engine."""
    res = kg_canonical(spark, sf)
    edges = cooccurrence_edges(res.linked, doc_col="url", key_col="entity_key")
    ids = res.canonical.select(
        "entity_key", (F.col("registry_id") - 9999999).alias("idx")
    )
    return negative_edge_samples(edges, ids, res.canonical.count())


@query(
    KG_SQL_BASE
    + _CAPPED
    + """
SELECT x.entity_key AS a, y.entity_key AS b, count(*) AS co_pages
FROM capped x JOIN capped y ON x.url = y.url AND x.entity_key < y.entity_key
GROUP BY 1, 2"""
)
def kg_cooccurrence(spark, sf):
    """Co-mention relatedness edges over the linked-mention layer:
    (a, b, co_pages) for every entity pair sharing a page, per-page
    agent set capped at 16 (deterministic smallest-key cap — bounds
    listy hub pages to C(16,2) pairs at 10^12-doc scale). No
    self-join: one groupBy(url) shuffle, two narrow posexplodes, one
    pair aggregation with map-side combine. Rides the memoized
    pipeline's persisted `linked` frame, like the other kg_*
    consumers."""
    linked = kg_canonical(spark, sf).linked
    return cooccurrence_edges(linked, doc_col="url", key_col="entity_key")


# Triangle counts replay the degree-oriented enumeration with DuckDB
# row-value comparisons standing in for Spark's struct ordering — ties
# in degree break on the entity key in both.
@query(
    KG_SQL_BASE
    + _CAPPED
    + """,
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
)
def kg_triangles(spark, sf):
    """Per-entity triangle counts over the co-mention graph: the
    local-clustering signal separating tight entity communities from
    hub noise. Degree-oriented enumeration (operators/graph.py
    triangle_counts) so celebrity hubs never explode the wedge join;
    the oracle replays the identical (degree, key) total order."""
    linked = kg_canonical(spark, sf).linked
    edges = cooccurrence_edges(linked, doc_col="url", key_col="entity_key")
    return triangle_counts(edges, src="a", dst="b").select(
        F.col("node").alias("entity_key"), "n_triangles"
    )
