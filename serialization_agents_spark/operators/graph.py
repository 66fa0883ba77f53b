"""Iterative graph operators over edge DataFrames: fixed-point PageRank.

The KG pipeline already runs one iterative-DataFrame algorithm
(connected components, operators/canonicalize.py); PageRank is the
second classic — entity salience scoring over the constructed graph
(the reference ranks nothing; serialization-agents emits flat agents —
this is a web-scale addition, like dedup/ANN).

Fixed-point arithmetic, deliberately: ranks are integers scaled by
SCALE (10^6). Every step is integer division / multiplication, so the
result is EXACTLY reproducible across engines, partitionings, and
executor counts — a distributed double-precision sum depends on
reduction order and would defeat both the DuckDB oracle and run-to-run
reproducibility at 1000 executors. Damping 0.85 is applied as
`(x * 17) DIV 20`, 0.15 as the additive 150_000 base.

Scale notes (10^10 nodes / 10^11 edges):
- Each iteration is one join (edges x ranks on src) + one hash agg on
  dst. Both sides are pre-partitioned on the join key ONCE
  (`repartition(src)`) and the rank side inherits dst-partitioning from
  the agg, so iterations reuse exchanges instead of re-shuffling edges.
- localCheckpoint every iteration truncates the lineage (the CC loop's
  pattern) so plan depth stays O(1) per iteration, not O(iterations).
- Dangling nodes (no out-edges) keep receiving the base term but leak
  their mass — the standard simplification; a production variant
  redistributes the dangling sum, one extra scalar agg per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000
BASE = 150_000  # 0.15 * SCALE
ITERATIONS = 3  # pagerank and label_propagation rounds
BFS_MAX_HOPS = 4
COOCCURRENCE_CAP = 16  # entity keys kept per document


def cooccurrence_edges(mentions: DataFrame) -> DataFrame:
    """(a, b, co_pages) relatedness edges: entity pairs (`entity_key`)
    co-mentioned in
    the same document, counted by document.

    This materializes the co-mention edge set the triples table implies
    but never stores — the standard relatedness signal a KG derives from
    its mention layer (the reference stops at per-agent aggregation;
    this is graph construction over its output, like pagerank above).

    Scale design (10^12 docs):
    - One shuffle groups mentions by document; the per-document agent
      set is sorted and CAPPED at COOCCURRENCE_CAP (keeping the smallest
      keys — deterministic, engine-independent). Listy hub pages would
      otherwise emit O(k^2) pairs; the cap bounds any document at
      C(cap, 2) pairs, so the explode stays linear in documents.
    - Pair generation is two narrow posexplodes + a j > i filter —
      JVM-side, no self-join, no second scan of the mention table.
    - The final groupBy(a, b) is the only other shuffle; celebrity
      pairs (skewed heads) partial-aggregate map-side before it.
    """
    per_doc = (
        mentions.select(F.col("url").alias("doc"), F.col("entity_key").alias("k"))
        .distinct()
        .groupBy("doc")
        .agg(F.slice(F.sort_array(F.collect_set("k")), 1, COOCCURRENCE_CAP).alias("ks"))
        .where(F.size("ks") >= 2)
    )
    return (
        per_doc.select("doc", "ks", F.posexplode("ks").alias("i", "a"))
        .select("doc", "i", "a", F.posexplode("ks").alias("j", "b"))
        .where(F.col("j") > F.col("i"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("co_pages"))
    )


def pagerank(edges: DataFrame) -> DataFrame:
    """(node, rank) after ITERATIONS fixed-point PageRank steps over
    (src, dst) edges.

    `edges` is deduplicated first so out-degrees match the edge set.
    Nodes = distinct(src) UNION distinct(dst); initial rank = SCALE.
    rank'(n) = BASE + 17 * sum_{(m,n) in E} (rank(m) DIV deg(m)) DIV 20.
    """
    e = (
        edges.select("src", "dst")
        .distinct()
        .repartition("src")
    )
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = nodes.select("node", F.lit(SCALE).cast("long").alias("rank"))
    for _ in range(ITERATIONS):
        contrib = (
            e.join(deg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("rank DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(
            contrib.withColumnRenamed("dst", "node"), "node", "left"
        ).select(
            "node",
            (F.lit(BASE) + F.expr("coalesce(s, 0) * 17 DIV 20"))
            .cast("long")
            .alias("rank"),
        )
        ranks = ranks.localCheckpoint(eager=False)
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected (a, b) edge list — the
    local-clustering signal a KG uses to separate tight entity
    communities from hub noise (a third classic iterative/graph op next
    to CC and pagerank; absent from the reference, which stops at flat
    agents).

    Algorithm: degree orientation. Every edge is directed from its
    (degree, node)-smaller endpoint to its larger one, a total order, so
    each triangle is enumerated EXACTLY once at its lowest-ordered apex:
    wedge (s->q, s->r) with ord(q) < ord(r) closes iff oriented edge
    q->r exists.

    Scale design (10^11 edges):
    - Orientation bounds the wedge fan-out: after degree orientation the
      max out-degree is O(sqrt(m)) on any graph, so the wedge self-join
      never explodes on celebrity hubs — a raw (a<b by id) orientation
      would give a low-id hub O(d^2) wedges; this is the standard
      skew-proof triangle layout.
    - Three shuffles total: degree agg, wedge join on apex, closing join
      on (q, r). All equi-joins; AQE handles residual stragglers.
    - Everything is JVM-side; the (degree, node) order is a struct
      comparison, deterministic and engine-independent (ties in degree
      break on the node key), so DuckDB replays it row-for-row.
    """
    e = (
        edges.select(
            F.least(F.col("a"), F.col("b")).alias("u"),
            F.greatest(F.col("a"), F.col("b")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = e.join(
        deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    lo_first = F.struct(F.col("du"), F.col("u")) < F.struct(
        F.col("dv"), F.col("v")
    )
    o = ed.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(
            lo_first,
            F.struct(F.col("dv").alias("d"), F.col("v").alias("k")),
        )
        .otherwise(F.struct(F.col("du").alias("d"), F.col("u").alias("k")))
        .alias("t_ord"),
    )
    w = (
        o.alias("x")
        .join(o.alias("y"), F.col("x.s") == F.col("y.s"))
        .where(F.col("x.t_ord") < F.col("y.t_ord"))
        .select(
            F.col("x.s").alias("p"),
            F.col("x.t").alias("q"),
            F.col("y.t").alias("r"),
        )
    )
    tri = w.join(
        o.select(F.col("s").alias("q"), F.col("t").alias("r")), ["q", "r"]
    )
    return (
        tri.select(F.explode(F.array("p", "q", "r")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def label_propagation(edges: DataFrame) -> DataFrame:
    """(node, label) after ITERATIONS SYNCHRONOUS label-propagation
    steps — the community-detection sibling of `pagerank`, deterministic
    by construction where classic async LPA is run-order-dependent:
    every node updates from the same previous-round labels, (src, dst)
    edge weights (the `w` column) are integers (sum order cannot perturb), and ties
    break to the SMALLEST
    label. label_0(v) = v; label_{t+1}(v) = argmax_l sum of incident
    edge weights whose far end carries l at round t (isolated nodes
    keep their label).

    Scale shape: per iteration ONE join of the symmetrized edge list
    against the entity-scale label map, one (node, label) hash agg with
    map-side combine, one argmax agg (min over a (-votes, label)
    struct — never a per-node window), and a left join back for
    isolated nodes. Per-iteration localCheckpoint truncates the lineage
    exactly like the CC and PageRank loops.
    """
    half = edges.select(
        "src", "dst", F.col("w").cast("long").alias("w")
    ).where(F.col("src") != F.col("dst"))
    und = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).repartition("dst")  # the per-iteration join keys on dst — pinning
    # that partitioning here (preserved through the localCheckpoint's
    # LogicalRDD) saves one edge-list Exchange every round
    und = und.localCheckpoint(eager=True)
    nodes = (
        und.select(F.col("src").alias("node")).distinct()
    )  # symmetrized: every endpoint appears as src
    labels = nodes.select("node", F.col("node").cast("long").alias("label"))
    for _ in range(ITERATIONS):
        votes = (
            und.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src", "label")
            .agg(F.sum("w").alias("votes"))
        )
        best = votes.groupBy("src").agg(
            F.min(F.struct((-F.col("votes")).alias("nv"), F.col("label").alias("l")))[
                "l"
            ].alias("new_label")
        )
        labels = (
            labels.join(best.withColumnRenamed("src", "node"), "node", "left")
            .select(
                "node", F.coalesce("new_label", "label").cast("long").alias("label")
            )
        )
        labels = labels.localCheckpoint(eager=False)
    return labels


def bfs_distances(edges: DataFrame, sources: DataFrame) -> DataFrame:
    """(node, dist) = shortest hop count over (src, dst) edges from any
    source node within BFS_MAX_HOPS synchronous rounds — the multi-source reachability
    sibling of `pagerank`/`label_propagation`, exact by construction
    (min over integers; no run order can perturb it). Unreached nodes
    are omitted. `sources` is a one-column (node) frame.

    Scale shape per round: ONE join of the symmetrized edge list
    against the current frontier-bearing distance map, one (node)
    min-agg with map-side combine, one left join back; lineage is
    truncated per round like the CC/PageRank/LPA loops. BFS_MAX_HOPS bounds
    the rounds, so the plan never depends on graph diameter discovery.
    """
    half = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    und = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).repartition("dst")  # frontier join keys on dst (see label_propagation)
    und = und.localCheckpoint(eager=True)
    nodes = und.select(F.col("src").alias("node")).distinct()
    dist = nodes.join(
        sources.select(F.col(sources.columns[0]).alias("node")).distinct()
        .withColumn("dist", F.lit(0).cast("long")),
        "node", "left",
    )
    for _ in range(BFS_MAX_HOPS):
        reach = (
            und.join(
                dist.where(F.col("dist").isNotNull())
                .withColumnRenamed("node", "dst"),
                "dst",
            )
            .groupBy("src")
            .agg((F.min("dist") + 1).alias("via"))
            .withColumnRenamed("src", "node")
        )
        dist = dist.join(reach, "node", "left").select(
            "node", F.least(F.col("dist"), F.col("via")).alias("dist")
        )
        dist = dist.localCheckpoint(eager=False)
    return dist.where(F.col("dist").isNotNull())


def negative_edge_samples(edges: DataFrame, ids: DataFrame, n_nodes: int) -> DataFrame:
    """Deterministic corrupt-tail negative sampling for KG-embedding
    training (the TransE-style negatives a link-prediction trainer
    needs, generated as a dataset operator rather than at train time):
    for every positive edge (a, b), propose b_neg = node at index
    ((idx_a * 2654435761 + idx_b) mod n_nodes) + 1 — a pure integer function
    of the edge, so every engine, run, and partitioning produces the
    SAME negatives — then drop degenerate proposals (b_neg in {a, b})
    and false negatives (pairs that are real edges, checked on the
    (least, greatest) canonical ordering via one anti-join).

    `ids` is an (entity_key, idx) frame with idx contiguous 1..n_nodes
    (enumerate_ids output shifted); `n_nodes` its count. Three hash
    joins against the entity-scale id map + one anti-join against the
    edges — no RNG state, no driver-side sampling.
    """
    ia = ids.select(F.col("entity_key").alias("a"), F.col("idx").alias("_ia"))
    ib = ids.select(F.col("entity_key").alias("b"), F.col("idx").alias("_ib"))
    bn = ids.select(F.col("entity_key").alias("b_neg"), F.col("idx").alias("_neg_idx"))
    cand = (
        edges.join(ia, "a")
        .join(ib, "b")
        .withColumn(
            "_neg_idx",
            (F.col("_ia") * F.lit(2654435761) + F.col("_ib")) % F.lit(n_nodes) + 1,
        )
        .join(bn, "_neg_idx")
        .where((F.col("b_neg") != F.col("a")) & (F.col("b_neg") != F.col("b")))
    )
    # canonicalize the STORED edges too: a non-canonical input edge
    # (b, a) must still veto the proposal (a, b) — without this, the
    # reverse of a stored edge could leak out as a "negative" (latent
    # only: every current caller passes canonical a < b edges)
    true_pairs = edges.select(
        F.least("a", "b").alias("_p1"), F.greatest("a", "b").alias("_p2")
    )
    return (
        cand.withColumn("_p1", F.least("a", "b_neg"))
        .withColumn("_p2", F.greatest("a", "b_neg"))
        .join(true_pairs, ["_p1", "_p2"], "left_anti")
        .select("a", "b", "b_neg")
    )
