"""Canonicalization: connected-components closure of the reference's
conflict-merge (A5), run as iterative DataFrame self-joins.

The reference merges two canonical agents when an upsert collides on the
`nameControlled` unique index (`mergeAgentOnNameConflict`,
/root/reference/lib/utils.js:274-323): viaf arrays are unioned (tracking
`viafMerged`), fast/nameNormalized/altForms unioned, scalars kept from
the existing row and back-filled from the new one, and a `mergeSource`
lineage entry appended (:290-297). Because it happens upsert-by-upsert,
chains of collisions merge transitively over time.

Order-free equivalent: build a bipartite graph
`entity —shares-key— merge_key` where merge keys are (a) the normalized
controlled name (the unique-index collision) and (b) every VIAF id in
the entity's cluster (two authority clusters sharing an id are the same
real-world agent — the reference reaches these through VIAF-redirect
chasing). Connected components give exactly the transitive closure of
A5, computed as alternating min-label propagation (hash-to-min):

    repeat:  key_label  = min(entity_label)  over each key
             entity_label = min(key_label)   over each entity
    until no label changes.

Each iteration is two shuffles on (key, entity); `localCheckpoint()`
truncates lineage so plans stay O(1) per iteration (SURVEY.md §4.2.2;
cf. the BTS/large-star-small-star literature in PAPERS.md). Convergence
takes O(log n) iterations on pathological chains, 1-2 on real data.
Below the broadcast gate (BROADCAST_LABELS_MAX active edges) the loop
does not run at all: the active edges are collected once and a driver
union-find labels them in one pass, which counts as one iteration.

Only the ACTIVE set — entities sharing a merge key with another entity —
enters the loop. An entity is active iff its component has >= 2
members, so the active labels are the whole split `canonicalize_agents`
needs: agents without a label are singletons (identity projection),
agents with one are group-merged per component.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType

from serialization_agents_spark.functions.normalize import normalize_name_expr
from serialization_agents_spark.operators.merge import argmin_by, capped_union
from serialization_agents_spark.schemas import AGENTS

MAX_CC_ITERATIONS = 25
_LABELS_ARROW = pa.schema([("entity_key", pa.string()), ("component", pa.string())])


def build_merge_edges(agents: DataFrame) -> DataFrame:
    """entity -> merge-key bipartite edges (long-hashed both sides)."""
    name_edges = agents.select(
        F.col("entity_key"),
        F.concat(F.lit("name:"), normalize_name_expr(F.col("name_controlled"))).alias(
            "merge_key"
        ),
    )
    viaf_edges = agents.select(
        "entity_key", F.explode("viaf").alias("vid")
    ).select("entity_key", F.concat(F.lit("viaf:"), F.col("vid")).alias("merge_key"))
    # no cross-row dedup: each agent row contributes ONE name edge and
    # its (already array_distinct) viaf ids under distinct prefixes, so
    # (entity_key, merge_key) is unique by construction for the
    # merge_entities output this consumes — and connected components are
    # multi-edge-insensitive anyway (a duplicate edge could only make a
    # key look shared, never change a component). The old
    # .dropDuplicates() cost a full Exchange of the edge set per run.
    return name_edges.unionByName(viaf_edges)


# Up to this many active edges the components are found on the driver
# (one collect + union-find). Above it the hash-to-min loop runs, with its
# label maps broadcast while the active-entity count (the rows actually
# shipped per iteration) is below it too, and repartitioned hash joins at
# the same derived width beyond that.
BROADCAST_LABELS_MAX = 1_000_000


def connected_components(edges: DataFrame) -> tuple[DataFrame, int]:
    """edges(entity_key, merge_key) -> (labels(entity_key, component), iters).

    `component` is the lexicographic-min entity_key of the component —
    stable across runs and partitionings, and collision-free (earlier
    revisions used xxhash64 ids; at 10^12 entities 64-bit birthday
    collisions would spuriously merge ~1e4 components, so the STRING key
    stays the identifier end-to-end). Every entity outside the active set
    is its own component. `iters` is 0 when no merge key is shared, 1 for
    the driver union-find below the broadcast gate, and the hash-to-min
    round count above it.
    """
    active, iters, _ = _active_components(edges)
    nodes = edges.select("entity_key").dropDuplicates()
    if active is None:
        return nodes.withColumn("component", F.col("entity_key")), iters
    labels = nodes.join(active, "entity_key", "left").select(
        "entity_key", F.coalesce("component", "entity_key").alias("component")
    )
    return labels, iters


def _active_components(edges: DataFrame) -> tuple[DataFrame | None, int, int]:
    """Components of the ACTIVE entities only -> (labels(entity_key,
    component) or None, iters, n_active_entities). An entity is active iff
    it shares a merge key with another entity, which holds iff its
    component has >= 2 members — so every entity without a label is a
    singleton, and None (nothing active) proves all components are."""
    # Only keys shared by >= 2 entities can merge anything; everything else
    # is a singleton component and never enters the loop. On real corpora
    # this shrinks the iterated set by orders of magnitude (most entities
    # collide with nobody), so each iteration shuffles only actual
    # merge-candidates.
    shared_keys = (
        edges.groupBy("merge_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        # small by construction (only colliding keys); pinned so the
        # active-edge count below and the semi-join share one computation
        .localCheckpoint(eager=False)
    )
    # sum(n) over the shared keys IS the semi-joined edge count, so one
    # aggregate answers both "any merge at all?" and the loop width —
    # without materializing the semi-joined edge set just to count it.
    n_edges = shared_keys.agg(F.sum("n")).collect()[0][0] or 0
    if n_edges == 0:
        return None, 0, 0
    active = edges.join(shared_keys.select("merge_key"), "merge_key", "left_semi")
    spark = edges.sparkSession
    if n_edges <= BROADCAST_LABELS_MAX:
        # n_edges bounds the rows this collect brings back: below the gate
        # the whole active set fits the driver, and one union-find pass
        # replaces every loop round (and its count) with a single action.
        keys, components = _union_find(active.select("entity_key", "merge_key").collect())
        # an Arrow table becomes a LocalRelation: the labels stay in the
        # plan, so broadcasting them starts no Python worker (a list of
        # rows would become a Python RDD, re-run by every job reading it)
        labels = spark.createDataFrame(
            pa.table({"entity_key": keys, "component": components}, schema=_LABELS_ARROW)
        )
        return labels, 1, len(keys)

    # The loop operates on ENTITY-scale data (orders of magnitude smaller
    # than the corpus), so every exchange below is an EXPLICIT repartition
    # at a width derived from the active-edge count — never the session's
    # corpus-sized spark.sql.shuffle.partitions (which made the loop
    # slower on more cores), and never a session-conf mutation (which
    # would race concurrent queries on a shared session).
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cc_parts = max(8, min(session_parts, n_edges // 100_000 + 1))
    e = (
        active.select("entity_key", "merge_key")
        .repartition(cc_parts, "entity_key")
        .localCheckpoint()
    )

    labels = e.select("entity_key").dropDuplicates().select(
        "entity_key", F.col("entity_key").alias("label")
    )
    # Broadcast gate is the DISTINCT ENTITY count (= label-map rows, the
    # thing actually broadcast), not the edge count — an entity averages
    # >1 edge, so gating on edges disabled the fast path too early.
    n_entities = labels.count()
    labels, iters = _cc_loop(e, labels, cc_parts, n_entities <= BROADCAST_LABELS_MAX)
    return labels.select("entity_key", F.col("label").alias("component")), iters, n_entities


def _union_find(edges: list) -> tuple[list[str], list[str]]:
    """(entity_key, merge_key) edge rows -> (entity keys, their components)
    for every entity on them, by union-find with path halving over the
    sorted entity keys. A union always points the higher root at the
    lower, so each root is its set's lowest index: the component is the
    lexicographic-min entity_key, the same label hash-to-min converges to
    (Python's code-point order is Spark's UTF-8 byte order). A NULL
    entity_key joins nothing, as in the loop's equi-joins."""
    keys = sorted({ek for ek, _ in edges if ek is not None})
    index = {k: i for i, k in enumerate(keys)}
    parent = list(range(len(keys)))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    first: dict[str, int] = {}  # merge_key -> an entity already on it
    for ek, mk in edges:
        if ek is None:
            continue
        i = index[ek]
        a, b = find(i), find(first.setdefault(mk, i))
        if a != b:
            parent[max(a, b)] = min(a, b)
    return keys, [keys[find(i)] for i in range(len(keys))]


def _cc_loop(e: DataFrame, labels: DataFrame, cc_parts: int, broadcast_maps: bool):
    """Hash-to-min rounds until no label changes; raises if labels are
    still changing after MAX_CC_ITERATIONS rounds (read per call) rather
    than return components that have not converged."""
    from pyspark.sql.functions import broadcast as _b

    # label maps are entity-scale; broadcast keeps every join narrow so
    # one iteration costs exactly ONE cc_parts-wide exchange (the
    # merge_key re-key). Past BROADCAST_LABELS_MAX, fall back to
    # repartitioned hash joins at the same width.
    def dim(df: DataFrame, key: str) -> DataFrame:
        return _b(df) if broadcast_maps else df.repartition(cc_parts, key)

    for iters in range(1, MAX_CC_ITERATIONS + 1):
        # (1) hash-to-min through the bipartite edges.
        key_label = (
            e.join(dim(labels, "entity_key"), "entity_key")
            .repartition(cc_parts, "merge_key")
            .groupBy("merge_key")
            .agg(F.min("label").alias("klabel"))
        )
        new_labels = (
            e.join(dim(key_label, "merge_key"), "merge_key")
            .repartition(cc_parts, "entity_key")
            .groupBy("entity_key")
            .agg(F.min("klabel").alias("new_label"))
        )
        merged = labels.join(dim(new_labels, "entity_key"), "entity_key", "left").select(
            "entity_key",
            F.least("label", F.coalesce("new_label", "label")).alias("label"),
            (F.col("new_label") < F.col("label")).alias("changed"),
        )
        # (2) pointer-jumping: label <- label(label). Labels are entity
        # keys, so the mapping applies to itself; this halves chain depth
        # each round, giving O(log n) convergence on pathological chains
        # (the shortcutting step of hash-to-min, cf. PAPERS.md CC surveys).
        l2 = merged.select(
            F.col("entity_key").alias("label"), F.col("label").alias("jump")
        )
        merged = (
            merged.join(dim(l2, "label"), "label", "left")
            .select(
                "entity_key",
                F.least("label", F.coalesce("jump", "label")).alias("label"),
                (F.col("changed") | (F.col("jump") < F.col("label"))).alias("changed"),
            )
        )
        merged = merged.localCheckpoint()  # cut lineage growth per iteration
        n_changed = merged.where(F.col("changed")).count()
        labels = merged.select("entity_key", "label")
        if n_changed == 0:
            return labels, iters
    raise RuntimeError(
        f"connected components did not converge in {MAX_CC_ITERATIONS} "
        f"iterations ({n_changed} labels still changing)"
    )


def _project(df: DataFrame, viaf_merged: F.Column, merge_source: F.Column) -> DataFrame:
    """The canonical output row. `df` carries the agents columns plus
    `component`; only the merge lineage differs between singletons and
    merged components."""
    return df.select(
        F.lit(None).cast(LongType()).alias("registry_id"),
        "entity_key",
        F.array_sort("viaf").alias("viaf"),
        "is_controlled",
        "name_controlled",
        "wikidata",
        "lc_id",
        "ulan",
        "dbpedia",
        "birth",
        "death",
        "type",
        F.array_sort("name_normalized").alias("name_normalized"),
        F.array_sort("alt_forms").alias("alt_forms"),
        F.array_sort("fast").alias("fast"),
        viaf_merged.alias("viaf_merged"),
        merge_source.alias("merge_source"),
        "mention_count",
        "source_priority",
        "primary_source",
        "component",
    )


def _merge_components(members: DataFrame, n_members: int) -> DataFrame:
    """Group-merge the rows of multi-member components (`members` =
    agents joined with their `component`) into one canonical row each."""
    # Entity-scale: pre-partition on the group key at a width sized to the
    # member count so the groupBy reuses the partitioning instead of a
    # full-width exchange.
    a = members.repartition(max(8, n_members // 100_000 + 1), "component").withColumn(
        # Priority inside a component: controlled entities beat noViaf
        # ones, then lower source_priority, then lexicographic key.
        "prio",
        F.struct(
            F.when(F.col("is_controlled"), 0).otherwise(1).alias("ctl"),
            F.col("source_priority").alias("sp"),
            F.col("entity_key").alias("ek"),
        ),
    )
    prio = F.col("prio")

    grouped = a.groupBy("component").agg(
        F.min("prio")["ek"].alias("entity_key"),
        F.max("is_controlled").alias("is_controlled"),
        *[
            argmin_by(prio, F.col(c)).alias(c)
            for c in (
                "name_controlled", "wikidata", "lc_id", "ulan", "dbpedia",
                "birth", "death", "type", "primary_source",
            )
        ],
        argmin_by(prio, F.col("viaf")).alias("canonical_viaf"),
        capped_union("viaf", 256).alias("viaf"),
        capped_union("name_normalized", 256).alias("name_normalized"),
        capped_union("alt_forms", 128).alias("alt_forms"),
        capped_union("fast", 64).alias("fast"),
        # member lineage (source, id) pairs — the reference's mergeSource
        # entry shape (/root/reference/lib/utils.js:290-297)
        F.collect_set(
            F.struct(
                F.col("primary_source").alias("source"),
                F.col("entity_key").alias("id"),
            )
        ).alias("all_members"),
        F.sum("mention_count").alias("mention_count"),
        F.min("source_priority").alias("source_priority"),
    )
    return _project(
        grouped,
        # viafMerged: ids contributed by non-canonical members
        # (/root/reference/lib/utils.js:290-297)
        F.array_sort(F.array_except("viaf", "canonical_viaf")),
        F.array_sort(F.filter("all_members", lambda m: m["id"] != F.col("entity_key"))),
    )


def canonicalize_agents(agents: DataFrame) -> tuple[DataFrame, int]:
    """Merge agent rows whose components collide; returns (canonical
    agents, cc_iterations). Input is `merge_entities` output.

    The CC active set is the only split: an agent outside it is a
    singleton component and leaves through the identity projection (the
    overwhelming majority on real corpora — the group-merge runs
    interpreted, as collect_set forces ObjectHashAggregate, so keeping
    singletons out of it is a large constant-factor win); an agent inside
    it is a member of a multi-member component and is group-merged."""
    # The CC machinery issues several driver actions (edge counts,
    # convergence counts, the output checkpoint); `agents` sits on the
    # far side of the fact-table merge shuffle, so materialize it ONCE —
    # entity-scale — instead of re-running the merge per action.
    agents = agents.localCheckpoint(eager=True)
    labels, iters, n_active = _active_components(build_merge_edges(agents))

    singles = agents
    if labels is not None:
        # The label map is bounded by the active-entity count; below the
        # CC loop's broadcast gate ship it broadcast so neither split
        # plans a stats-blind sort-merge against the checkpointed frames.
        if n_active <= BROADCAST_LABELS_MAX:
            labels = F.broadcast(labels)
        singles = agents.join(labels.select("entity_key"), "entity_key", "left_anti")
    empty = F.array()
    out = _project(
        singles.withColumn("component", F.col("entity_key")),
        empty.cast(ArrayType(StringType())),
        empty.cast(AGENTS["merge_source"].dataType),
    )
    if labels is not None:
        out = out.unionByName(_merge_components(agents.join(labels, "entity_key"), n_active))
    # Materialize (entity-scale) so downstream fan-out reads the
    # checkpoint, not the twice-branched aggregation plan.
    return out.localCheckpoint(eager=True), iters
