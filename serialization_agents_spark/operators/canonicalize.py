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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serialization_agents_spark.functions.normalize import normalize_name_expr

MAX_CC_ITERATIONS = 25


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


# Below this active-entity count (the size of the label map actually
# shipped per iteration) the per-iteration label maps are broadcast
# (hash-to-min with zero join shuffles); above it the loop falls back to
# repartitioned hash joins at the same derived width.
BROADCAST_LABELS_MAX = 1_000_000


def connected_components(edges: DataFrame) -> tuple[DataFrame, int]:
    """edges(entity_key, merge_key) -> (labels(entity_key, component), iters).

    `component` is the lexicographic-min entity_key of the component —
    stable across runs and partitionings, and collision-free (earlier
    revisions used xxhash64 ids; at 10^12 entities 64-bit birthday
    collisions would spuriously merge ~1e4 components, so the STRING key
    stays the identifier end-to-end).
    """
    labels, iters, _ = _connected_components_ex(edges)
    return labels, iters


def _connected_components_ex(edges: DataFrame) -> tuple[DataFrame, int, int]:
    """connected_components plus the active-edge count the caller can
    use to skip merge machinery entirely: an entity is ACTIVE iff it
    shares a merge key with another entity, which holds iff its
    component has >= 2 members — so `n_active == 0` proves every
    component is a singleton."""
    all_nodes = edges.select("entity_key").dropDuplicates()

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
    n_active = shared_keys.agg(F.sum("n")).collect()[0][0] or 0
    if n_active == 0:
        return (
            all_nodes.select("entity_key", F.col("entity_key").alias("component")),
            0,
            0,
        )
    active = edges.join(shared_keys.select("merge_key"), "merge_key", "left_semi")

    # The loop operates on ENTITY-scale data (orders of magnitude smaller
    # than the corpus), so every exchange below is an EXPLICIT repartition
    # at a width derived from the active-edge count — never the session's
    # corpus-sized spark.sql.shuffle.partitions (which made the loop
    # slower on more cores), and never a session-conf mutation (which
    # would race concurrent queries on a shared session).
    spark = edges.sparkSession
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cc_parts = max(8, min(session_parts, n_active // 100_000 + 1))
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

    active_labels = labels.select("entity_key", F.col("label").alias("component"))
    # Singletons are their own component.
    singleton_labels = all_nodes.join(
        active_labels.select("entity_key"), "entity_key", "left_anti"
    ).select("entity_key", F.col("entity_key").alias("component"))
    return active_labels.unionByName(singleton_labels), iters, n_active


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


def _singleton_projection(df: DataFrame) -> DataFrame:
    """The identity 'merge' of a one-member component: same output
    schema/exprs as the group-merge, no aggregation. `df` must carry the
    agents columns plus `component`."""
    return df.select(
        F.lit(None).cast("long").alias("registry_id"),
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
        F.array().cast("array<string>").alias("viaf_merged"),
        F.array().cast("array<struct<source:string,id:string>>").alias("merge_source"),
        "mention_count",
        "source_priority",
        "primary_source",
        "component",
    )


def _argmin_field(prio: F.Column, value: F.Column, name: str) -> F.Column:
    """min(struct(prio, value)) ignoring rows where value IS NULL — the
    'existing row wins, new row backfills' scalar rule of
    /root/reference/lib/utils.js:307-313, made order-free."""
    return F.min(F.when(value.isNotNull(), F.struct(prio.alias("p"), value.alias("v"))))[
        "v"
    ].alias(name)


def canonicalize_agents(agents: DataFrame) -> tuple[DataFrame, int]:
    """Merge agent rows whose components collide; returns (canonical
    agents, cc_iterations). Input is `merge_entities` output."""
    # The CC machinery below issues several driver actions (edge counts,
    # convergence counts, the output checkpoint); `agents` sits on the
    # far side of the fact-table merge shuffle, so materialize it ONCE —
    # entity-scale — instead of re-running the merge per action.
    agents = agents.localCheckpoint(eager=True)
    edges = build_merge_edges(agents)
    labels, iters, n_active = _connected_components_ex(edges)

    if n_active == 0:
        # Nothing shares a merge key with anything: EVERY component is a
        # singleton (active <=> component size >= 2), so the group-merge
        # below is the identity projection. Skip the label checkpoint,
        # the size join, and the interpreted ObjectHashAggregate outright
        # — on low-collision corpora this removes the bulk of the
        # canonicalize stage's driver actions and shuffles.
        out = _singleton_projection(
            agents.withColumn("component", F.col("entity_key"))
        ).localCheckpoint(eager=True)
        return out, iters

    # labels is entity-scale and fans out into sizes/joins/two branches —
    # pin it once so the CC result is not re-derived per reference.
    labels = labels.localCheckpoint()

    # Singleton components (the overwhelming majority on real corpora) take
    # a pure-projection fast path: the group-merge below runs interpreted
    # (collect_set forces ObjectHashAggregate, which evaluates every
    # aggregate expression per row without codegen), so keeping singletons
    # out of it is a large constant-factor win at any scale.
    comp_sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("_csize"))
    # The label map is bounded by the entity count; below the CC loop's
    # broadcast gate ship it broadcast so the agents join never plans a
    # stats-blind sort-merge against the checkpointed frames.
    n_labels = labels.count()
    _maybe_b = F.broadcast if n_labels <= BROADCAST_LABELS_MAX else (lambda df: df)
    lab2 = labels.join(_maybe_b(comp_sizes), "component")
    joined = agents.join(_maybe_b(lab2), "entity_key").persist()

    singles = _singleton_projection(joined.where(F.col("_csize") == 1))

    # The heavy merge below is entity-scale; pre-partition it on the group
    # key with a width sized to the (small) multi-member row count so the
    # groupBy reuses the partitioning instead of a full-width exchange.
    # (Derived from comp_sizes — labels-scale — so sizing it does not
    # force the agents join to materialize early.)
    n_multi = (
        comp_sizes.where(F.col("_csize") > 1)
        .agg(F.sum("_csize").alias("n"))
        .collect()[0]["n"]
        or 0
    )
    agg_parts = max(8, n_multi // 100_000 + 1)
    a = (
        joined.where(F.col("_csize") > 1)
        .drop("_csize")
        .repartition(agg_parts, "component")
    )
    # Priority inside a component: controlled entities beat noViaf ones,
    # then lower source_priority, then lexicographic key (determinism).
    prio = F.struct(
        F.when(F.col("is_controlled"), 0).otherwise(1).alias("ctl"),
        F.col("source_priority").alias("sp"),
        F.col("entity_key").alias("ek"),
    )
    a = a.withColumn("prio", prio)

    def arr_union(col: str, cap: int = 256) -> F.Column:
        return F.slice(
            F.array_distinct(F.flatten(F.collect_list(col))), 1, cap
        ).alias(col)

    grouped = a.groupBy("component").agg(
        F.min("prio")["ek"].alias("entity_key"),
        _argmin_field(F.col("prio"), F.col("name_controlled"), "name_controlled"),
        F.max("is_controlled").alias("is_controlled"),
        _argmin_field(F.col("prio"), F.col("wikidata"), "wikidata"),
        _argmin_field(F.col("prio"), F.col("lc_id"), "lc_id"),
        _argmin_field(F.col("prio"), F.col("ulan"), "ulan"),
        _argmin_field(F.col("prio"), F.col("dbpedia"), "dbpedia"),
        _argmin_field(F.col("prio"), F.col("birth"), "birth"),
        _argmin_field(F.col("prio"), F.col("death"), "death"),
        _argmin_field(F.col("prio"), F.col("type"), "type"),
        F.min(F.struct(F.col("prio").alias("p"), F.col("viaf").alias("v")))["v"].alias(
            "canonical_viaf"
        ),
        arr_union("viaf"),
        arr_union("name_normalized"),
        F.slice(F.array_distinct(F.flatten(F.collect_list("alt_forms"))), 1, 128).alias(
            "alt_forms"
        ),
        arr_union("fast", 64),
        # member lineage (source, id) pairs — the reference's mergeSource
        # entry shape (/root/reference/lib/utils.js:290-297)
        F.array_sort(
            F.collect_set(
                F.struct(
                    F.col("primary_source").alias("source"),
                    F.col("entity_key").alias("id"),
                )
            )
        ).alias("all_members"),
        F.sum("mention_count").alias("mention_count"),
        F.min("source_priority").alias("source_priority"),
        _argmin_field(F.col("prio"), F.col("primary_source"), "primary_source"),
        F.count(F.lit(1)).alias("merged_row_count"),
    )

    canonical = grouped.select(
        F.lit(None).cast("long").alias("registry_id"),
        "entity_key",
        F.col("viaf"),
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
        # viafMerged: ids contributed by non-canonical members
        # (/root/reference/lib/utils.js:290-297)
        F.array_sort(F.array_except(F.col("viaf"), F.col("canonical_viaf"))).alias(
            "viaf_merged"
        ),
        F.array_sort(
            F.filter("all_members", lambda m: m["id"] != F.col("entity_key"))
        ).alias("merge_source"),
        "mention_count",
        "source_priority",
        "primary_source",
        "component",
    )
    # Materialize (entity-scale) so `joined`'s cache can be released
    # immediately and downstream fan-out reads the checkpoint, not the
    # twice-branched aggregation plan.
    out = singles.unionByName(canonical).localCheckpoint(eager=True)
    joined.unpersist()
    return out, iters
