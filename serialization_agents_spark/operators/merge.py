"""Priority merge algebra — the reference's aggregate-then-serialize core
(A1-A6, SURVEY.md §2.4) as an order-free, salted two-phase aggregation.

Reference semantics reproduced (citations into /root/reference):

- name precedence `lcTerm > viafTerm > local name`
  (lib/utils_shadowcat.js:212-221; archives variant lib/utils_archives.js:131-184);
- `(Spirit)` qualifier strip (lib/utils_shadowcat.js:230);
- `type` lowercased, default 'personal' (lib/utils_shadowcat.js:232,318),
  with the TMS `&`-in-name => 'corporate' heuristic (lib/utils_tms.js:146-147);
- `ulan` = int-cast of gettyId (lib/utils_shadowcat.js:236);
- accumulated `nameNormalized` set and scored `altForms`
  (lib/utils_shadowcat.js:244-263, scores :247);
- within-record dedupe of identical candidate agents
  (lib/shadowcat_serialize_viaf_agents.js:192-195) — `dropDuplicates`;
- `useCount`-style mention counting.

The reference achieves cross-record merging through serialized upserts
into MongoDB with unique indexes (lib/utils.js:216-266) — ordered side
effects. At 10^12 documents that is the bottleneck; we replace run-order
with an explicit priority column and a commutative aggregation
(SURVEY.md §4.3), which Spark executes as map-side partial aggregation +
one shuffle.

**Skew**: head entities (one agent in ~10% of pages) would put one
reducer on the critical path. `merge_entities` therefore aggregates in
two phases — `groupBy(entity_key, salt)` then `groupBy(entity_key)` —
with `collect_set` arrays capped via `slice()` so no single buffer grows
unboundedly (SURVEY.md §4.2.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StringType

from serialization_agents_spark.functions.normalize import (
    fuzzy_score_expr,
    normalize_name_expr,
    percent_overlap_expr,
)
from serialization_agents_spark.schemas import AGENTS

N_SALT = 16
MAX_ALT_FORMS = 64
MAX_NAME_FORMS = 128


def capped_union(col: str, cap: int) -> Column:
    """Aggregate: the sorted distinct union of the group's `col` arrays,
    first `cap` elements kept. Sorting BEFORE the slice keeps the retained
    subset independent of row arrival order when a cap binds, so re-runs
    and resumes stay byte-identical (lineage checksums depend on it)."""
    return F.slice(F.array_sort(F.array_distinct(F.flatten(F.collect_list(col)))), 1, cap)


def argmin_by(prio: Column, value: Column) -> Column:
    """Aggregate: `value` of the lowest-`prio` row whose value is not NULL
    — the 'existing row wins, new row backfills' scalar rule of
    /root/reference/lib/utils.js:307-313, made order-free."""
    return F.min(F.when(value.isNotNull(), F.struct(prio.alias("p"), value.alias("v"))))["v"]


def strip_spirit(col: Column) -> Column:
    """X4 — remove the '(Spirit)' qualifier (lib/utils_shadowcat.js:230)."""
    return F.regexp_replace(col, r"(?i)\s\(Spirit\)", "")


def prepare_mention_facts(linked: DataFrame) -> DataFrame:
    """Per-mention derived columns needed by the merge, all computed BEFORE
    the shuffle so the aggregation itself is pure built-ins.

    alt_form scores (X2/X3) are intentionally NOT computed here: a
    per-mention scoring pass over the 100 TB fact table would dominate
    the job. `score_alt_forms` fills them after canonicalization, in place
    on each entity's deduplicated `alt_forms` array — which also matches
    the reference more closely (scores are vs the final nameControlled,
    lib/utils_shadowcat.js:247).
    """
    # Name-precedence candidate for this row: (rank, value); min() over the
    # group implements lcTerm > viafTerm > local-name coalescing.
    name_pref = F.when(
        F.col("auth_hit.lc_term").isNotNull(),
        F.struct(F.lit(1).alias("p"), strip_spirit(F.col("auth_hit.lc_term")).alias("v")),
    ).when(
        F.col("auth_hit.viaf_term").isNotNull(),
        F.struct(F.lit(2).alias("p"), F.col("auth_hit.viaf_term").alias("v")),
    ).otherwise(
        F.struct(F.lit(3).alias("p"), F.col("name_raw").alias("v"))
    )
    from pyspark.sql.window import Window

    # A6 — within-record dedupe of identical candidates. Deterministic
    # survivor: the lowest-priority-source row wins (a mention detected by
    # both an agent span and a promoted subject keeps the agent-span row),
    # never whichever partition happened to arrive first.
    dedupe_w = Window.partitionBy("url", "entity_key", "name_raw").orderBy(
        "source_priority", "source", "mention_id"
    )
    return (
        linked
        .withColumn("_rn", F.row_number().over(dedupe_w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("name_pref", name_pref)
        .withColumn(
            "alt_form",
            F.struct(
                F.col("name_raw").alias("name"),
                F.lower(F.coalesce("auth_hit.type", F.lit("personal"))).alias("type"),
                F.col("source").alias("source"),
                # NOT the url: a per-url id would make every occurrence a
                # distinct struct and blow the collect_set cap for head
                # entities; the reference's `id` is the source-record id,
                # which web pages don't have a stable analogue for.
                F.lit(None).cast(StringType()).alias("id"),
                F.lit(None).cast(DoubleType()).alias("poverlap"),  # score_alt_forms
                F.lit(None).cast(DoubleType()).alias("fuzzy"),     # fills these
            ),
        )
    )


def merge_entities(linked: DataFrame) -> DataFrame:
    """linked mentions -> one canonical agent row per entity_key (AGENTS
    schema minus registry_id / merge-lineage, which later stages fill)."""
    facts = prepare_mention_facts(linked)

    salted = facts.withColumn("salt", F.pmod(F.xxhash64("mention_id"), F.lit(N_SALT)))

    # the entity's primary source: lexicographic argmin by (priority,
    # source name) — order-free, exact under any fold split (used by the
    # canonicalizer's merge_source lineage, reference lib/utils.js:290-297)
    src_pref = F.struct(
        F.col("source_priority").alias("p"), F.col("source").alias("v")
    )

    partial = salted.groupBy("entity_key", "salt").agg(
        F.min("name_pref").alias("name_pref"),
        F.first("auth_hit", ignorenulls=True).alias("auth"),
        F.slice(F.array_sort(F.collect_set("name_norm")), 1, MAX_NAME_FORMS).alias(
            "name_norms"
        ),
        F.slice(F.array_sort(F.collect_set("alt_form")), 1, MAX_ALT_FORMS).alias(
            "alt_forms"
        ),
        F.count(F.lit(1)).alias("mention_count"),
        F.min("source_priority").alias("source_priority"),
        F.min(src_pref).alias("src_pref"),
    )

    agg = partial.groupBy("entity_key").agg(
        F.min("name_pref").alias("name_pref"),
        F.first("auth", ignorenulls=True).alias("auth"),
        capped_union("name_norms", MAX_NAME_FORMS).alias("name_normalized"),
        capped_union("alt_forms", MAX_ALT_FORMS).alias("alt_forms"),
        F.sum("mention_count").alias("mention_count"),
        F.min("source_priority").alias("source_priority"),
        F.min("src_pref").alias("src_pref"),
    )

    name_controlled = F.col("name_pref.v")
    auth = F.col("auth")
    return agg.select(
        F.lit(None).cast(LongType()).alias("registry_id"),
        "entity_key",
        F.coalesce(auth["viaf_all"], F.array().cast(ArrayType(StringType()))).alias("viaf"),
        auth["viaf_id"].isNotNull().alias("is_controlled"),
        name_controlled.alias("name_controlled"),
        auth["wikidata_id"].alias("wikidata"),
        auth["lc_id"].alias("lc_id"),
        auth["getty_id"].cast(LongType()).alias("ulan"),
        auth["dbpedia_id"].alias("dbpedia"),
        auth["birth"].alias("birth"),
        auth["death"].alias("death"),
        F.when(auth["type"].isNotNull(), F.lower(auth["type"]))
        .when(name_controlled.contains("&"), F.lit("corporate"))
        .otherwise(F.lit("personal"))
        .alias("type"),
        F.array_sort(
            F.array_distinct(
                F.concat(
                    F.col("name_normalized"),
                    F.coalesce(auth["normalized"], F.array().cast(ArrayType(StringType()))),
                )
            )
        ).alias("name_normalized"),
        F.filter(
            F.array_sort(F.col("alt_forms")), lambda a: a["name"] != name_controlled
        ).alias("alt_forms"),
        F.coalesce(auth["fast"], F.array().cast(ArrayType(LongType()))).alias("fast"),
        F.array().cast(ArrayType(StringType())).alias("viaf_merged"),
        F.array().cast(AGENTS["merge_source"].dataType).alias("merge_source"),
        F.col("mention_count"),
        F.col("source_priority"),
        F.col("src_pref")["v"].alias("primary_source"),
        # lcTerm/viafTerm/local rank of name_controlled — carried so the
        # streaming incremental fold can re-apply the SAME priority min
        # instead of existing-wins (keeps batch(all) == fold(batches)).
        F.col("name_pref.p").alias("name_pref_rank"),
    )


def score_alt_forms(agents: DataFrame) -> DataFrame:
    """Fill altForms poverlap/fuzzy (X2/X3) against the final controlled
    name — the reference scores each altForm where it stands on its agent
    record, vs the agent's nameControlled
    (/root/reference/lib/utils_shadowcat.js:247,401).

    One narrow projection, entirely JVM-side: a `transform` over each
    row's `alt_forms` keeps every row and the array's element order. The
    fuzzy walk (fuzzy_score_expr) takes cheap arguments only: the
    controlled name is normalized once into the `_nc_norm` column and
    each alt name once into a struct field by an inner `transform`, so
    no normalize regex is inlined into the interpreted walk. Trivial case
    (name == controlled) short-circuits to the reference's literal
    100 / 1.0.
    """
    nc = F.col("name_controlled")
    normed = F.transform(
        "alt_forms",
        lambda a: F.struct(a.alias("af"), normalize_name_expr(a["name"]).alias("norm")),
    )

    def scored(x: Column) -> Column:
        af, same = x["af"], x["af"]["name"] == nc
        return af.withField(
            "poverlap",
            F.when(same, F.lit(100.0)).otherwise(percent_overlap_expr(af["name"], nc)),
        ).withField(
            "fuzzy",
            F.when(same, F.lit(1.0)).otherwise(fuzzy_score_expr(F.col("_nc_norm"), x["norm"])),
        )

    return (
        agents.withColumn("_nc_norm", normalize_name_expr(nc))
        .withColumn("alt_forms", F.transform(normed, scored))
        .drop("_nc_norm")
    )
