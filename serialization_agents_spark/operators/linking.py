"""Entity linking: the reference's 4-stage lookup cascade, re-expressed as
a join pipeline (SURVEY.md §2.3 J1-J6, §3.3).

Reference semantics being reproduced:

1. **Redirect resolution (J6)** — dead/merged VIAF ids are chased through
   redirects / `mads:useInstead` (/root/reference/lib/viaf.js:11-128,
   lib/utils.js:86-182). At scale the live HTTP probes become one left
   join against a static `viaf_redirects` dimension; unresolvable ids
   produce a `dead_viaf` side-output (the Spark version of the
   write-back `removeViafFromShadowcatAgent`, lib/utils_shadowcat.js:152-173 —
   we never mutate the source corpus).
2. **VIAF join (J1)** — mention.viaf_hint against the authority, keyed by
   EVERY id in each cluster's `viaf` array (the reference finds on the
   array field, lib/utils.js:75-77). Broadcast hash join; the reference's
   per-record memo cache (lib/utils_shadowcat.js:17) is subsumed by the
   hash table.
3. **LCNAF join (J2)** — unmatched mentions that carry an LC hint, keyed
   on `lc_id` (lib/utils.js:196-208). Only for sources that annotate LC
   URIs; a no-op column here otherwise.
4. **Name join (J4)** — still-unmatched mentions equi-join the authority
   on the normalized-name BLOCKING key (exactly the reference's
   `nameNormalized ==` block, lib/utils.js:44-52), then the per-mention
   argmax of the string_score fuzzy similarity picks the winner
   (lib/utils.js:53-61), computed once per block (see J4 below).
5. **Blacklist filter (F6)** — junk names dropped by broadcast anti-join
   (lib/tms_serialize_objects_agents.js:211).

Output: one row per surviving mention with `entity_key`
(`viaf:<id>` when linked, else `noViaf:<xxhash64(name_norm)>` — the
deterministic replacement for the reference's `'noViaf'+Date.now()+rand`
surrogate, lib/utils_archives.js:177) plus the matched authority columns.
All dimension joins broadcast; the fact table is never shuffled until
the merge stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from serialization_agents_spark.functions.normalize import fuzzy_score_expr

_AUTH_COLS = [
    "viaf_id", "viaf_all", "type", "lc_id", "getty_id", "wikidata_id",
    "lc_term", "viaf_term", "birth", "death", "dbpedia_id", "normalized", "fast",
]


def resolve_redirects(
    mentions: DataFrame, redirects: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """Chase viaf_hint through the redirects dimension.

    Returns (mentions with `viaf_resolved` + lc-fallback-merged `lc_hint`,
    dead_viaf side-output). Chain per reference lib/utils.js:86-182 and
    lib/viaf.js:57-101: a redirected id resolves to its target; a deleted
    id with a `mads:useInstead` LC authority routes into the LCNAF lookup
    (J2) via `lc_hint`; a deleted id with no fallback is dead -> hint
    dropped, mention falls through to the name pass, and the dead id is
    side-output (the Spark version of the write-back
    `removeViafFromShadowcatAgent`, lib/utils_shadowcat.js:152-173).
    """
    if "lc_hint" not in mentions.columns:
        mentions = mentions.withColumn("lc_hint", F.lit(None).cast(StringType()))
    if redirects is None:
        m = mentions.withColumn("viaf_resolved", F.col("viaf_hint"))
        dead = mentions.limit(0).select(
            F.col("url"), F.col("viaf_hint").alias("dead_viaf")
        )
        return m, dead

    r = redirects.select(
        F.col("old_id"),
        F.col("new_id").alias("redirect_target"),
        F.col("use_instead_lc").alias("redirect_lc"),
        F.lit(True).alias("in_redirects"),
    )
    joined = mentions.join(broadcast(r), mentions.viaf_hint == r.old_id, "left")
    resolved = (
        joined.withColumn(
            "viaf_resolved",
            F.when(F.col("in_redirects").isNull(), F.col("viaf_hint")).otherwise(
                F.col("redirect_target")  # may be NULL => deleted id
            ),
        )
        .withColumn("lc_hint", F.coalesce("lc_hint", "redirect_lc"))
        .drop("old_id", "redirect_target", "redirect_lc", "in_redirects")
    )
    dead = resolved.where(
        F.col("viaf_hint").isNotNull()
        & F.col("viaf_resolved").isNull()
        & F.col("lc_hint").isNull()
    ).select("url", F.col("viaf_hint").alias("dead_viaf"))
    return resolved, dead


def drop_blacklisted(mentions: DataFrame, blacklist: DataFrame | None) -> DataFrame:
    """F6 — drop junk names by broadcast anti-join (beats isin() for an
    updatable dimension)."""
    if blacklist is None:
        return mentions
    return mentions.join(
        broadcast(blacklist.withColumnRenamed("name", "name_raw")), "name_raw", "left_anti"
    )


def link_mentions(
    mentions: DataFrame,
    authority: DataFrame,
    redirects: DataFrame | None = None,
    blacklist: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full cascade. Returns (linked mentions, dead_viaf side-output).

    Plan shape (verify with .explain): scan -> [broadcast anti-join]
    -> [broadcast left join redirects] -> [broadcast left join viaf-key]
    -> [broadcast left join lc-key] -> [broadcast left join name-block
    argmax] -> project. Zero fact-table shuffles: the one shuffle groups
    the authority's name blocks, at the session's default parallelism so
    every core scores blocks.
    """
    m, dead = resolve_redirects(drop_blacklisted(mentions, blacklist), redirects)

    # --- J1: viaf-key join, keyed by every id in each cluster ------------
    viaf_keys = authority.select(
        F.explode("viaf_all").alias("viaf_resolved"),
        F.struct(*_AUTH_COLS).alias("auth_v"),
    ).dropDuplicates(["viaf_resolved"])
    m = m.join(broadcast(viaf_keys), "viaf_resolved", "left")

    # --- J2: lcId fallback (reference: only when J1 missed) --------------
    # lc_hint comes from LCNAF markup (P3, detect_mentions) or a
    # mads:useInstead redirect (resolve_redirects above); the coalesce
    # below keeps the J1 hit when both joins land (lib/utils.js:196-208).
    lc_keys = (
        authority.where(F.col("lc_id").isNotNull())
        .select(F.col("lc_id").alias("lc_hint"), F.struct(*_AUTH_COLS).alias("auth_l"))
        .dropDuplicates(["lc_hint"])
    )
    m = m.join(broadcast(lc_keys), "lc_hint", "left")

    m = m.withColumn("auth_hit", F.coalesce("auth_v", "auth_l")).drop("auth_v", "auth_l")

    # --- J4: normalized-name block + fuzzy top-1 for the rest ------------
    # KEY SCALE INSIGHT: the block requires EXACT normalized-name equality
    # (lib/utils.js:44-52), so the fuzzy argmax (lib/utils.js:53-61) is a
    # pure function of the BLOCK — every mention in a block has
    # name_norm == the blocking key and sees the same candidates. The
    # argmax therefore runs ONCE PER BLOCK on the entity-scale dimension
    # (an F.aggregate fold over the sorted candidates: strictly-greater
    # keeps the earlier, viaf_id-ordered candidate — the reference's
    # `score > bestScore` first-wins semantics), and the 100 TB fact side
    # pays only a broadcast hash join. No explode, no window shuffle, no
    # branch union, no per-mention scoring. (An earlier revision ran the
    # interpreted fold per mention row; projection collapse then inlined
    # copies of it — and of the normalize regex feeding name_norm — into
    # every downstream column, which dominated the whole pipeline.)
    exploded = authority.select(
        F.explode("normalized").alias("name_norm"),
        F.struct(*_AUTH_COLS).alias("auth_n"),
    )

    def _score(cand):
        return fuzzy_score_expr(
            F.col("name_norm"), F.lower(F.coalesce(cand["lc_term"], cand["viaf_term"]))
        )

    cand_t = exploded.schema["auth_n"].dataType
    best_t = StructType([StructField("a", cand_t), StructField("s", DoubleType())])
    # score each candidate ONCE via transform, then a tiny first-wins
    # fold over the pre-scored structs — the interpreted walk used to
    # appear twice per fold step (condition + value), doubling both the
    # expression tree Catalyst must chew through and the per-candidate
    # evaluations.
    scored_cands = F.transform(
        F.col("cands"), lambda c: F.struct(c.alias("a"), _score(c).alias("s"))
    )
    argmax = F.aggregate(
        scored_cands,
        F.lit(None).cast(best_t),
        lambda acc, sc: F.when(acc.isNull() | (sc["s"] > acc["s"]), sc).otherwise(acc),
    )
    # Score the blocks on every core: AQE coalesces this small shuffle to
    # ONE partition, which left a single task scoring every multi-candidate
    # block while the other cores idled. AQE keeps a repartition with an
    # explicit count, and the groupBy reuses its hash partitioning.
    width = authority.sparkSession.sparkContext.defaultParallelism
    name_best = (
        exploded.repartition(width, "name_norm")
        .groupBy("name_norm")
        .agg(F.array_sort(F.collect_list("auth_n")).alias("cands"))
        .select(
            "name_norm",
            # single-candidate fast path skips scoring (the common case)
            F.when(
                F.size("cands") == 1,
                F.struct(
                    F.element_at("cands", 1).alias("a"),
                    F.lit(None).cast(DoubleType()).alias("s"),
                ),
            ).otherwise(argmax).alias("nb"),
        )
        # block-constant argmax is computed once here (entity scale), not
        # per fact row: materialize so the broadcast ships VALUES.
        # eager=False: the checkpoint still pins the computed values on
        # first use, but rides the first downstream action instead of
        # costing its own driver round-trip at plan-build time.
        .localCheckpoint(eager=False)
    )
    m = m.join(broadcast(name_best), "name_norm", "left")
    linked = (
        m.select(
            *[c for c in m.columns if c != "nb"],
            F.coalesce("auth_hit", F.col("nb")["a"]).alias("_hit"),
            F.when(F.col("auth_hit").isNull(), F.col("nb")["s"]).alias("fuzzy"),
        )
        .drop("auth_hit")
        .withColumnRenamed("_hit", "auth_hit")
    )

    # --- entity key: deterministic, order-free ----------------------------
    linked = linked.withColumn(
        "entity_key",
        F.when(
            F.col("auth_hit").isNotNull(), F.concat(F.lit("viaf:"), F.col("auth_hit.viaf_id"))
        ).otherwise(
            # md5 (not xxhash64) so pure-Python and DuckDB oracles can
            # derive the identical key: noViaf:md5(name_norm)[:16]
            F.concat(F.lit("noViaf:"), F.substring(F.md5(F.col("name_norm")), 1, 16))
        ),
    )
    return linked, dead
