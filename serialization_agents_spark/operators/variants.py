"""Multi-variant name matching — the reference's TMS strategy (J5/X7/X8,
SURVEY.md §2.3/§2.6) as an explode + blocking join + first-hit pick.

Reference semantics reproduced (citations into /root/reference):

- **X7 date cleanup** (lib/tms_serialize_objects_agents.js:167-172):
  parseInt prefix parse ('1950ca' -> 1950); fully non-numeric dropped;
  `dateStart === 0` -> null; `dateEnd === 0` or
  `dateStart + 100 === dateEnd` -> null. The reference's `+ 100` check
  runs AFTER the 0->false coercion, so a PRESENT start that parsed to
  0/NaN coerces to 0 (JS `false + 100 === 100`), while an absent start
  is `undefined` (NaN + 100 never equals end) — see clean_agent_dates.
- **X8 checkNames generation** (:174-190): ordered candidate variants
  `'{nameAlpha}, {start}-{end}'`, `'{nameAlpha}, {start}-'`,
  `nameAlpha`, `nameDisplay` — each trimmed, skipped when empty,
  deduped preserving order.
- **J5 multi-key candidate join** (lib/utils_tms.js:83-116): every
  checkName of every unlinked agent is looked up by normalized name;
  the FIRST variant (in checkNames order) with a hit wins
  (`checkNames[0]` is "the best" constructed name, :146). Expressed as
  posexplode -> broadcast join on the blocking key -> per-agent
  row_number over variant position.
- **A4 naming + date fallback** (lib/utils_tms.js:125-199, asserted by
  test/utils.test.js:316-385): matched agents take
  lcTerm > viafTerm > namePart; unmatched agents take
  `checkNames[0]` as nameControlled, cleaned dates as birth/death, and
  the `&`-in-name => corporate heuristic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from serialization_agents_spark.functions.normalize import normalize_name_expr

_AUTH_COLS = [
    "viaf_id", "viaf_all", "type", "lc_id", "getty_id", "wikidata_id",
    "lc_term", "viaf_term", "birth", "death", "dbpedia_id", "normalized", "fast",
]


def clean_agent_dates(df: DataFrame) -> DataFrame:
    """X7 — lib/tms_serialize_objects_agents.js:167-172, over
    `date_start` / `date_end`.

    parseInt semantics: a numeric PREFIX parses ('1950ca' -> 1950,
    ' +1950' -> 1950); only a fully non-numeric or absent value fails.
    The JS `start + 100 === end` check runs after the falsy coercion, so
    a PRESENT-but-falsy start (parse failure or literal 0) coerces to 0
    (`false + 100 === 100` drops end=100), while a source-NULL start is
    `undefined` — `undefined + 100` is NaN, which never equals end.
    """
    _lead_int = r"^\s*([+-]?[0-9]+)"
    s_raw = F.regexp_extract(F.col("date_start").cast("string"), _lead_int, 1).try_cast(
        "long"
    )
    e_raw = F.regexp_extract(F.col("date_end").cast("string"), _lead_int, 1).try_cast(
        "long"
    )
    s = F.when(s_raw == 0, F.lit(None).cast("long")).otherwise(s_raw)
    # start value the JS +100 check sees: 0 for present-but-falsy starts,
    # NULL (-> never-equal) for source-NULL starts.
    s_for_check = F.when(F.col("date_start").isNotNull(), F.coalesce(s_raw, F.lit(0)))
    e = F.when(
        (e_raw == 0) | (s_for_check + 100 == e_raw),
        F.lit(None).cast("long"),
    ).otherwise(e_raw)
    # single projection: BOTH outputs read the RAW columns (a chained
    # withColumn would resolve the end-check's start reference against
    # the already-cleaned start, losing the falsy-coercion quirk).
    others = [c for c in df.columns if c not in ("date_start", "date_end")]
    return df.select(*others, s.alias("date_start"), e.alias("date_end")).select(
        *df.columns
    )


def build_check_names(df: DataFrame) -> DataFrame:
    """X8 — ordered candidate variants, empty-skipped, order-preserving
    dedupe (lib/tms_serialize_objects_agents.js:174-190). Run AFTER
    clean_agent_dates."""
    na = F.trim(F.col("name_alpha"))
    nd = F.trim(F.col("name_display"))
    s = F.col("date_start")
    e = F.col("date_end")
    v1 = F.when(
        s.isNotNull() & e.isNotNull() & (na != ""),
        F.concat(na, F.lit(", "), s.cast("string"), F.lit("-"), e.cast("string")),
    )
    v2 = F.when(
        s.isNotNull() & (na != ""),
        F.concat(na, F.lit(", "), s.cast("string"), F.lit("-")),
    )
    v3 = F.when(na != "", na)
    v4 = F.when(nd != "", nd)
    variants = F.filter(F.array(v1, v2, v3, v4), lambda x: x.isNotNull())
    # array_distinct preserves first-occurrence order (the reference's
    # indexOf-before-push dedupe).
    return df.withColumn("check_names", F.array_distinct(variants))


def match_by_check_names(agents: DataFrame, authority: DataFrame) -> DataFrame:
    """J5 — flat-map the checkNames through the normalized-name lookup;
    first variant with a hit wins (lib/utils_tms.js:83-116).

    Returns `agents` + (`matched_variant` 1-based position or null,
    `auth_hit` struct or null). The authority side is broadcast — it is
    the entity-scale dimension; the agents fact table is exploded ~4x
    but never shuffled except the per-agent top-1 window, which AQE
    coalesces (hits are a small fraction of variants).
    """
    exploded = agents.select(
        "agent_id", F.posexplode("check_names").alias("pos", "cand_name")
    ).withColumn("name_norm", normalize_name_expr(F.col("cand_name")))
    keys = (
        authority.select(
            F.explode("normalized").alias("name_norm"),
            F.struct(*_AUTH_COLS).alias("auth_hit"),
        )
        .dropDuplicates(["name_norm"])
    )
    hits = exploded.join(broadcast(keys), "name_norm")
    # first-hit-wins = min over (pos, hit) structs: pos is unique per
    # agent (posexplode), so the struct comparison never reaches the
    # auth payload — same winner as the old row_number window, but as a
    # partial-aggregating hash agg with no per-partition sort.
    best = (
        hits.groupBy("agent_id")
        .agg(F.min(F.struct(F.col("pos"), F.col("auth_hit"))).alias("_b"))
        .select(
            "agent_id",
            (F.col("_b")["pos"] + 1).alias("matched_variant"),
            F.col("_b")["auth_hit"].alias("auth_hit"),
        )
    )
    return agents.join(best, "agent_id", "left")


def build_agent_from_variant_match(matched: DataFrame) -> DataFrame:
    """A4 — the TMS buildAgentFromTmsAgent naming/date/type rules
    (lib/utils_tms.js:125-199). Input is match_by_check_names output with
    cleaned `date_start`/`date_end` still present.

    namePart = checkNames[0] (":146 — the first constructed name is the
    best"); matched: lcTerm > viafTerm > namePart, type from authority;
    unmatched: namePart, dates as birth/death, '&' => corporate.
    """
    name_part = F.element_at("check_names", 1)
    auth = F.col("auth_hit")
    is_matched = auth.isNotNull()
    return matched.select(
        "*",
        F.when(is_matched, auth["viaf_id"]).alias("viaf"),
        F.when(
            is_matched,
            F.coalesce(auth["lc_term"], auth["viaf_term"], name_part),
        ).otherwise(name_part).alias("name_controlled"),
        F.when(is_matched, auth["birth"]).otherwise(
            F.col("date_start").cast("string")
        ).alias("birth"),
        F.when(is_matched, auth["death"]).otherwise(
            F.col("date_end").cast("string")
        ).alias("death"),
        F.when(is_matched, F.lower(auth["type"]))
        .when(name_part.contains("&"), F.lit("corporate"))
        .otherwise(F.lit("personal"))
        .alias("agent_type"),
    )
