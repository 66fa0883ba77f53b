"""Fixed StructType schemas for every table in the pipeline.

The reference is schemaless (BSON documents with `false`-as-null sentinels
and string-or-array polymorphism — e.g. `agent.viaf` is an array for
VIAF-backed agents but a `'noViaf…'` string otherwise,
/root/reference/lib/utils.js:282). We translate that into typed, nullable
columns (SURVEY.md §1.3): `false` sentinels become NULL, the viaf
string-or-array becomes `viaf: array<string>` + `is_controlled: boolean`.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Input: Common-Crawl-style pages (BASELINE.json input_hint shape).
# ---------------------------------------------------------------------------
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Authority dimension — shape of the reference's `registry.viaf` collection
# (/root/reference/lib/utils.js:89, fixture test/utils.test.js:24-65).
# ---------------------------------------------------------------------------
AUTHORITY = StructType(
    [
        StructField("viaf_id", StringType(), False),
        StructField("viaf_all", ArrayType(StringType()), True),
        StructField("source_count", IntegerType(), True),
        StructField("type", StringType(), True),  # 'Personal' | 'Corporate'
        StructField("has_lc", BooleanType(), True),
        StructField("lc_id", StringType(), True),
        StructField("getty_id", StringType(), True),
        StructField("wikidata_id", StringType(), True),
        StructField("lc_term", StringType(), True),
        StructField("dnb_term", StringType(), True),
        StructField("viaf_term", StringType(), True),
        StructField("birth", StringType(), True),  # verbatim strings, never parsed
        StructField("death", StringType(), True),
        StructField("dbpedia_id", StringType(), True),
        StructField("normalized", ArrayType(StringType()), True),
        StructField("fast", ArrayType(LongType()), True),
    ]
)

# Static stand-in for the reference's live VIAF/LCNAF HTTP probes
# (/root/reference/lib/viaf.js:11-128): dead/merged ids and their targets.
VIAF_REDIRECTS = StructType(
    [
        StructField("old_id", StringType(), False),
        StructField("new_id", StringType(), True),  # null => deleted
        StructField("lc_id", StringType(), True),
        StructField("use_instead_lc", StringType(), True),
    ]
)

# Junk-name blacklist (reference lexicon.configs.agentNamesBlacklist,
# /root/reference/lib/tms_serialize_objects_agents.js:211).
NAME_BLACKLIST = StructType([StructField("name", StringType(), False)])

# ---------------------------------------------------------------------------
# Intermediate: one row per detected agent mention.
# ---------------------------------------------------------------------------
MENTIONS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("mention_id", LongType(), False),  # deterministic hash
        StructField("name_raw", StringType(), False),
        StructField("name_norm", StringType(), False),  # blocking key (X1)
        StructField("viaf_hint", StringType(), True),  # markup-provided id, if any
        StructField("lc_hint", StringType(), True),  # LCNAF id from URI markup (P3)
        StructField("source", StringType(), True),
        StructField("source_priority", IntegerType(), True),
    ]
)

# altForms entry — /root/reference/lib/utils_shadowcat.js:247.
ALT_FORM = StructType(
    [
        StructField("name", StringType(), True),
        StructField("type", StringType(), True),
        StructField("source", StringType(), True),
        StructField("id", StringType(), True),
        StructField("poverlap", DoubleType(), True),
        StructField("fuzzy", DoubleType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Output: canonical agents lookup table — shape of `registry.agents`
# (/root/reference/lib/utils_shadowcat.js:189-204, merge-lineage fields
# /root/reference/lib/utils.js:290-297).
# ---------------------------------------------------------------------------
AGENTS = StructType(
    [
        StructField("registry_id", LongType(), True),  # set by enumerate pass
        StructField("entity_key", StringType(), False),
        StructField("viaf", ArrayType(StringType()), True),
        StructField("is_controlled", BooleanType(), False),
        StructField("name_controlled", StringType(), True),
        StructField("wikidata", StringType(), True),
        StructField("lc_id", StringType(), True),
        StructField("ulan", LongType(), True),
        StructField("dbpedia", StringType(), True),
        StructField("birth", StringType(), True),
        StructField("death", StringType(), True),
        StructField("type", StringType(), True),  # 'personal' | 'corporate'
        StructField("name_normalized", ArrayType(StringType()), True),
        StructField("alt_forms", ArrayType(ALT_FORM), True),
        StructField("fast", ArrayType(LongType()), True),
        StructField("viaf_merged", ArrayType(StringType()), True),
        # merge lineage: (source, id) per merged-in member — the shape
        # the reference appends at /root/reference/lib/utils.js:290-297
        StructField(
            "merge_source",
            ArrayType(
                StructType(
                    [
                        StructField("source", StringType(), True),
                        StructField("id", StringType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)

TRIPLES = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
    ]
)

# One lineage row per written stage, enabling resume-from-checkpoint
# (SURVEY.md §4.4 — replaces the reference's IPC counters + error log,
# /root/reference/lib/shadowcat_serialize_viaf_agents.js:63-77).
# Both values ride the stage's write as one observe(); `_metrics` is
# partitioned by `stage` (one `stage=<name>/part-0.parquet` each, written
# by the driver), so a recomputed stage replaces its row.
LINEAGE_METRICS = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("stage", StringType(), False),
        StructField("row_count", LongType(), False),
        StructField("key_checksum", LongType(), True),  # bit_xor(xxhash64(key))
    ]
)
