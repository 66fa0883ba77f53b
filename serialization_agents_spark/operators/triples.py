"""Triple materialization — (subj, pred, obj) rows from canonical agents
and linked mentions (north_star: foaf types, skos labels, owl:sameAs
cross-links, plus page->agent provenance edges).

The reference stops at the `registry.agents` lookup collection; the
triple surface is our KG materialization of the same content:

- rdf:type        foaf:Person / foaf:Organization   (from `type`)
- skos:prefLabel  name_controlled
- skos:altLabel   every altForms name that differs from the prefLabel
  (/root/reference/lib/utils_shadowcat.js:244-263 accumulates these)
- owl:sameAs      viaf.org / wikidata / dbpedia / id.loc.gov IRIs
  (the ids the reference carries as wikidata/lcId/dbpedia fields,
  lib/utils_shadowcat.js:233-240)
- dct:contributor page-url -> agent edges (provenance; one per mention,
  the analogue of the reference writing the resolved agent back into the
  source bib, lib/utils_shadowcat.js:112-144)

Plan shape: ALL agent-level triples are built as ONE per-row array of
(pred, obj) structs followed by ONE explode — a single narrow stage, no
unions, no per-branch scans, no dedup shuffles (labels are deduped
per-row with array ops). Only the provenance edges add a shuffle (their
dedup is cross-row by nature) plus one merged-key remap join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

AGENT_IRI_PREFIX = "registry:agent/"
# the type of an array of _po() structs
_PO_ARRAY = ArrayType(
    StructType([StructField("pred", StringType()), StructField("obj", StringType())])
)


def agent_iri(col) -> Column:
    return F.concat(F.lit(AGENT_IRI_PREFIX), col)


def _po(pred: str, obj: Column) -> Column:
    return F.struct(F.lit(pred).alias("pred"), obj.alias("obj"))


def materialize_triples(canonical: DataFrame, linked: DataFrame | None = None) -> DataFrame:
    type_obj = (
        F.when(F.col("type") == "corporate", "foaf:Organization")
        .otherwise("foaf:Person")
    )
    # distinct alt names differing from the prefLabel, deduped per-row
    alt_names = F.array_except(
        F.array_distinct(F.transform("alt_forms", lambda a: a["name"])),
        F.array(F.col("name_controlled")),
    )
    entries = F.concat(
        F.array(_po("rdf:type", type_obj)),
        F.when(
            F.col("name_controlled").isNotNull(),
            F.array(_po("skos:prefLabel", F.col("name_controlled"))),
        ).otherwise(F.array().cast(_PO_ARRAY)),
        F.transform(alt_names, lambda n: _po("skos:altLabel", n)),
        F.transform(
            "viaf",
            lambda v: _po("owl:sameAs", F.concat(F.lit("http://viaf.org/viaf/"), v)),
        ),
        F.filter(
            F.array(
                _po(
                    "owl:sameAs",
                    F.concat(F.lit("http://www.wikidata.org/entity/"), F.col("wikidata")),
                ),
                _po(
                    "owl:sameAs",
                    F.concat(F.lit("http://dbpedia.org/resource/"), F.col("dbpedia")),
                ),
                _po(
                    "owl:sameAs",
                    F.concat(
                        F.lit("http://id.loc.gov/authorities/names/"), F.col("lc_id")
                    ),
                ),
            ),
            lambda e: e["obj"].isNotNull(),
        ),
    )
    out = canonical.select(
        agent_iri(F.col("entity_key")).alias("subj"), F.explode(entries).alias("e")
    ).select("subj", F.col("e.pred").alias("pred"), F.col("e.obj").alias("obj"))

    if linked is not None:
        # provenance edges: dedup is inherently cross-row -> one shuffle;
        # merged entity keys remapped to their canonical key via a join
        # the optimizer may broadcast (entity-count-sized dimension).
        remap = canonical.select(
            F.explode(
                F.array_union(
                    F.array(F.col("entity_key")),
                    F.transform("merge_source", lambda m: m["id"]),
                )
            ).alias("member_key"),
            F.col("entity_key").alias("canonical_key"),
        )
        contrib = (
            linked.select(F.col("url").alias("subj"), F.col("entity_key").alias("member_key"))
            .dropDuplicates()
            .join(remap, "member_key", "left")
            .select(
                "subj",
                F.lit("dct:contributor").alias("pred"),
                agent_iri(F.coalesce("canonical_key", "member_key")).alias("obj"),
            )
            .dropDuplicates()
        )
        out = out.unionByName(contrib)
    return out
