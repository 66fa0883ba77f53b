"""One-call corpus curation: the C4/CCNet-style filter-dedup cascade
(public recipes: Raffel et al. 2020 C4; Wenzek et al. 2020 CCNet; Rae
et al. 2021 Gopher rules) composed from this repo's certified pieces into
a single DataFrame pipeline with a per-document verdict.

Stage order (the order every public pipeline uses, cheapest-first after
dedup so dropped docs never pay later stages):

1. exact dedup      — only the min-doc_id copy of identical text survives
2. language gate    — keep target language (marker-n-gram lang_id)
3. quality gate     — Gopher/C4 heuristic quality score >= threshold
4. repetition gate  — duplicate-3-gram fraction <= threshold
5. chunk dedup      — CCNet keep-first word-window chunk dedup ACROSS the
                      surviving docs (boilerplate shared by survivors is
                      kept once, in the lowest-(doc_id, idx) occurrence)

Every document gets a status: 'kept' or its FIRST failing gate
('duplicate' | 'lang' | 'quality' | 'repetition') — the audit column a
production pipeline writes so drop rates per gate are observable (the
no-silent-caps rule). Chunk stats are 0 for dropped docs.

Scale shape: stages 1-4 are one shuffle (the exact-dedup hash groupBy)
plus pure Column expressions at scan speed; stage 5 adds the chunk-hash
shuffle + doc-id reassembly shuffle of chunk_dedup, computed ONLY over
survivors. Nothing here is per-row Python.

Reference relationship: the reference (nypl-registry/serialization-agents)
has no corpus-curation analogue — this is part of the web-scale
training-data surface grafted onto its agent pipeline (lib/utils.js
filtering patterns are the closest cousin: gate, tag reason, side-output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serialization_agents_spark.functions import text as T
from serialization_agents_spark.operators.dedup import chunk_dedup

MIN_QUALITY = 0.75  # quality gate: keep quality >= this
MAX_DUP3 = 0.01  # repetition gate: keep dup_3gram_fraction <= this


def curate_corpus(docs: DataFrame) -> DataFrame:
    """Run the full cascade; returns one row per input document:
    (doc_id, status, lang_pred, quality, dup_3gram_fraction,
    total_chunks, kept_chunks). The language gate keeps English ('en').
    """
    text = F.col("text")
    rep = T.repetition_features(text)
    feats = docs.select(
        F.col("doc_id"),
        text.alias("__text"),
        T.lang_id(text).alias("lang_pred"),
        T.quality_score(text).alias("quality"),
        F.round(rep["dup_3gram_fraction"], 4).alias("dup_3gram_fraction"),
    )

    # stage 1: exact dedup — keeper is the min id per content hash
    keepers = (
        docs.select(F.md5(text).alias("h"), F.col("doc_id"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keeper_id"))
        .select("keeper_id")
    )
    feats = feats.join(
        keepers.withColumnRenamed("keeper_id", "doc_id").withColumn(
            "__keeper", F.lit(True)
        ),
        "doc_id",
        "left",
    )

    status = (
        F.when(F.col("__keeper").isNull(), F.lit("duplicate"))
        .when(F.col("lang_pred") != F.lit("en"), F.lit("lang"))
        .when(F.col("quality") < F.lit(MIN_QUALITY), F.lit("quality"))
        .when(F.col("dup_3gram_fraction") > F.lit(MAX_DUP3), F.lit("repetition"))
        .otherwise(F.lit("kept"))
    )
    gated = feats.withColumn("status", status)

    # stage 5: chunk dedup across survivors only
    survivors = gated.where(F.col("status") == "kept").select(
        F.col("doc_id"), F.col("__text").alias("text")
    )
    chunk_stats = chunk_dedup(
        survivors,
        # the cascade's earlier exchanges already distribute survivors;
        # the fan-out probe would re-plan the whole cascade subtree
        fan_out=False,
    ).select("doc_id", "total_chunks", "kept_chunks")

    return (
        gated.join(chunk_stats, "doc_id", "left")
        .select(
            F.col("doc_id"),
            "status",
            "lang_pred",
            "quality",
            "dup_3gram_fraction",
            F.coalesce("total_chunks", F.lit(0)).alias("total_chunks"),
            F.coalesce("kept_chunks", F.lit(0)).alias("kept_chunks"),
        )
    )


def quality_gate(docs: DataFrame) -> DataFrame:
    """RELATIVE quality curation: keep a document iff its quality score
    beats its language stratum's median — "top half per language" instead of
    curate_corpus's absolute gates. Absolute thresholds drift as the
    crawl mix shifts; the relative gate self-calibrates per stratum.

    Scale shape: the threshold is ONE aggregate over the corpus
    (percentile per stratum — strata are few, groups are huge, and the
    agg's partial combine flattens them; never a percent_rank window,
    which lands each stratum on one reducer) broadcast-joined back.

    Exactness: quality_score is 4dp-rounded, so integer 1e-4 units are
    exact; the median's interpolation is (a+b)*0.5 on
    integers — exact binary in any engine, no rounding games.
    """
    from serialization_agents_spark.functions.text import quality_score

    scored = docs.select(
        F.col("doc_id"),
        F.col("lang").alias("stratum"),
        F.round(quality_score(F.col("text")) * F.lit(10000.0), 0)
        .cast("long")
        .alias("q_units"),
    )
    thr = scored.groupBy("stratum").agg(
        F.expr("percentile(q_units, 0.5D)").alias("q_thr")
    )
    return (
        scored.join(F.broadcast(thr), "stratum")
        .where(F.col("q_units") > F.col("q_thr"))
        .select("doc_id", "stratum", "q_units", "q_thr")
    )
