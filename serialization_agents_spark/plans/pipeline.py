"""The end-to-end KG-construction pipeline (north_rule stages):

    extract -> mention-detect -> link (candidate joins + fuzzy top-1)
    -> merge (salted two-phase agg) -> canonicalize (iterative CC)
    -> enumerate -> materialize triples

Equivalent reference flow: the 8 serializer scripts + enumerate run in
documented order (/root/reference/README.md:22-46, index.js:9-65); here
it is ONE Spark job graph with explicit priority columns instead of run
order (SURVEY.md §4.3).

Shuffle budget (verify with .explain): extract/mentions are narrow;
linking joins are broadcast; merge = 2 shuffles (salted partial + final);
CC = 2 shuffles x iterations over the (small) entity set; enumerate = 1
range shuffle of entities; triples narrow + 1 join for merged-key remap.
The 100 TB fact table is shuffled exactly ONCE (the merge).

Resume: when `out_dir` is given, each stage writes parquet + lineage and
a completed stage (parquet `_SUCCESS` present) is READ BACK instead of
recomputed on the next run — the Spark translation of the reference's
re-queue-on-restart worker protocol
(/root/reference/lib/shadowcat_serialize_viaf_agents.js:78-84,128-137).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from serialization_agents_spark.operators.canonicalize import canonicalize_agents
from serialization_agents_spark.operators.enumerate_ids import enumerate_ids
from serialization_agents_spark.operators.extract import with_extracted_text
from serialization_agents_spark.operators.linking import link_mentions
from serialization_agents_spark.operators.mentions import detect_mentions
from serialization_agents_spark.operators.merge import merge_entities, score_alt_forms
from serialization_agents_spark.operators.triples import materialize_triples
from serialization_agents_spark.plans.lineage import stage_metrics
from serialization_agents_spark.sources.bucketed import read_bucketed, write_bucketed


_STAGE_ORDER = ("extract", "mentions", "linked", "agents", "canonical", "triples")


@dataclass
class PipelineResult:
    # stages past a `run_pipeline(until=...)` cutoff are None
    pages: DataFrame
    mentions: DataFrame | None = None
    linked: DataFrame | None = None
    dead_viaf: DataFrame | None = None
    agents: DataFrame | None = None
    canonical: DataFrame | None = None
    triples: DataFrame | None = None
    errors: DataFrame | None = None  # S15 audit side table
    cc_iterations: int = 0
    stages_resumed: list[str] = field(default_factory=list)
    stages_computed: list[str] = field(default_factory=list)
    # A7/X13 — per-stage observe() counters (the Spark-native analogue of
    # the reference's IPC progress counters,
    # /root/reference/lib/shadowcat_serialize_viaf_agents.js:63-77).
    # Filled for COMPUTED stages once the stage's write action runs;
    # resumed stages are read back, not re-counted.
    observations: dict[str, Observation] = field(default_factory=dict)


def _stage_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, stage)


def _is_complete(out_dir: str, stage: str) -> bool:
    return os.path.exists(os.path.join(_stage_path(out_dir, stage), "_SUCCESS"))


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    authority: DataFrame,
    redirects: DataFrame | None = None,
    blacklist: DataFrame | None = None,
    lang_filter: str | None = None,
    out_dir: str | None = None,
    run_id: str = "run0",
    cache: bool = True,
    agents_table: str | None = None,
    until: str = "triples",
) -> PipelineResult:
    """`agents_table` (requires out_dir): persist the agents stage as a
    catalog table BUCKETED on entity_key (sources/bucketed.py) instead of
    plain parquet, and hand the catalog-read frame downstream — the
    canonicalize groupBys and every later entity_key join/aggregation
    over the agents table then plan with NO shuffle Exchange on the
    agents side (asserted by tests/test_pipeline.py). At 10^12 entities
    this removes the dominant network cost of the maintenance jobs; on
    resume the bucket spec comes from the metastore (in-session here; a
    real deployment's persistent metastore keeps it across jobs — absent
    that, resume falls back to the unbucketed parquet read).

    `until`: stop after the named stage ("extract", "mentions",
    "linked", "agents", "canonical", or "triples", the default) —
    later-stage frames come back None and, crucially, their plans are
    never DECLARED, so Spark schedules nothing for them. A maintenance
    job that only refreshes the agents table (the common 10^12-scale
    case) must not pay the CC loop, triple explode, and error audit of
    the full flagship run.

    `cache` (in-memory runs only): pin the frames later stages read more
    than once — the authority, `linked`, the agents, the canonical rows.
    `cache=False` pins nothing, for callers that use each frame once
    (a streaming micro-batch)."""
    if until not in _STAGE_ORDER:
        raise ValueError(f"until must be one of {_STAGE_ORDER}, got {until!r}")
    cutoff = _STAGE_ORDER.index(until)
    if agents_table is not None and out_dir is None:
        raise ValueError(
            "agents_table requires out_dir: the bucketed catalog table is "
            "written alongside the stage parquet, so without out_dir the "
            "request would be silently ignored"
        )
    pin = cache and out_dir is None
    resumed: list[str] = []
    computed: list[str] = []
    observations: dict[str, Observation] = {}

    def materialize(df: DataFrame, stage: str, key_col: str) -> DataFrame:
        """Write stage output + lineage if out_dir set; resume if present.

        Without out_dir, fan-out stages are persisted in memory/disk so
        the DAG is computed once, not once per downstream action —
        `linked` feeds both the merge and the provenance triples.

        Every computed stage also carries an `observe()` metric (A7 —
        zero-cost counters piggybacking the stage's own write action, the
        analogue of the reference's per-record progress IPC,
        /root/reference/lib/shadowcat_serialize_viaf_agents.js:63-77).
        """
        if out_dir is None:
            if pin and stage in ("linked", "canonical"):
                return df.persist()
            if pin and stage == "agents":
                # lazy: canonicalize's own eager checkpoint of the agents
                # rides this one, and direct agents consumers read the
                # pinned rows instead of re-running the merge aggregation.
                # ContextCleaner releases the blocks once unreferenced.
                return df.localCheckpoint(eager=False)
            return df
        path = _stage_path(out_dir, stage)
        bucketed = stage == "agents" and agents_table is not None
        if _is_complete(out_dir, stage):
            resumed.append(stage)
            if bucketed and spark.catalog.tableExists(agents_table):
                return read_bucketed(spark, agents_table)
            return spark.read.parquet(path)
        obs = Observation(f"{run_id}:{stage}")
        df = df.observe(obs, F.count(F.lit(1)).alias("row_count"))
        if bucketed:
            write_bucketed(df, agents_table, path, ["entity_key"])
            observations[stage] = obs
            out = read_bucketed(spark, agents_table)
        else:
            df.write.mode("overwrite").parquet(path)
            observations[stage] = obs  # filled: the write action ran above
            out = spark.read.parquet(path)
        stage_metrics(out, run_id, stage, key_col).write.mode("append").parquet(
            os.path.join(out_dir, "_metrics")
        )
        computed.append(stage)
        return out

    # F1-analogue: the reference drops non-research bibs
    # (lib/shadowcat_serialize_viaf_agents.js:161); we optionally gate on lang.
    if lang_filter is not None:
        pages = pages.where(F.col("lang") == lang_filter)

    def _partial(**stages) -> PipelineResult:
        return PipelineResult(
            stages_resumed=resumed, stages_computed=computed,
            observations=observations, **stages,
        )

    pages_x = with_extracted_text(pages)
    pages_x = materialize(pages_x, "extract", "url")
    if cutoff == 0:
        return _partial(pages=pages_x)

    # P4 subjects ride the same single page scan as the agent spans
    mentions = detect_mentions(pages_x, include_subjects=True)
    mentions = materialize(mentions, "mentions", "mention_id")
    if cutoff == 1:
        return _partial(pages=pages_x, mentions=mentions)

    if pin:
        # the authority feeds THREE broadcast builds inside link_mentions
        # (viaf keys, lc keys, name-block argmax): pin it once so its scan
        # and normalize chain run once, not once per build
        authority = authority.localCheckpoint(eager=False)
    linked, dead = link_mentions(mentions, authority, redirects, blacklist)
    linked = materialize(linked, "linked", "mention_id")
    if cutoff == 2:
        return _partial(
            pages=pages_x, mentions=mentions, linked=linked, dead_viaf=dead
        )

    agents = merge_entities(linked)
    agents = materialize(agents, "agents", "entity_key")
    if cutoff == 3:
        return _partial(
            pages=pages_x, mentions=mentions, linked=linked,
            dead_viaf=dead, agents=agents,
        )

    canonical, iters = canonicalize_agents(agents)
    scored = score_alt_forms(canonical)  # X2/X3 on entity-scale rows
    if pin:
        # enumerate_ids reads the scored rows twice (range-bound sample,
        # then its eager checkpoint of the range shuffle)
        scored = scored.persist()
    canonical = enumerate_ids(scored, order_col="entity_key")
    if pin:
        scored.unpersist()  # the eager checkpoint now holds the rows
    canonical = materialize(canonical, "canonical", "entity_key")
    if cutoff == 4:
        return _partial(
            pages=pages_x, mentions=mentions, linked=linked,
            dead_viaf=dead, agents=agents, canonical=canonical,
            cc_iterations=iters,
        )

    triples = materialize_triples(canonical, linked)
    triples = materialize(triples, "triples", "subj")

    # S15 — per-row failure audit (reference lib/utils.js:238 logError)
    from serialization_agents_spark.plans.errors import pipeline_errors

    errors = pipeline_errors(pages_x, mentions, dead, blacklist)
    if out_dir is not None:
        errors.write.mode("overwrite").parquet(os.path.join(out_dir, "_errors"))
        errors = spark.read.parquet(os.path.join(out_dir, "_errors"))

    return PipelineResult(
        pages=pages_x,
        mentions=mentions,
        linked=linked,
        dead_viaf=dead,
        agents=agents,
        canonical=canonical,
        triples=triples,
        errors=errors,
        cc_iterations=iters,
        stages_resumed=resumed,
        stages_computed=computed,
        observations=observations,
    )
