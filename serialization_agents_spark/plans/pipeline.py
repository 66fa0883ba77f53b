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
CC = one collect + a driver union-find below its broadcast gate, 2
shuffles x iterations over the (small) entity set above it; enumerate = 1
range shuffle of entities; triples narrow + 1 join for merged-key remap.
The 100 TB fact table is shuffled exactly ONCE (the merge).

One stage rule: a stage is declared only when this run computes it.
When `out_dir` is given, a stage whose parquet `_SUCCESS` exists is READ
BACK and its operator is never called — a resume runs none of linking's,
CC's or enumerate's driver actions for a finished stage; any other stage
is built and written with its lineage row. The `_errors` side table follows
the same rule. This is the Spark translation of the reference's
re-queue-on-restart worker protocol
(/root/reference/lib/shadowcat_serialize_viaf_agents.js:78-84,128-137).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from serialization_agents_spark.operators.canonicalize import canonicalize_agents
from serialization_agents_spark.operators.enumerate_ids import enumerate_ids
from serialization_agents_spark.operators.extract import with_extracted_text
from serialization_agents_spark.operators.linking import (
    drop_blacklisted,
    link_mentions,
    resolve_redirects,
)
from serialization_agents_spark.operators.mentions import detect_mentions
from serialization_agents_spark.operators.merge import merge_entities, score_alt_forms
from serialization_agents_spark.operators.triples import materialize_triples
from serialization_agents_spark.schemas import LINEAGE_METRICS


_STAGE_ORDER = ("extract", "mentions", "linked", "agents", "canonical", "triples")
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class PipelineResult:
    # stages past a `run_pipeline(until=...)` cutoff are None
    pages: DataFrame | None = None
    mentions: DataFrame | None = None
    linked: DataFrame | None = None
    agents: DataFrame | None = None
    canonical: DataFrame | None = None
    triples: DataFrame | None = None
    errors: DataFrame | None = None  # S15 audit side table
    cc_iterations: int = 0  # CC iterations THIS run performed
    stages_resumed: list[str] = field(default_factory=list)
    stages_computed: list[str] = field(default_factory=list)
    # A7/X13 — per-stage observe() counters, `row_count` and
    # `key_checksum` (the Spark-native analogue of the reference's IPC
    # progress counters,
    # /root/reference/lib/shadowcat_serialize_viaf_agents.js:63-77).
    # Filled for COMPUTED stages once the stage's write action runs;
    # resumed stages are read back, not re-counted.
    observations: dict[str, Observation] = field(default_factory=dict)


# `stage` is the partition directory's name, not a column in the file
_LINEAGE_ARROW = to_arrow_schema(
    StructType([f for f in LINEAGE_METRICS.fields if f.name != "stage"])
)


def _write_lineage_row(stage_dir: str, row: dict) -> None:
    """Write a stage's one LINEAGE_METRICS row as `<stage_dir>/part-0.parquet`
    from the driver, with no Spark job: a hidden temp file renamed into
    place (atomic on POSIX, like the `_SUCCESS` rule), then every other
    file in the directory removed — only an out_dir whose `_metrics` was
    written by Spark has any."""
    os.makedirs(stage_dir, exist_ok=True)
    tmp = os.path.join(stage_dir, ".part-0.parquet.tmp")
    pq.write_table(pa.Table.from_pylist([row], schema=_LINEAGE_ARROW), tmp)
    os.replace(tmp, os.path.join(stage_dir, "part-0.parquet"))
    for f in os.listdir(stage_dir):
        if f != "part-0.parquet":
            os.remove(os.path.join(stage_dir, f))


@contextmanager
def _job_group(spark: SparkSession, group: str):
    """Label every job started inside with `group`; restore the caller's
    group and description afterwards."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _JOB_PROPS}
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)


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
    until: str = "triples",
) -> PipelineResult:
    """`until`: stop after the named stage ("extract", "mentions",
    "linked", "agents", "canonical", or "triples", the default) —
    later-stage frames come back None and, crucially, their plans are
    never DECLARED, so Spark schedules nothing for them. A run that needs
    only the agents stage (an incremental-fold batch, or an `out_dir` run
    a later call resumes) does not pay the CC loop, triple explode, and
    error audit of the full flagship run.

    `cache` (in-memory runs only): pin the frames later stages read more
    than once — the authority, `linked`, the agents, the canonical rows.
    `cache=False` pins nothing, for callers that use each frame once
    (a streaming micro-batch)."""
    if until not in _STAGE_ORDER:
        raise ValueError(f"until must be one of {_STAGE_ORDER}, got {until!r}")
    pin = cache and out_dir is None
    res = PipelineResult()

    def stage(name: str, key: tuple[str, ...], build: Callable[[], DataFrame]) -> DataFrame:
        """The one read-back-or-build rule. A stage complete under
        `out_dir` is read back and `build` is never called. Otherwise
        `build()` runs under job group `<run_id>:<name>`; in memory the
        frames later stages re-read are pinned (`linked` feeds both the
        merge and the provenance triples), with `out_dir` the stage is
        written with an `observe()` counter riding the write action (A7):
        `row_count` and the order-independent `key_checksum =
        bit_xor(xxhash64(*key))`. Its one LINEAGE_METRICS row then goes
        to `<out_dir>/_metrics/stage=<name>/part-0.parquet`, written by
        the driver (no Spark job) right after the stage's own write: a
        recomputed stage replaces its row, and a driver killed between
        stages leaves a row for every stage whose `_SUCCESS` exists. An
        empty `key` marks a side table: written, but neither counted nor
        listed."""
        path = os.path.join(out_dir, name) if out_dir is not None else None
        listed = bool(key)
        if path is not None and os.path.exists(os.path.join(path, "_SUCCESS")):
            if listed:
                res.stages_resumed.append(name)
            return spark.read.parquet(path)
        with _job_group(spark, f"{run_id}:{name}"):
            df = build()
            if path is None:
                if pin and name in ("linked", "canonical"):
                    return df.persist()
                if pin and name == "agents":
                    # lazy: canonicalize's own eager checkpoint of the
                    # agents rides this one, and direct agents consumers
                    # read the pinned rows instead of re-running the merge
                    # aggregation. ContextCleaner releases the blocks once
                    # unreferenced.
                    return df.localCheckpoint(eager=False)
                return df
            if not listed:
                df.write.mode("overwrite").parquet(path)
                return spark.read.parquet(path)
            obs = Observation(f"{run_id}:{name}")
            df = df.observe(
                obs,
                F.count(F.lit(1)).alias("row_count"),
                F.bit_xor(F.xxhash64(*key)).alias("key_checksum"),
            )
            df.write.mode("overwrite").parquet(path)
            out = spark.read.parquet(path)
            res.observations[name] = obs
            # get blocks until the listener delivers: read it only now,
            # after the write action has returned
            got = obs.get
            _write_lineage_row(
                os.path.join(out_dir, "_metrics", f"stage={name}"),
                {"run_id": run_id, "row_count": got["row_count"],
                 "key_checksum": got["key_checksum"]},
            )
        res.stages_computed.append(name)
        return out

    # F1-analogue: the reference drops non-research bibs
    # (lib/shadowcat_serialize_viaf_agents.js:161); we optionally gate on lang.
    if lang_filter is not None:
        pages = pages.where(F.col("lang") == lang_filter)

    def build_linked() -> DataFrame:
        # the authority feeds THREE broadcast builds inside link_mentions
        # (viaf keys, lc keys, name-block argmax): pin it once so its scan
        # and normalize chain run once, not once per build
        auth = authority.localCheckpoint(eager=False) if pin else authority
        linked, _dead = link_mentions(res.mentions, auth, redirects, blacklist)
        return linked

    def build_canonical() -> DataFrame:
        canonical, res.cc_iterations = canonicalize_agents(res.agents)
        # enumerate samples and range-checkpoints canonicalize's own eager
        # checkpoint; X2/X3 scoring is a narrow projection after it
        return score_alt_forms(enumerate_ids(canonical))

    def build_errors() -> DataFrame:
        # S15 — per-row failure audit (reference lib/utils.js:238 logError).
        # Dead ids as link_mentions finds them: after the blacklist anti-join.
        from serialization_agents_spark.plans.errors import pipeline_errors

        _resolved, dead = resolve_redirects(
            drop_blacklisted(res.mentions, blacklist), redirects
        )
        return pipeline_errors(res.pages, res.mentions, dead, blacklist)

    res.pages = stage("extract", ("url",), lambda: with_extracted_text(pages))
    if until == "extract":
        return res
    # P4 subjects ride the same single page scan as the agent spans
    res.mentions = stage(
        "mentions", ("mention_id",),
        lambda: detect_mentions(res.pages, include_subjects=True),
    )
    if until == "mentions":
        return res
    res.linked = stage("linked", ("mention_id",), build_linked)
    if until == "linked":
        return res
    res.agents = stage("agents", ("entity_key",), lambda: merge_entities(res.linked))
    if until == "agents":
        return res
    res.canonical = stage("canonical", ("entity_key",), build_canonical)
    if until == "canonical":
        return res
    res.triples = stage(
        "triples", ("subj", "pred", "obj"),
        lambda: materialize_triples(res.canonical, res.linked),
    )
    res.errors = stage("_errors", (), build_errors)
    return res
