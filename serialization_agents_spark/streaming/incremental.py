"""Incremental KG maintenance: fold batches of new pages into a
persisted agents table.

Why this is correct without reprocessing history: the batch engine
replaced the reference's ORDER-DEPENDENT upserts with a commutative,
associative merge algebra (operators/merge.py, SURVEY.md §4.3). A
commutative fold can be applied incrementally: for each batch of new
pages (the kg_incremental_fold query runs this sequence),

    1. run the batch pipeline through its agents stage over the new
       pages (`run_pipeline(until="agents", cache=False)`): detect + link
       their mentions (dimension joins only) and merge them into
       per-entity partial rows (the same salted aggregation),
    2. fold partials into the persisted agents table keyed by entity_key
       — the same second-phase aggregation the batch job uses between
       salt buckets, so batch(all) == fold(batches) by construction.

The fold is a BUCKETED partial rewrite (`fold_batch_into_agents`): the
agents table is hash-partitioned on entity_key and each micro-batch
rewrites only the buckets its keys touch — O(batch) work per batch, not
O(|agents|) — with a persisted last-batch marker + batch-keyed staging
for replay safety. Canonicalization (CC) and
enumeration remain periodic batch jobs over the maintained agents
table — exactly the reference's split between continuous serializers
and the final enumerate pass (/root/reference/README.md:22-46).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serialization_agents_spark.operators.merge import argmin_by, capped_union

# agents-table layout: `bucket=` partitions of pmod(xxhash64(entity_key),
# N_BUCKETS) — fixed, or existing tables stop being readable
N_BUCKETS = 64

# columns folded as sets / counters / priority-coalesced scalars
_SET_COLS = ["viaf", "name_normalized", "alt_forms", "fast", "viaf_merged", "merge_source"]
# name_controlled is NOT in this list: it folds through the carried
# (name_pref_rank, value) min — the same lcTerm > viafTerm > local-name
# priority the batch merge uses — so batch(all) == fold(batches) holds
# even for noViaf entities whose normalized name has several raw
# spellings (existing-wins would make the result ingestion-order
# dependent).
_SCALAR_COLS = [
    "wikidata", "lc_id", "ulan", "dbpedia", "birth", "death", "type",
]


def incremental_merge_batch(
    existing: DataFrame | None, batch_agents: DataFrame
) -> DataFrame:
    """Fold one micro-batch of per-entity partial rows into the current
    agents table. Pure DataFrame function — unit-testable without any
    streaming runtime.

    Fold rules mirror `mergeAgentOnNameConflict` + the priority algebra
    (/root/reference/lib/utils.js:274-323): arrays union, scalars keep the
    higher-priority side (existing wins at equal priority, matching the
    reference's existing-beats-new rule, lib/utils.js:307-313), counters add.
    """
    if existing is None:
        return batch_agents
    cols = batch_agents.columns
    tagged_old = existing.select(*cols).withColumn("_gen", F.lit(0))
    tagged_new = batch_agents.withColumn("_gen", F.lit(1))
    both = tagged_old.unionByName(tagged_new)

    prio = F.struct(
        F.col("_gen").alias("g"),
        F.col("source_priority").alias("sp"),
    )

    name_pref = F.min(
        F.when(
            F.col("name_controlled").isNotNull(),
            F.struct(
                F.coalesce("name_pref_rank", F.lit(3)).alias("p"),
                F.col("name_controlled").alias("v"),
            ),
        )
    )

    agg = both.groupBy("entity_key").agg(
        F.first("registry_id", ignorenulls=True).alias("registry_id"),
        F.max("is_controlled").alias("is_controlled"),
        name_pref["v"].alias("name_controlled"),
        name_pref["p"].alias("name_pref_rank"),
        # primary_source folds through the SAME (source_priority, source)
        # lexicographic argmin the batch merge computes — combining partial
        # argmins lexicographically IS the global argmin, so batch == fold.
        argmin_by(F.col("source_priority"), F.col("primary_source")).alias("primary_source"),
        *[argmin_by(prio, F.col(c)).alias(c) for c in _SCALAR_COLS],
        *[capped_union(c, 256).alias(c) for c in _SET_COLS],
        F.sum("mention_count").alias("mention_count"),
        F.min("source_priority").alias("source_priority"),
    )
    return agg.select(*cols)


def _commit_batch_id(agents_dir: str, batch_id: int) -> None:
    """Persist the replay marker with an atomic rename."""
    tmp = os.path.join(agents_dir, "_last_batch.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(batch_id))
    os.replace(tmp, os.path.join(agents_dir, "_last_batch"))


def fold_batch_into_agents(
    spark: SparkSession,
    agents_dir: str,
    batch_agents: DataFrame,
    batch_id: int,
) -> bool:
    """Fold one micro-batch into the bucket-partitioned agents table.

    Scale + exactly-once design (SURVEY.md §4.3/§4.4):

    - the agents table is hash-partitioned into N_BUCKETS `bucket=`
      directories on entity_key; a micro-batch touches only the buckets
      its keys land in, so the per-batch fold reads/rewrites
      O(|batch| / |agents| * N_BUCKETS) of the table, not all of it;
    - replay guard: the last applied batch id is persisted next to the
      table (`_last_batch`); a replayed batch after a crash
      short-circuits instead of double-folding mention counts (parquet
      overwrite has no sink commit log of its own);
    - crash-consistent staging: the folded buckets are staged under a
      batch-id-keyed location (`<agents_dir>.staging/b<id>`) BEFORE the
      swap. A replay that finds the staging complete re-runs only the
      (idempotent) swap + marker; it never refolds from a half-swapped
      table. Staging is dropped after the marker commits.

    The marker rename and the dynamic-partition-overwrite swap are atomic
    only on POSIX filesystems; object stores need a table format whose
    commit is the transaction.

    Returns True if the batch was applied, False if skipped as replayed.
    """
    marker = os.path.join(agents_dir, "_last_batch")
    if os.path.exists(marker):
        with open(marker) as fh:
            if batch_id <= int(fh.read().strip()):
                return False  # replayed batch: already folded

    bucket = F.pmod(F.xxhash64("entity_key"), F.lit(N_BUCKETS)).cast("int")
    staging_root = agents_dir + ".staging"
    staging = os.path.join(staging_root, f"b{batch_id}")
    if not os.path.exists(os.path.join(staging, "_SUCCESS")):
        current = None
        # dynamic partition overwrite leaves NO root _SUCCESS; the table
        # exists iff bucket= partition dirs do
        if os.path.isdir(agents_dir) and any(
            e.startswith("bucket=") for e in os.listdir(agents_dir)
        ):
            touched = [
                r[0] for r in batch_agents.select(bucket).distinct().collect()
            ]
            # partition-pruned read: only the buckets this batch touches
            current = (
                spark.read.parquet(agents_dir)
                .where(F.col("bucket").isin(touched))
                .drop("bucket")
            )
        folded = incremental_merge_batch(current, batch_agents)
        folded.withColumn("bucket", bucket).write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(staging)

    # swap: dynamic partition overwrite replaces ONLY the staged buckets
    (
        spark.read.parquet(staging)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(agents_dir)
    )
    _commit_batch_id(agents_dir, batch_id)
    shutil.rmtree(staging_root, ignore_errors=True)
    return True
