"""Snapshot-diff (CDC-style delta) between two crawl materializations.

A web-scale pipeline re-materializes its corpus (or its triple/lookup
tables) per crawl; downstream consumers want the DELTA — which logical
records appeared, disappeared, or changed content — not a full rescan.
The reference handles incrementality by SKIPPING already-processed
records (serialization-agents lib/prepare.js truncates + re-reads, and
its bulk upsert replaces whole documents keyed by viaf/name —
lib/serialize.js); it never emits an explicit diff. At 100 TB an
explicit keyed diff is the cheaper contract: ship `added/removed/
changed` rows to consumers instead of the whole table.

Design (Spark-first):
- ONE full-outer join on the snapshot key classifies all three change
  kinds in a single pass. The obvious alternative — two `EXCEPT`s plus
  an inner join for `changed` — scans both snapshots three times and
  shuffles twice more, and `EXCEPT` compares WHOLE rows so it cannot
  distinguish `changed` from `removed`+`added`.
- The key is the snapshot's primary key (unique), so the shuffle is
  skew-free; with both snapshots stored bucketed by the key
  (sources/bucketed.py) the join plans with ZERO Exchange — the diff
  becomes a local zipper merge per bucket.
- Content comparison goes through a fingerprint column (md5 here, the
  oracle-replayable choice; xxhash64 at production scale, same contract
  as operators/dedup.py `hash_fn`) so wide `html`/`text` payloads never
  ride the shuffle — project the key + fingerprint before joining.
- `unchanged` rows are dropped BEFORE any downstream consumer sees the
  frame; at crawl cadence they are ~99% of the table, so the diff's
  output is tiny relative to its input and safely broadcastable into
  maintenance joins (streaming/incremental.py's fold takes exactly this
  shape as its batch input).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHANGE_KINDS = ("added", "removed", "changed")


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Keyed diff of two snapshot frames.

    Both inputs must carry `doc_id` (unique per snapshot) and
    `fingerprint` (content hash). Returns (doc_id, change,
    old_fingerprint, new_fingerprint) with change in CHANGE_KINDS;
    unchanged keys are filtered out before the result leaves the join.
    """
    o = old.select(
        F.col("doc_id").alias("k"),
        F.col("fingerprint").alias("old_fingerprint"),
    )
    n = new.select(
        F.col("doc_id").alias("k"),
        F.col("fingerprint").alias("new_fingerprint"),
    )
    joined = o.join(n, on="k", how="full")
    return (
        joined.withColumn(
            "change",
            F.when(F.col("old_fingerprint").isNull(), F.lit("added"))
            .when(F.col("new_fingerprint").isNull(), F.lit("removed"))
            .when(
                F.col("old_fingerprint") != F.col("new_fingerprint"),
                F.lit("changed"),
            ),
        )
        .where(F.col("change").isNotNull())
        .select(
            F.col("k").alias("doc_id"),
            "change",
            "old_fingerprint",
            "new_fingerprint",
        )
    )
