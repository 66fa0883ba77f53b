"""Token-budget shard packing — turn a curated corpus into training
shards of ~`budget` tokens each, in a deterministic shuffled order.

A pretraining pipeline's last batch step: documents are laid out in a
reproducible pseudo-random order (an md5 key, NOT corpus order — corpus
order correlates with crawl time/domain and would put correlated docs in
the same shard), the running token count is accumulated along that
order, and a document lands in shard `floor(tokens_before / budget)`.
Same shape as the reference's count-split enumeration pass
(/root/reference/lib/enumerate_agents.js:30-37) generalised to weighted
offsets.

Scale design (10^12 docs): a naive `sum() over (order by key)` global
window funnels the whole corpus through ONE task. Instead the weighted
form of operators/enumerate_ids.py's count-split (`running_offsets`):
range-partition by the shuffle key, per-partition weighted cumsum
(parallel windows), and a driver-side O(num_partitions) cumsum of
per-partition token totals that each row reads back by partition id.
The only serial work is the tiny offset fold; everything else is
scan-speed Column arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serialization_agents_spark.functions.text import token_count
from serialization_agents_spark.operators.enumerate_ids import running_offsets


PACK_BUDGET = 4096  # tokens per training shard


def pack_key(id_col):
    """Deterministic shuffle key: md5('pack:' || id) — reproducible
    across runs, partitionings, and executor counts (md5 so a DuckDB
    oracle replays the exact layout; swaps to xxhash64 at production
    scale like the MinHash prod flag)."""
    return F.md5(F.concat(F.lit("pack"), F.lit(":"), id_col.cast("string")))


def shard_pack(docs: DataFrame) -> DataFrame:
    """Assign each doc to a training shard of ~PACK_BUDGET tokens.

    Returns (doc_id, n_tokens, shard_id) where shard_id is
    floor(tokens_before_this_doc / PACK_BUDGET) along the md5-shuffled
    order. Every count is integer, so the assignment is bit-exact and
    independent of partitioning (pinned by tests).
    """
    base = docs.select(
        F.col("doc_id"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        pack_key(F.col("doc_id")).alias("_k"),
    )
    return running_offsets(base, ["_k", "doc_id"], F.col("n_tokens")).select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("_before") / F.lit(PACK_BUDGET)).cast("long").alias("shard_id"),
    )
