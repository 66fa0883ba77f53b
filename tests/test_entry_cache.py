"""kg_cache_clear must leave NO pipeline storage behind — including the
localCheckpoint blocks (CC loop, enumerate offsets, block-argmax
dimension) that `.unpersist()` cannot touch and that previously
accumulated per corpus in a long-lived session (VERDICT round-4 wrong
#2). The hook's ContextCleaner path (wait_cleanup_s) is the fix under
test."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")


def _cached_rdd_ids(spark) -> set[int]:
    return {
        info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def test_kg_cache_clear_drains_checkpoint_blocks(spark):
    import __spark_entry__ as entrymod
    from serialization_agents_spark.queries.common import kg_canonical

    before = _cached_rdd_ids(spark)

    # Run the memoized pipeline (persists + several localCheckpoints).
    sf = "/root/testdata/sf0.001"
    res = kg_canonical(spark, sf)
    assert res.canonical.count() > 0
    during = _cached_rdd_ids(spark)
    assert during - before, "pipeline should have pinned storage"

    # The caller's own frame references must be dropped BEFORE the
    # waiting clear — while they're alive the checkpoint RDDs are
    # legitimately unreclaimable (same contract as any between-corpora
    # clear in a long-lived host).
    released = entrymod.kg_cache_clear()
    assert released >= 1
    del res
    entrymod.kg_cache_clear(wait_cleanup_s=30.0)

    after = _cached_rdd_ids(spark)
    leaked = after - before
    assert not leaked, f"pipeline storage leaked after clear: {leaked}"


def test_every_oracle_key_has_a_query():
    """Driver contract: an oracle_sql row without a queries() entry is
    dead SQL the gate never runs — catch the drift at pytest time."""
    import __spark_entry__ as entry

    q = set(entry.queries())
    o = set(entry.oracle_sql())
    assert o <= q, f"oracles without queries: {sorted(o - q)}"
    # and the intentionally-weaker rows-only set stays small and known
    # (xxhash64 signatures are not replayable in DuckDB by design)
    assert sorted(q - o) == [
        "dedup_minhash_pairs_prod", "dedup_winnow_pairs_prod"
    ]
