"""Incremental fold: batch(all pages) == fold(page batches), bucketed
partial rewrites, replay safety and the fold's tie-break rules."""

from __future__ import annotations

from pyspark.sql import functions as F

from serialization_agents_spark import synth
from serialization_agents_spark.operators.extract import with_extracted_text
from serialization_agents_spark.operators.linking import link_mentions
from serialization_agents_spark.operators.mentions import detect_mentions
from serialization_agents_spark.operators.merge import merge_entities
from serialization_agents_spark.streaming.incremental import (
    incremental_merge_batch,
)


def _agents_for(spark, pages, authority):
    # include_subjects=True matches run_pipeline, which both the batch
    # build and the incremental fold run — the reference must scan the
    # same span kinds.
    px = with_extracted_text(pages)
    linked, _ = link_mentions(
        detect_mentions(px, include_subjects=True), authority
    )
    return merge_entities(linked)


def test_incremental_fold_equals_batch(spark):
    pages = synth.synth_pages(spark, n_pages=300, n_auth=80)
    authority = synth.synth_authority(spark, n_auth=80)
    full = _agents_for(spark, pages, authority)

    half1 = pages.where(F.xxhash64("url") % 2 == 0)
    half2 = pages.where(F.xxhash64("url") % 2 != 0)
    folded = incremental_merge_batch(
        _agents_for(spark, half1, authority), _agents_for(spark, half2, authority)
    )

    f = {r["entity_key"]: r for r in full.collect()}
    g = {r["entity_key"]: r for r in folded.collect()}
    assert set(f) == set(g)
    for k in f:
        assert f[k]["name_controlled"] == g[k]["name_controlled"], k
        assert f[k]["mention_count"] == g[k]["mention_count"], k
        assert sorted(f[k]["viaf"]) == sorted(g[k]["viaf"]), k
        assert sorted(f[k]["name_normalized"]) == sorted(g[k]["name_normalized"]), k


def test_bucketed_fold_touches_only_batch_buckets(spark, tmp_path):
    """The per-batch fold must rewrite ONLY the buckets containing batch
    keys (the scale contract) and skip replayed batch ids (the
    exactly-once contract)."""
    import os

    from serialization_agents_spark.streaming.incremental import (
        fold_batch_into_agents,
    )

    pages = synth.synth_pages(spark, n_pages=200, n_auth=50)
    authority = synth.synth_authority(spark, n_auth=50)
    agents_dir = str(tmp_path / "agents_bucketed")

    half1 = pages.where(F.xxhash64("url") % 2 == 0)
    half2 = pages.where(F.xxhash64("url") % 2 != 0)
    assert fold_batch_into_agents(spark, agents_dir, _agents_for(spark, half1, authority), 0)

    # snapshot per-bucket file listings after batch 0
    def bucket_files():
        out = {}
        for d in os.listdir(agents_dir):
            if d.startswith("bucket="):
                p = os.path.join(agents_dir, d)
                out[d] = sorted(
                    (f, os.path.getmtime(os.path.join(p, f)))
                    for f in os.listdir(p)
                    if f.endswith(".parquet")
                )
        return out

    before = bucket_files()

    # batch 1 touches only a couple of entities -> a few buckets
    # (deterministic filter: limit() picks different rows per job)
    tiny = pages.where(F.pmod(F.xxhash64("url"), F.lit(37)) == 0)
    batch1 = _agents_for(spark, tiny, authority)
    touched = {
        r[0]
        for r in batch1.selectExpr(
            "pmod(xxhash64(entity_key), 64) AS b"
        ).distinct().collect()
    }
    assert fold_batch_into_agents(spark, agents_dir, batch1, 1)
    after = bucket_files()

    for d, files in before.items():
        b = int(d.split("=")[1])
        if b not in touched:
            assert after[d] == files, f"untouched {d} was rewritten"
    # replay of batch 1 must be skipped (no double-fold)
    count_before = spark.read.parquet(agents_dir).count()
    mention_sum = spark.read.parquet(agents_dir).agg(F.sum("mention_count")).first()[0]
    assert not fold_batch_into_agents(spark, agents_dir, batch1, 1)
    assert spark.read.parquet(agents_dir).count() == count_before
    assert (
        spark.read.parquet(agents_dir).agg(F.sum("mention_count")).first()[0]
        == mention_sum
    )

    # folded table == batch-merge of everything folded so far
    want = incremental_merge_batch(
        _agents_for(spark, half1, authority), batch1
    )
    got = spark.read.parquet(agents_dir).drop("bucket")
    w = {r["entity_key"]: r["mention_count"] for r in want.collect()}
    g = {r["entity_key"]: r["mention_count"] for r in got.collect()}
    assert w == g


def test_fold_replay_after_crash_between_swap_and_marker(
    spark, tmp_path, monkeypatch
):
    """A crash after the swap but before the marker commits leaves the
    swapped buckets AND the complete staging behind; the replay of the
    same batch id must re-swap the staged rows (not refold them onto the
    already-swapped table), commit the marker and drop the staging."""
    import os

    import pytest

    from serialization_agents_spark.streaming import incremental

    pages = synth.synth_pages(spark, n_pages=200, n_auth=50)
    authority = synth.synth_authority(spark, n_auth=50)
    agents_dir = str(tmp_path / "agents")
    half1 = pages.where(F.xxhash64("url") % 2 == 0)
    half2 = pages.where(F.xxhash64("url") % 2 != 0)
    batch0 = _agents_for(spark, half1, authority)
    batch1 = _agents_for(spark, half2, authority)
    assert incremental.fold_batch_into_agents(spark, agents_dir, batch0, 0)

    commit = incremental._commit_batch_id

    def crash_once(agents_dir, batch_id):
        monkeypatch.setattr(incremental, "_commit_batch_id", commit)
        raise OSError("crash before the marker commits")

    monkeypatch.setattr(incremental, "_commit_batch_id", crash_once)
    with pytest.raises(OSError, match="crash before"):
        incremental.fold_batch_into_agents(spark, agents_dir, batch1, 1)
    assert os.path.exists(os.path.join(agents_dir + ".staging", "b1", "_SUCCESS"))

    assert incremental.fold_batch_into_agents(spark, agents_dir, batch1, 1)
    want = {r["entity_key"]: r["mention_count"]
            for r in incremental_merge_batch(batch0, batch1).collect()}
    got = {r["entity_key"]: r["mention_count"]
           for r in spark.read.parquet(agents_dir).collect()}
    assert got == want
    with open(os.path.join(agents_dir, "_last_batch")) as fh:
        assert fh.read().strip() == "1"
    assert not os.path.exists(agents_dir + ".staging")


def _merge_row(entity_key, **over):
    """A full agents-schema row (fold-column superset) with overridable
    fields — the fixture builder for the tie-break test."""
    row = {
        "entity_key": entity_key, "registry_id": None,
        "is_controlled": True, "name_controlled": None,
        "name_pref_rank": None, "primary_source": None,
        "wikidata": None, "lc_id": None, "ulan": None, "dbpedia": None,
        "birth": None, "death": None, "type": None,
        "viaf": [], "name_normalized": [], "alt_forms": [], "fast": [],
        "viaf_merged": [], "merge_source": [],
        "mention_count": 1, "source_priority": 1,
    }
    row.update(over)
    return row


_MERGE_SCHEMA = (
    "entity_key string, registry_id long, is_controlled boolean, "
    "name_controlled string, name_pref_rank int, primary_source string, "
    "wikidata string, lc_id string, ulan long, dbpedia string, "
    "birth string, death string, type string, "
    "viaf array<string>, name_normalized array<string>, "
    "alt_forms array<string>, fast array<long>, viaf_merged array<string>, "
    "merge_source array<struct<source:string,id:string>>, "
    "mention_count long, source_priority int"
)


def test_fold_tie_breaks_and_null_arrays(spark):
    """At EQUAL rank the fold keeps the lexicographically smaller value
    (min over (rank, value) structs) — keeping either side at a tie would
    make the fold ingestion-order dependent; and a NULL set column must
    not wipe the other side (concat(NULL, x) is NULL). Pinned on
    engineered ties, in both fold orders."""
    t_rows = [
        # equal name_pref_rank, t holds the LARGER name -> s must win
        _merge_row("e1", name_controlled="Beta", name_pref_rank=1),
        # equal source_priority, t holds larger primary_source
        _merge_row("e2", primary_source="srcB", source_priority=2),
        # NULL array on one side
        _merge_row("e3", viaf=None, name_normalized=["x"]),
        # one-sided row: must pass through untouched (rank explicit —
        # merge_entities always emits a rank alongside a name)
        _merge_row("e4", name_controlled="Solo", name_pref_rank=3),
    ]
    s_rows = [
        _merge_row("e1", name_controlled="Alpha", name_pref_rank=1),
        _merge_row("e2", primary_source="srcA", source_priority=2),
        _merge_row("e3", viaf=["42"], name_normalized=None),
        # row only on the other side
        _merge_row("e5", name_controlled="New", name_pref_rank=3),
    ]
    t = spark.createDataFrame(t_rows, _MERGE_SCHEMA)
    s = spark.createDataFrame(s_rows, _MERGE_SCHEMA)

    for a, b in ((t, s), (s, t)):
        got = {r["entity_key"]: r.asDict()
               for r in incremental_merge_batch(a, b).collect()}
        assert got["e1"]["name_controlled"] == "Alpha"
        assert got["e2"]["primary_source"] == "srcA"
        assert got["e3"]["viaf"] == ["42"]
        assert got["e3"]["name_normalized"] == ["x"]
        assert got["e4"]["name_controlled"] == "Solo"
        assert got["e5"]["name_controlled"] == "New"
