"""snapshot_diff: keyed CDC classification between two snapshots."""

from __future__ import annotations

from pyspark.sql import functions as F

from serialization_agents_spark.operators.delta import snapshot_diff


def _snap(spark, rows):
    return spark.createDataFrame(rows, "doc_id BIGINT, fingerprint STRING")


def test_snapshot_diff_classifies_all_three_kinds(spark):
    old = _snap(spark, [(1, "aa"), (2, "bb"), (3, "cc"), (4, "dd")])
    new = _snap(spark, [(1, "aa"), (2, "XX"), (4, "dd"), (5, "ee")])
    got = {
        r["doc_id"]: (r["change"], r["old_fingerprint"], r["new_fingerprint"])
        for r in snapshot_diff(old, new).collect()
    }
    # 1 and 4 are unchanged -> absent; 2 changed, 3 removed, 5 added.
    assert got == {
        2: ("changed", "bb", "XX"),
        3: ("removed", "cc", None),
        5: ("added", None, "ee"),
    }


def test_snapshot_diff_empty_old_marks_everything_added(spark):
    old = _snap(spark, [])
    new = _snap(spark, [(7, "zz")])
    rows = snapshot_diff(old, new).collect()
    assert [(r["doc_id"], r["change"]) for r in rows] == [(7, "added")]


def test_snapshot_diff_identical_snapshots_is_empty(spark):
    snap = _snap(spark, [(1, "aa"), (2, "bb")])
    assert snapshot_diff(snap, snap.select("*")).count() == 0


def test_snapshot_diff_projects_before_join(spark):
    """Wide payload columns must not ride the join: the plan's join node
    sees only (key, fingerprint)."""
    old = _snap(spark, [(1, "aa")]).withColumn("html", F.repeat(F.lit("x"), 10))
    new = _snap(spark, [(1, "bb")]).withColumn("html", F.repeat(F.lit("y"), 10))
    plan = snapshot_diff(old, new)._jdf.queryExecution().executedPlan().toString()
    assert "html" not in plan


def test_recrawl_maintenance_via_diff_then_fold(spark):
    """The delta-driven maintenance composition: a re-crawl that only
    ADDS pages is folded into the agents table by feeding ONLY the
    snapshot_diff 'added' rows through the incremental fold — and the
    result equals the batch pipeline over the full second crawl. This is
    the 100 TB re-crawl contract: process the diff, not the corpus."""
    from serialization_agents_spark import synth
    from serialization_agents_spark.operators.extract import with_extracted_text
    from serialization_agents_spark.operators.linking import link_mentions
    from serialization_agents_spark.operators.mentions import detect_mentions
    from serialization_agents_spark.operators.merge import merge_entities
    from serialization_agents_spark.streaming.incremental import (
        incremental_merge_batch,
    )

    def agents_for(pages, authority):
        px = with_extracted_text(pages)
        linked, _ = link_mentions(
            detect_mentions(px, include_subjects=True), authority
        )
        return merge_entities(linked)

    pages2 = synth.synth_pages(spark, n_pages=300, n_auth=80)  # re-crawl
    pages1 = pages2.where(F.xxhash64("url") % 3 != 0)          # first crawl
    authority = synth.synth_authority(spark, n_auth=80)

    fp = F.md5(F.lower(F.hex("html"))).alias("fingerprint")
    key = F.col("url").alias("doc_id")
    diff = snapshot_diff(pages1.select(key, fp), pages2.select(key, fp))
    assert diff.where(F.col("change") != "added").count() == 0
    n_added = diff.count()
    assert 0 < n_added < pages2.count()

    delta_pages = pages2.join(
        diff.where(F.col("change") == "added").select(F.col("doc_id").alias("url")),
        "url",
        "semi",
    )
    assert delta_pages.count() == n_added

    folded = incremental_merge_batch(
        agents_for(pages1, authority), agents_for(delta_pages, authority)
    )
    full = agents_for(pages2, authority)

    f = {r["entity_key"]: r for r in full.collect()}
    g = {r["entity_key"]: r for r in folded.collect()}
    assert set(f) == set(g)
    for k in f:
        assert f[k]["name_controlled"] == g[k]["name_controlled"], k
        assert f[k]["mention_count"] == g[k]["mention_count"], k
        assert sorted(f[k]["viaf"]) == sorted(g[k]["viaf"]), k
