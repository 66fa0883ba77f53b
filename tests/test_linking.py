"""Linking cascade: redirects (J6), viaf-key join incl. cluster ids (J1),
name-block + fuzzy top-1 (J4), blacklist (F6), dead-viaf side output (S11)."""

from __future__ import annotations

from references import fuzzy_score_py
from serialization_agents_spark import schemas, synth
from serialization_agents_spark.functions.normalize import normalize_name_py
from serialization_agents_spark.operators.linking import link_mentions


def _mdf(spark, rows):
    full = [
        (u, abs(hash((u, n, v))) % (2**40), n, normalize_name_py(n), v, None, "web", 1)
        for (u, n, v) in rows
    ]
    return spark.createDataFrame(full, schemas.MENTIONS)


def test_redirect_and_dead_viaf(spark):
    authority = synth.synth_authority(spark, n_auth=5)
    redirects = synth.synth_redirects(spark)
    mentions = _mdf(
        spark,
        [
            # golden redirect 264030008 -> 137799745 (test/viaf.test.js:8-20)
            ("u://1", "Somebody", "264030008"),
            # golden deleted id 9431627 (test/viaf.test.js:22-30): falls to name path
            ("u://2", "Ghost Person", "9431627"),
        ],
    )
    linked, dead = link_mentions(mentions, authority, redirects)
    rows = {r["url"]: r for r in linked.collect()}
    assert rows["u://1"]["viaf_resolved"] == "137799745"
    assert rows["u://2"]["viaf_resolved"] is None
    assert rows["u://2"]["entity_key"].startswith("noViaf:")
    dead_rows = dead.collect()
    assert [d["dead_viaf"] for d in dead_rows] == ["9431627"]


def test_viaf_cluster_key_join(spark):
    """A hint naming any id inside a cluster's viaf array must match —
    the reference finds on the array field (lib/utils.js:75-77)."""
    authority = synth.synth_authority(spark, n_auth=5)
    # golden Plato row: '288392106' is a non-primary cluster member
    mentions = _mdf(spark, [("u://1", "Plato.", "288392106")])
    linked, _ = link_mentions(mentions, authority)
    row = linked.collect()[0]
    assert row["entity_key"] == "viaf:108159964"


def test_name_block_top1(spark):
    authority = synth.synth_authority(spark, n_auth=50)
    # normalized 'plato' is a blocking key of the golden Plato row
    mentions = _mdf(spark, [("u://1", "PLATO", None)])
    linked, _ = link_mentions(mentions, authority)
    row = linked.collect()[0]
    assert row["entity_key"].startswith("viaf:")
    assert row["fuzzy"] is not None


def _adf(spark, rows):
    """Authority clusters from (viaf_id, lc_term, blocking key): one viaf
    id each, and the key as the only normalized form."""
    full = [
        {"viaf_id": v, "viaf_all": [v], "lc_term": term, "normalized": [key]}
        for v, term, key in rows
    ]
    return spark.createDataFrame(
        [tuple(r.get(f) for f in schemas.AUTHORITY.fieldNames()) for r in full],
        schemas.AUTHORITY,
    )


def test_name_block_winner_is_fuzzy_argmax_first_wins(spark):
    """A three-candidate block links to the fuzzy_score_py argmax, and a
    tied block to its lowest viaf_id (the reference's `score > bestScore`
    first-wins rule, lib/utils.js:53-61), whatever the authority's row
    order."""
    block = [("303", "Smith, John"), ("301", "Smith, J. (John)"), ("302", "John Smith")]
    tied = [("402", "Doe, Jane"), ("401", "Doe, Jane")]
    authority = _adf(
        spark,
        [(v, t, "smith john") for v, t in block] + [(v, t, "doe jane") for v, t in tied],
    )
    mentions = _mdf(spark, [("u://1", "Smith John", None), ("u://2", "Doe Jane", None)])
    linked, _ = link_mentions(mentions, authority)
    rows = {r["url"]: r for r in linked.collect()}

    scores = {v: fuzzy_score_py("smith john", term.lower()) for v, term in block}
    best = max(scores.values())
    (winner,) = [v for v, sc in scores.items() if sc == best]
    assert winner == "303"  # not the first candidate in viaf_id order
    assert rows["u://1"]["entity_key"] == f"viaf:{winner}"
    assert rows["u://1"]["fuzzy"] == best
    assert rows["u://2"]["entity_key"] == "viaf:401"
    assert rows["u://2"]["fuzzy"] == fuzzy_score_py("doe jane", "doe, jane")


def test_non_latin_clusters_do_not_break_linking(spark):
    """孔子 and 老子 both normalize to '', so they share a two-candidate
    block whose target is empty: scoring it must not raise, or every
    mention of the run fails with it."""
    authority = _adf(
        spark,
        [(v, t, normalize_name_py(t)) for v, t in [("501", "孔子"), ("502", "老子"), ("503", "Plato")]],
    )
    mentions = _mdf(spark, [("u://1", "Plato", None)])
    linked, _ = link_mentions(mentions, authority)
    assert [r["entity_key"] for r in linked.collect()] == ["viaf:503"]


def test_unknown_name_gets_deterministic_noviaf_key(spark):
    authority = synth.synth_authority(spark, n_auth=5)
    mentions = _mdf(
        spark, [("u://1", "Zzyzx Nobody", None), ("u://2", "Zzyzx Nobody", None)]
    )
    linked, _ = link_mentions(mentions, authority)
    keys = {r["entity_key"] for r in linked.collect()}
    assert len(keys) == 1  # same name, same key, regardless of url
    import hashlib

    want = "noViaf:" + hashlib.md5(b"zzyzx nobody").hexdigest()[:16]
    assert keys == {want}


def test_blacklist_anti_join(spark):
    authority = synth.synth_authority(spark, n_auth=5)
    blacklist = synth.synth_blacklist(spark)
    mentions = _mdf(spark, [("u://1", "Unknown", None), ("u://2", "Plato.", None)])
    linked, _ = link_mentions(mentions, authority, blacklist=blacklist)
    names = [r["name_raw"] for r in linked.collect()]
    assert names == ["Plato."]
