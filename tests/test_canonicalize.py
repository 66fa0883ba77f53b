"""Connected-components canonicalization: exact A5 conflict merge plus
transitive chains the reference only reaches over repeated upserts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from serialization_agents_spark.operators.canonicalize import (
    canonicalize_agents,
    connected_components,
)


def _agents_df(spark, rows):
    """rows: (entity_key, is_controlled, name_controlled, viaf, wikidata
    [, alt-form names])"""
    data = [
        (None, ek, viaf, ctl, name, wd, None, None, None, None, None,
         "personal", [],
         [(n, "personal", "web", None, None, None) for alt in alts for n in alt],
         [], [], [], 1, 1, "web")
        for (ek, ctl, name, viaf, wd, *alts) in rows
    ]
    schema = (
        "registry_id long, entity_key string, viaf array<string>, "
        "is_controlled boolean, name_controlled string, wikidata string, "
        "lc_id string, ulan long, dbpedia string, birth string, death string, "
        "type string, name_normalized array<string>, "
        "alt_forms array<struct<name:string,type:string,source:string,"
        "id:string,poverlap:double,fuzzy:double>>, fast array<long>, "
        "viaf_merged array<string>, "
        "merge_source array<struct<source:string,id:string>>, "
        "mention_count long, source_priority int, primary_source string"
    )
    return spark.createDataFrame(data, schema)


def _ms(row):
    """merge_source as comparable (source, id) tuples."""
    return [tuple(m) for m in row["merge_source"]]


def test_name_conflict_merge(spark):
    """Two viaf entities sharing a controlled name merge (A5,
    lib/utils.js:274-323); scalars backfill, viafMerged tracks the rest."""
    agents = _agents_df(
        spark,
        [
            ("viaf:1", True, "Smith, Jan", ["1"], None),
            ("viaf:2", True, "Smith, Jan", ["2"], "Q42"),
            ("viaf:3", True, "Other, Person", ["3", "0"], None, ["b", "a"]),
        ],
    )
    canonical, iters = canonicalize_agents(agents)
    rows = {r["entity_key"]: r.asDict() for r in canonical.collect()}
    assert len(rows) == 2
    merged = rows["viaf:1"]  # lexicographic min of the component
    assert sorted(merged["viaf"]) == ["1", "2"]
    assert merged["wikidata"] == "Q42"          # backfilled from viaf:2
    assert _ms(merged) == [("web", "viaf:2")]
    assert merged["viaf_merged"] == ["2"]       # ids from merged members
    # the singleton beside a merge leaves as the identity projection
    single = rows["viaf:3"]
    assert single["component"] == "viaf:3"
    assert single["viaf"] == ["0", "3"]
    assert [a["name"] for a in single["alt_forms"]] == ["a", "b"]
    assert single["viaf_merged"] == [] and _ms(single) == []


def test_capped_unions_ignore_row_order(spark):
    """When a union cap binds, the merged row keeps the smallest values
    whichever order its members arrive in, and its viaf ids come out
    sorted (the capped-array invariant of merge_entities)."""
    names = {p: [f"{p}{i:02d}" for i in range(64)] for p in "zya"}
    rows = [
        ("viaf:a", True, "Same, Name", ["9", "5"], None, names["z"]),
        ("viaf:b", True, "Same, Name", ["7"], None, names["y"]),
        ("viaf:c", True, "Same, Name", ["1"], None, names["a"]),
    ]
    smallest = names["a"] + names["y"]  # alt_forms caps at 128
    for order in (rows, rows[::-1]):
        (merged,) = canonicalize_agents(_agents_df(spark, order))[0].collect()
        assert [a["name"] for a in merged["alt_forms"]] == smallest
        assert merged["viaf"] == ["1", "5", "7", "9"]


def test_transitive_chain_via_shared_viaf_ids(spark):
    """A-{v1,v2}, B-{v2,v3}, C-{v3}: one component despite no direct edge
    between A and C — the closure the reference reaches only across runs."""
    agents = _agents_df(
        spark,
        [
            ("viaf:A", True, "Name A", ["v1", "v2"], None),
            ("viaf:B", True, "Name B", ["v2", "v3"], None),
            ("viaf:C", True, "Name C", ["v3"], None),
            ("viaf:D", True, "Name D", ["v9"], None),
        ],
    )
    canonical, iters = canonicalize_agents(agents)
    rows = {r["entity_key"]: r.asDict() for r in canonical.collect()}
    assert set(rows) == {"viaf:A", "viaf:D"}
    assert sorted(rows["viaf:A"]["viaf"]) == ["v1", "v2", "v3"]
    assert _ms(rows["viaf:A"]) == [("web", "viaf:B"), ("web", "viaf:C")]


def test_controlled_beats_uncontrolled_as_canonical(spark):
    agents = _agents_df(
        spark,
        [
            ("noViaf:zz", False, "Smith, Jan", [], None),
            ("viaf:9", True, "Smith, Jan", ["9"], None),
        ],
    )
    canonical, _ = canonicalize_agents(agents)
    rows = canonical.collect()
    assert len(rows) == 1
    assert rows[0]["entity_key"] == "viaf:9"
    assert _ms(rows[0]) == [("web", "noViaf:zz")]


def test_cc_converges_on_long_chain(spark):
    """Pathological 40-link chain must converge within the iteration cap
    and in O(log n) label rounds, not O(n)."""
    edges = []
    for i in range(40):
        edges.append((f"E{i}", f"K{i}"))
        edges.append((f"E{i + 1}", f"K{i}"))
    edges.append(("S", "K_solo"))  # unshared key: its own component
    df = spark.createDataFrame(edges, "entity_key string, merge_key string")
    labels, iters = connected_components(df)
    comps = {r["entity_key"]: r["component"] for r in labels.collect()}
    assert comps.pop("S") == "S"
    assert len(comps) == 41 and set(comps.values()) == {"E0"}
    # hash-to-min + one pointer-jump per round: ~2.5 * log2(n) on a pure
    # chain (observed 14 for n=41), vs O(n)=40 without jumping.
    assert iters <= 16


def test_cc_iteration_cap_fails_loudly(spark, monkeypatch):
    """A cap hit while labels are still changing raises instead of
    returning unconverged components; the cap is read per call. The
    hash-to-min loop runs above the broadcast gate only, so the gate is
    lowered to reach it."""
    from serialization_agents_spark.operators import canonicalize

    monkeypatch.setattr(canonicalize, "BROADCAST_LABELS_MAX", 0)
    edges = spark.createDataFrame(
        [("E0", "K0"), ("E1", "K0"), ("E1", "K1"), ("E2", "K1")],
        "entity_key string, merge_key string",
    )
    labels, iters = connected_components(edges)
    assert iters >= 2 and {r["component"] for r in labels.collect()} == {"E0"}
    monkeypatch.setattr(canonicalize, "MAX_CC_ITERATIONS", 1)
    with pytest.raises(RuntimeError, match="did not converge in 1 iterations"):
        connected_components(edges)


def test_cc_long_chain_above_gate_matches_driver_union_find(spark, monkeypatch):
    """Both sides of the broadcast gate give the same labels: the driver
    union-find (one pass) and the hash-to-min loop (O(log n) rounds) on
    the pathological chain plus a random multigraph with non-ASCII keys,
    whose component must be the lexicographic-min key in Spark's order."""
    import random

    from serialization_agents_spark.operators import canonicalize

    rng = random.Random(5)
    edges = [(f"E{i:02d}", f"K{i}") for i in range(40)]
    edges += [(f"E{i + 1:02d}", f"K{i}") for i in range(40)]
    edges += [
        (f"R{rng.randint(0, 80):02d}" + ("é" if rng.random() < 0.2 else ""),
         f"M{rng.randint(0, 60)}")
        for _ in range(120)
    ]
    df = spark.createDataFrame(edges, "entity_key string, merge_key string")

    driver, driver_iters = connected_components(df)
    monkeypatch.setattr(canonicalize, "BROADCAST_LABELS_MAX", 0)
    looped, loop_iters = connected_components(df)
    assert driver_iters == 1 and 2 <= loop_iters <= 16
    assert sorted(driver.collect()) == sorted(looped.collect())
    comps = {r["entity_key"]: r["component"] for r in driver.collect()}
    assert {comps[f"E{i:02d}"] for i in range(41)} == {"E00"}
    members: dict[str, list[str]] = {}
    for ek, comp in comps.items():
        members.setdefault(comp, []).append(ek)
    for comp, eks in members.items():
        assert comp == min(eks, key=lambda k: k.encode()), eks


def test_zero_collisions_are_identity_singletons(spark):
    """No shared name or VIAF id: CC runs zero iterations and every row
    leaves through the identity projection, its own component."""
    agents = _agents_df(
        spark,
        [
            ("viaf:7", True, "Name A", ["7", "3"], "Q1"),
            ("viaf:8", True, "Name B", ["8"], None),
            ("noViaf:zz", False, "Name C", [], None),
        ],
    )
    canonical, iters = canonicalize_agents(agents)
    assert iters == 0
    rows = {r["entity_key"]: r.asDict() for r in canonical.collect()}
    assert set(rows) == {"viaf:7", "viaf:8", "noViaf:zz"}
    for ek, r in rows.items():
        assert r["component"] == ek
        assert r["merge_source"] == [] and r["viaf_merged"] == []
        assert r["mention_count"] == 1
    assert rows["viaf:7"]["viaf"] == ["3", "7"]  # sorted, not merged
    assert rows["viaf:7"]["wikidata"] == "Q1"
    assert rows["noViaf:zz"]["name_controlled"] == "Name C"
