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
    """rows: (entity_key, is_controlled, name_controlled, viaf, wikidata)"""
    data = [
        (None, ek, viaf, ctl, name, wd, None, None, None, None, None,
         "personal", [], [], [], [], [], 1, 1, "web")
        for (ek, ctl, name, viaf, wd) in rows
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
            ("viaf:3", True, "Other, Person", ["3"], None),
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
    assert _ms(rows["viaf:3"]) == []


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
    df = spark.createDataFrame(edges, "entity_key string, merge_key string")
    labels, iters = connected_components(df)
    comps = {r["component"] for r in labels.collect()}
    assert len(comps) == 1
    # hash-to-min + one pointer-jump per round: ~2.5 * log2(n) on a pure
    # chain (observed 14 for n=41), vs O(n)=40 without jumping.
    assert iters <= 16


def test_cc_iteration_cap_fails_loudly(spark, monkeypatch):
    """A cap hit while labels are still changing raises instead of
    returning unconverged components; the cap is read per call."""
    from serialization_agents_spark.operators import canonicalize

    edges = spark.createDataFrame(
        [("E0", "K0"), ("E1", "K0"), ("E1", "K1"), ("E2", "K1")],
        "entity_key string, merge_key string",
    )
    labels, iters = connected_components(edges)
    assert iters >= 2 and {r["component"] for r in labels.collect()} == {"E0"}
    monkeypatch.setattr(canonicalize, "MAX_CC_ITERATIONS", 1)
    with pytest.raises(RuntimeError, match="did not converge in 1 iterations"):
        connected_components(edges)


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
