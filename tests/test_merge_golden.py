"""Golden merge-algebra tests, ported from the reference's unit fixtures
(/root/reference/test/utils.test.js). Same assertions, expressed over the
link->merge pipeline instead of a mutable document."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from serialization_agents_spark import schemas, synth
from serialization_agents_spark.operators.linking import link_mentions
from serialization_agents_spark.operators.merge import merge_entities


def _mention(url, name, viaf=None, prio=1, source="web"):
    from serialization_agents_spark.functions.normalize import normalize_name_py

    mid = hash((url, name, viaf)) % (2**40)
    return (url, mid, name, normalize_name_py(name), viaf, None, source, prio)


def _mentions_df(spark, rows):
    return spark.createDataFrame(rows, schemas.MENTIONS)


@pytest.fixture(scope="module")
def golden(spark):
    authority = synth.synth_authority(spark, n_auth=10)
    rows = [
        # test/utils.test.js:23-75 — Plato with VIAF data, no existing agent
        _mention("u://bib/10000347", "Plato.", viaf="108159964"),
        # :76-158 — new normalized form appended to existing agent
        _mention("u://bib/10000348", "Coooooool Old Guy.", viaf="108159964"),
        # :163-208 — Andrews (archives, VIAF-backed)
        _mention("u://arch/6287", "Andrews, Ann, 1890-1986", viaf="53706985"),
        # :211-228 — corpname without VIAF -> noViaf key
        _mention("u://arch/4259", "New York (N.Y.). City Planning Commision"),
        # :233-275 — Zawidzka (mms)
        _mention("u://mms/27418", "Zawidzka-Manteuffel, Wanda, 1906-1994", viaf="9096637"),
        # :317-350 — Wehrli (tms, no lcTerm -> viafTerm precedence)
        _mention("u://tms/95", "Wehrli, A. G.", viaf="96139673"),
    ]
    mentions = _mentions_df(spark, rows)
    linked, _dead = link_mentions(mentions, authority)
    agents = merge_entities(linked)
    return {r["entity_key"]: r.asDict(recursive=True) for r in agents.collect()}


def test_plato_merge(golden):
    r = golden["viaf:108159964"]
    assert "288392106" in r["viaf"]                      # viaf array copied
    assert r["type"] == "personal"                       # lowercased
    assert r["ulan"] == 500248317                        # int-cast gettyId
    assert r["death"] == "-347"                          # passthrough verbatim
    assert r["fast"][0] == 46610
    assert r["name_controlled"] == "Plato LC TEST"       # lcTerm precedence
    # :156-157 — the new local form is appended to nameNormalized
    assert "coooooool old guy" in r["name_normalized"]
    # local names recorded as alt forms
    assert any(a["name"] == "Plato." for a in r["alt_forms"])


def test_andrews_merge(golden):
    r = golden["viaf:53706985"]
    assert "53706985" in r["viaf"]
    assert r["type"] == "personal"
    assert r["lc_id"] == "no89014249"
    assert r["death"] == "1986-01-23"
    assert r["fast"][0] == 1492506
    assert r["name_controlled"] == "Andrews, Ann, 1890-1986"
    assert r["ulan"] is None                              # gettyId absent


def test_noviaf_corpname(golden):
    key = [k for k in golden if k.startswith("noViaf:")]
    assert len(key) == 1
    r = golden[key[0]]
    assert r["viaf"] == []
    assert not r["is_controlled"]
    assert r["lc_id"] is None and r["death"] is None
    assert r["fast"] == []
    assert r["name_controlled"] == "New York (N.Y.). City Planning Commision"


def test_zawidzka_merge(golden):
    r = golden["viaf:9096637"]
    assert r["lc_id"] == "n95078597"
    assert r["death"] == "1994-05-04"
    assert r["fast"][0] == 359929
    assert r["name_controlled"] == "Zawidzka-Manteuffel, Wanda, 1906-1994"
    assert r["wikidata"] == "Q7967152"


def test_wehrli_merge(golden):
    r = golden["viaf:96139673"]
    assert "96139673" in r["viaf"]
    assert r["lc_id"] is None
    assert r["death"] == "1960"
    # no lcTerm -> viafTerm wins (lib/utils_tms.js:124-185 precedence)
    assert (
        r["name_controlled"]
        == "Wehrli, A. G. (Swiss photographer, active early 20th century)"
    )
    assert r["ulan"] == 500066483


def test_score_alt_forms_in_place(spark):
    """X2/X3 are filled in place: every row survives (empty and NULL
    arrays too), element order is kept, and each score equals the Python
    reference over the same arguments the JVM walk sees."""
    from references import fuzzy_score_py, percent_overlap_py
    from serialization_agents_spark.functions.normalize import normalize_name_py
    from serialization_agents_spark.operators.merge import score_alt_forms

    def af(name):
        return (name, "personal", "web", None, None, None)

    rows = [
        ("e0", "Plato", []),
        ("e1", "Plato LC TEST", [af("Plato LC TEST")]),
        ("e2", "Andrews, Ann, 1890-1986", [af("Andrews, A."), af("Ánn Andrews")]),
        ("e3", "Plato", None),
    ]
    agents = spark.createDataFrame(
        rows,
        "entity_key string, name_controlled string, alt_forms array<struct<"
        "name:string, type:string, source:string, id:string, "
        "poverlap:double, fuzzy:double>>",
    )
    scored = score_alt_forms(agents)
    assert scored.columns == agents.columns
    got = {r["entity_key"]: r for r in scored.collect()}
    assert set(got) == {"e0", "e1", "e2", "e3"}
    assert got["e0"]["alt_forms"] == [] and got["e3"]["alt_forms"] is None
    assert [(a["poverlap"], a["fuzzy"]) for a in got["e1"]["alt_forms"]] == [(100.0, 1.0)]
    for key, nc, alts in rows[:3]:
        out = got[key]["alt_forms"]
        assert [a["name"] for a in out] == [a[0] for a in alts]  # order kept
        for a in out:
            assert (a["type"], a["source"], a["id"]) == ("personal", "web", None)
            assert a["poverlap"] == percent_overlap_py(a["name"], nc)
            assert a["fuzzy"] == fuzzy_score_py(
                normalize_name_py(nc), normalize_name_py(a["name"])
            )
    # fuzzy_score_expr's cheap-argument contract: the normalize regex runs
    # once for the controlled name and once per alt name, never inlined
    # into the interpreted walk
    plan = scored._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_replace") == 2
