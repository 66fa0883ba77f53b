"""curate_corpus: the one-call C4/CCNet cascade — gate precedence,
exact-dup keeper choice, chunk dedup across survivors only."""

from __future__ import annotations

from serialization_agents_spark.operators.curate import curate_corpus

GOOD = (
    "the report said that it was a good day in the field and the team "
    "found that the data was clean and the work went on in good order"
)


def test_curate_gate_precedence_and_chunk_stage(spark, monkeypatch):
    from serialization_agents_spark.operators import curate

    monkeypatch.setattr(curate, "MIN_QUALITY", 0.5)
    monkeypatch.setattr(curate, "MAX_DUP3", 0.3)
    rows = [
        (0, GOOD),                                  # kept (keeper of the dup pair)
        (1, GOOD),                                  # duplicate of 0
        (2, "der hund ist nicht mit der katze und das ist ein problem von den"),  # lang
        # English-marked ('the') so it passes the lang gate, but long
        # word + heavy punctuation + short -> quality well under 0.5
        (3, "the aaaaaaaaaaaaaaaaaaaa!!!!!!!!!!"),
        (4, ("the cat sat on the mat " * 12).strip()),  # repetition (dup 3-grams)
        (5, GOOD + " extra unique tail words here today"),  # kept, shares chunks w/ 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in curate_corpus(docs).collect()
    }
    assert {k: v["status"] for k, v in out.items()} == {
        0: "kept", 1: "duplicate", 2: "lang", 3: "quality",
        4: "repetition", 5: "kept",
    }
    # duplicates/dropped docs never reach the chunk stage
    assert out[1]["total_chunks"] == 0 and out[4]["total_chunks"] == 0
    # chunk dedup runs ACROSS survivors: doc 5 shares its first 12-token
    # chunks with doc 0 and loses them to the lower doc_id
    assert out[0]["kept_chunks"] == out[0]["total_chunks"] > 0
    assert out[5]["kept_chunks"] < out[5]["total_chunks"]


def test_quality_gate_per_stratum_median(spark):
    from pyspark.sql import functions as F

    from serialization_agents_spark.functions.text import quality_score
    from serialization_agents_spark.operators.curate import quality_gate

    rows = [
        # stratum 'a': three quality tiers
        (0, "a", "!!!"),
        (1, "a", "the cat sat on it"),
        (2, "a", "the cat sat on the mat and it was good that it was warm "
                 "there in the sun for a while"),
        # stratum 'b': two docs (even count -> interpolated midpoint)
        (3, "b", "???? ???? ????"),
        (4, "b", "it was the best of times and it was the worst of times"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    # independent expectation: per-stratum exact median of 1e-4 units
    units = {
        r.doc_id: (r.lang, r.u)
        for r in docs.select(
            "doc_id", "lang",
            F.round(quality_score(F.col("text")) * 10000.0, 0).cast("long").alias("u"),
        ).collect()
    }
    import statistics

    by_stratum = {}
    for lang, u in units.values():
        by_stratum.setdefault(lang, []).append(u)
    med = {k: statistics.median(v) for k, v in by_stratum.items()}
    want = {i for i, (lang, u) in units.items() if u > med[lang]}

    got = {r.doc_id: r for r in quality_gate(docs).collect()}
    assert set(got) == want and len(want) > 0
    for r in got.values():
        assert r.q_thr == med[r.stratum]
        assert r.q_units == units[r.doc_id][1]


def test_quality_gate_threshold_is_broadcast(spark):
    """The stratum threshold must come back as a broadcast join — a
    shuffle join on the stratum key would put each language on one
    reducer at corpus scale."""
    from serialization_agents_spark.operators.curate import quality_gate

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", "the cat sat on the mat %d" % i)
         for i in range(40)],
        "doc_id long, lang string, text string",
    )
    plan = quality_gate(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
