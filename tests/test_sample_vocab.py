"""Deterministic corpus sampling + vocabulary statistics.

The sampling property that matters at 100 TB is reproducibility: the
keep-set must be a pure function of (seed, id) — identical across
partitioning, executor counts, and resumes — because downstream dedup
and mixture bookkeeping assume a document's membership never flips.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from serialization_agents_spark.operators.sample import sample_corpus, uniform_hash
from serialization_agents_spark.operators import vocab
from serialization_agents_spark.operators.vocab import vocab_stats


def _docs(spark, n=400, parts=4):
    return spark.range(n).repartition(parts).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("lang"),
    )


def test_sample_keep_set_is_partitioning_invariant(spark):
    rates = {"en": 0.5, "de": 1.0, "fr": 0.2}
    a = sample_corpus(_docs(spark, parts=1), rates)
    b = sample_corpus(_docs(spark, parts=13), rates)
    kept_a = sorted(r.doc_id for r in a.collect())
    kept_b = sorted(r.doc_id for r in b.collect())
    assert kept_a == kept_b
    assert 0 < len(kept_a) < 400


def test_sample_rates_respected(spark):
    rates = {"en": 0.5, "de": 1.0, "fr": 0.0}
    kept = sample_corpus(_docs(spark, n=900), rates).groupBy("lang").count()
    by_lang = {r.lang: r["count"] for r in kept.collect()}
    assert by_lang.get("de") == 300  # rate 1.0 keeps every row
    assert "fr" not in by_lang  # rate 0.0 keeps none
    assert 90 <= by_lang.get("en", 0) <= 210  # ~150 expected at 0.5


def test_uniform_hash_matches_python_md5(spark):
    import hashlib

    rows = spark.range(20).select(
        F.col("id"), uniform_hash(F.col("id"), seed="s").alias("u")
    ).collect()
    for r in rows:
        h = int(hashlib.md5(f"s:{r.id}".encode()).hexdigest()[:8], 16)
        assert abs(r.u - h / float(1 << 32)) < 1e-12


def test_vocab_stats_conservation(spark):
    docs = spark.createDataFrame(
        [(0, "a b a c"), (1, "b b d"), (2, ""), (3, "a")],
        "doc_id long, text string",
    )
    rows = {r.term: r for r in vocab_stats(docs).collect()}
    assert set(rows) == {"a", "b", "c", "d"}
    assert rows["a"].term_freq == 3 and rows["a"].doc_freq == 2
    assert rows["b"].term_freq == 3 and rows["b"].doc_freq == 2
    assert rows["c"].term_freq == 1 and rows["c"].doc_freq == 1
    # conservation: total term_freq == total non-empty whitespace tokens
    assert sum(r.term_freq for r in rows.values()) == 8


def test_tfidf_topk_ranking_and_ties(spark, monkeypatch):
    from serialization_agents_spark.operators.vocab import tfidf_topk

    monkeypatch.setattr(vocab, "TFIDF_K", 2)
    docs = spark.createDataFrame(
        [
            (0, "rare rare common"),
            (1, "common common common other"),
            (2, "common zebra"),
        ],
        "doc_id long, text string",
    )
    rows = [
        (r.doc_id, r.term, r.rank)
        for r in tfidf_topk(docs).orderBy("doc_id", "rank").collect()
    ]
    # 'common' appears in all 3 docs -> idf = ln(1) = 0 -> score 0;
    # unique terms (idf ln 3) dominate; zero-score ties break on term asc.
    assert rows[0] == (0, "rare", 1) and rows[1] == (0, "common", 2)
    assert rows[2] == (1, "other", 1) and rows[3] == (1, "common", 2)
    assert rows[4] == (2, "zebra", 1) and rows[5] == (2, "common", 2)
    scores = {
        (r.doc_id, r.term): r.score for r in tfidf_topk(docs).collect()
    }
    assert scores[(0, "common")] == 0.0
    assert scores[(0, "rare")] == round(2 * round(__import__("math").log(3), 4), 4)


def test_bpe_pair_stats_conservation(spark):
    """Total pair_freq == total tokens - docs-with->=2-tokens (each doc
    of t tokens yields t-1 pairs)."""
    from serialization_agents_spark.operators.vocab import bpe_pair_stats

    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "x y"), (2, "solo"), (3, "")],
        "doc_id long, text string",
    )
    total = sum(r.pair_freq for r in bpe_pair_stats(docs).collect())
    assert total == 3 + 1


def test_inverted_index_hand_computed(spark, monkeypatch):
    from serialization_agents_spark.operators.vocab import inverted_index

    monkeypatch.setattr(vocab, "MAX_POSTINGS", 2)
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "a"), (4, "b"), (5, "")],
        "doc_id long, text string",
    )
    rows = {r.term: r for r in inverted_index(docs).collect()}
    assert set(rows) == {"a", "b", "c"}  # empty doc contributes nothing
    a, b, c = rows["a"], rows["b"], rows["c"]
    assert (a.term_freq, a.doc_freq, a.truncated, a.postings_head) == (3, 2, False, "1,3")
    # b appears in 3 docs > MAX_POSTINGS=2: head keeps the 2 SMALLEST ids
    assert (b.term_freq, b.doc_freq, b.truncated, b.postings_head) == (3, 3, True, "1,2")
    assert (c.term_freq, c.doc_freq, c.truncated, c.postings_head) == (1, 1, False, "2")


def test_inverted_index_head_is_partitioning_invariant(spark, monkeypatch):
    from serialization_agents_spark.operators.vocab import inverted_index

    monkeypatch.setattr(vocab, "MAX_POSTINGS", 3)
    docs = spark.createDataFrame(
        [(i, "common tok%d" % (i % 5)) for i in range(40)],
        "doc_id long, text string",
    )
    one = {r.term: r.postings_head
           for r in inverted_index(docs.coalesce(1)).collect()}
    many = {r.term: r.postings_head
            for r in inverted_index(docs.repartition(11)).collect()}
    assert one == many
    assert one["common"] == "0,1,2"


def test_ngram_counts_hand_computed(spark, monkeypatch):
    from serialization_agents_spark.operators.vocab import ngram_counts

    monkeypatch.setattr(vocab, "NGRAM_N", 2)
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "b a"), (3, "x"), (4, "c d"), (5, "")],
        "doc_id long, text string",
    )
    got = {r.ngram: r.n_occurrences
           for r in ngram_counts(docs).collect()}
    # "a b" twice in doc1; "b a" once in doc1 + once in doc2; "c d" and
    # the short/empty docs fall below min_count or produce no grams
    assert got == {"a b": 2, "b a": 2}


def test_ngram_counts_trigram_threshold(spark):
    from serialization_agents_spark.operators.vocab import ngram_counts

    docs = spark.createDataFrame(
        [(1, "the quick fox the quick fox"), (2, "the quick fox")],
        "doc_id long, text string",
    )
    got = {r.ngram: r.n_occurrences
           for r in ngram_counts(docs).collect()}
    # doc1 windows: [the quick fox, quick fox the, fox the quick,
    # the quick fox]; doc2 adds one more "the quick fox" -> 3 total.
    # Every other trigram occurs once and falls below min_count=2.
    assert got == {"the quick fox": 3}


def _py_perplexity(corpus):
    """Pure-Python replay of perplexity_buckets' integer-nll contract."""
    import math

    tok = [(d, t) for d, text in corpus for t in text.lower().split() if t]
    c = {}
    for _, t in tok:
        c[t] = c.get(t, 0) + 1
    n, v = sum(c.values()), len(c)
    cost = {
        t: int(math.copysign(
            math.floor(abs(-math.log((k + 1) / (n + v)) * 10000) + 0.5), 1
        ))
        for t, k in c.items()
    }
    per = {}
    for d, t in tok:
        s, m = per.get(d, (0, 0))
        per[d] = (s + cost[t], m + 1)
    # HALF_UP (never Python's banker's round)
    avg = {d: math.floor(s / m + 0.5) for d, (s, m) in per.items()}
    return per, avg


def test_perplexity_buckets_match_python_reference(spark):
    from serialization_agents_spark.operators.vocab import perplexity_buckets

    corpus = [
        (0, "the cat sat on the mat"),
        (1, "the the the the"),              # most LM-typical -> head
        (2, "zyx qwv plk jhg"),              # all-rare tokens -> tail
        (3, "the cat ran"),
        (4, "a dog sat on a log"),
        (5, "the dog and the cat"),
        (6, "   "),                          # no tokens: excluded
        (7, "on on the the a a"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r["doc_id"]: r for r in perplexity_buckets(docs).collect()}
    per, avg = _py_perplexity(corpus)
    assert set(got) == set(avg)           # doc 6 excluded
    for d, r in got.items():
        assert r["n_tokens"] == per[d][1]
        assert r["avg_nll_e4"] == avg[d]
    assert got[1]["bucket"] == "head"
    assert got[2]["bucket"] == "tail"
    buckets = {r["bucket"] for r in got.values()}
    assert buckets == {"head", "middle", "tail"}
