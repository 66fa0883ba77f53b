"""BM25 retrieval scoring — parity with a pure-Python reference and
the determinism/shape properties that matter at scale (integer score
units, orderBy+limit top-k, partitioning invariance).
"""

from __future__ import annotations

import math

from serialization_agents_spark.operators import retrieval
from serialization_agents_spark.operators.retrieval import bm25_topk

DOCS = [
    (0, "cat dog cat"),
    (1, "dog fish"),
    (2, "cat cat cat cat"),
    (3, "bird"),
    (4, ""),
    (5, "cat dog fish bird cat"),
]


def _py_bm25(docs, query, k1=1.2, b=0.75):
    toks = {i: t.split() for i, t in docs if t.strip()}
    toks.update({i: [] for i, t in docs if not t.strip()})
    n = len(docs)
    avgdl = float(sum(len(v) for v in toks.values())) / float(n)
    df = {q: sum(1 for v in toks.values() if q in v) for q in query}
    out = {}
    for i, v in toks.items():
        units, matched = 0, 0
        for q in query:
            tf = v.count(q)
            if not tf:
                continue
            matched += 1
            idf4 = round(math.log((n - df[q] + 0.5) / (df[q] + 0.5) + 1.0), 4)
            s = idf4 * ((tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * (len(v) / avgdl))))
            # engine round() is HALF_UP; Python's is banker's — emulate
            units += math.floor(s * 10000.0 + 0.5)
        if matched:
            out[i] = (matched, units)
    return out


def test_bm25_matches_python_reference(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_matched, r.score_e4)
        for r in bm25_topk(docs, ["cat", "fish"]).collect()
    }
    assert got == _py_bm25(DOCS, ["cat", "fish"])


def test_bm25_rare_term_outranks_common(spark):
    # 1 doc holds 'rare', 9 hold 'common' with the same tf and dl:
    # the rare doc must rank first on idf alone
    rows = [(i, "common pad pad") for i in range(9)] + [(9, "rare pad pad")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    top = bm25_topk(docs, ["common", "rare"]).collect()
    assert top[0].doc_id == 9
    assert top[0].score_e4 > top[1].score_e4


def test_bm25_topk_limit_and_tie_order(spark, monkeypatch):
    monkeypatch.setattr(retrieval, "TOPK", 5)
    rows = [(i, "term pad") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    top = bm25_topk(docs, ["term"]).collect()
    # identical docs tie on score; the deterministic tiebreak is doc_id asc
    assert [r.doc_id for r in top] == [0, 1, 2, 3, 4]
    assert len({r.score_e4 for r in top}) == 1


def test_bm25_partitioning_invariant(spark):
    rows = [(i, " ".join(["cat"] * (i % 4) + ["dog"] * (i % 3) + ["pad"]))
            for i in range(100)]
    a = bm25_topk(
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1),
        ["cat", "dog"],
    ).collect()
    b = bm25_topk(
        spark.createDataFrame(rows, "doc_id long, text string").repartition(13),
        ["cat", "dog"],
    ).collect()
    assert [(r.doc_id, r.score_e4) for r in a] == [(r.doc_id, r.score_e4) for r in b]
