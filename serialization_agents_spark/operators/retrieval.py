"""BM25 retrieval scoring — rank a corpus against a term query using
the same statistics the inverted index materializes (tf, df, doc
length). The retrieval-layer counterpart of operators/vocab.py: the
index answers "which docs hold this term", BM25 answers "in what
order".

Cross-engine exactness (the oracle-parity discipline used repo-wide):
ln() differs by sub-ulp across libms, so idf is rounded to 4dp FIRST;
every other factor (tf, dl, avgdl=total/N) is an integer or a single
IEEE division of integers, bit-identical in any engine. The per-term
score is then rounded into integer 1e-4 units BEFORE the per-document
sum — float sums are order-dependent, integer sums are not — and the
result stays a BIGINT (`score_e4`) end to end.

Scale shape: one corpus scan feeds both the doc-length projection and
the query-term tf aggregate (the query filter prunes the explode to
|query| terms per doc BEFORE the shuffle); df for the handful of query
terms broadcasts back; the final top-k is orderBy+limit — Spark's
TakeOrderedAndProject, a per-partition heap + driver merge, never a
single-task global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serialization_agents_spark.functions.text import token_count, tokens

K1 = 1.2
B = 0.75
TOPK = 25


def bm25_topk(docs: DataFrame, query_terms: list[str]) -> DataFrame:
    """Top-TOPK documents for `query_terms` by BM25 (Robertson idf with
    the +1 floor: ln((N - df + 0.5)/(df + 0.5) + 1)).

    Returns (doc_id, n_matched, score_e4) — score in integer 1e-4
    units — ordered by score desc, doc_id asc, limited to TOPK.
    """
    terms = sorted(set(query_terms))
    base = docs.select(
        F.col("doc_id"),
        tokens(F.col("text")).alias("_toks"),
        token_count(F.col("text")).cast("long").alias("dl"),
    ).localCheckpoint(eager=False)  # one scan feeds stats, tf, and dl

    stats = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("total")
    ).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["total"]) / float(stats["n"])

    tf = (
        base.select("doc_id", "dl", F.explode("_toks").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf4 = F.round(
        F.log(
            (F.lit(float(n_docs)) - F.col("df").cast("double") + F.lit(0.5))
            / (F.col("df").cast("double") + F.lit(0.5))
            + F.lit(1.0)
        ),
        4,
    )
    # identical parenthesization as the oracle SQL — every op IEEE-exact
    # on identical operands once idf is coarsened
    term_score = idf4 * (
        (F.col("tf").cast("double") * F.lit(K1 + 1.0))
        / (
            F.col("tf").cast("double")
            + F.lit(K1)
            * (
                F.lit(1.0 - B)
                + F.lit(B) * (F.col("dl").cast("double") / F.lit(avgdl))
            )
        )
    )
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "doc_id",
        F.round(term_score * F.lit(10000.0), 0).cast("long").alias("_u"),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum("_u").alias("score_e4"),
        )
        .orderBy(F.col("score_e4").desc(), F.col("doc_id").asc())
        .limit(TOPK)
    )
