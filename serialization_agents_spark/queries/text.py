"""Per-document text analysis (language id, quality, tokens,
fingerprints, repetition, PII), corpus vocabulary/LM tables, and the
curation steps that sample, order, gate, rank and pack a corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from serialization_agents_spark.functions import text as T
from serialization_agents_spark.operators.curate import quality_gate
from serialization_agents_spark.operators.enumerate_ids import running_offsets
from serialization_agents_spark.operators.pack import shard_pack
from serialization_agents_spark.operators.retrieval import bm25_topk
from serialization_agents_spark.operators.sample import mixture_sample, sample_corpus
from serialization_agents_spark.operators.vocab import (
    inverted_index,
    ngram_counts,
    perplexity_buckets,
    vocab_stats,
)
from serialization_agents_spark.queries.common import (
    LANG_COUNTS,
    LANG_PRED,
    NTOK,
    QUAL_EXPR,
    TOKS,
    footer_row_count,
    qual_cte,
    registry,
    table,
)

ENTRIES, query = registry()


@query(
    f"WITH s AS (SELECT doc_id, {LANG_COUNTS} FROM documents) "
    f"SELECT doc_id, {LANG_PRED} FROM s"
)
def text_lang_id(spark, sf):
    docs = table(spark, sf, "documents")
    return docs.select("doc_id", T.lang_id(F.col("text")).alias("lang_pred"))


@query(
    f"WITH s AS (SELECT lang AS lang_true, {LANG_COUNTS} FROM documents), "
    f"p AS (SELECT lang_true, {LANG_PRED} FROM s) "
    "SELECT lang_true, lang_pred, count(*)::BIGINT AS n_docs "
    "FROM p GROUP BY 1, 2"
)
def text_lang_confusion(spark, sf):
    """Language-ID confusion matrix vs the corpus's labeled lang
    column — the accuracy diagnostic a curation pipeline tracks per
    crawl (one hash agg over (label, prediction); the same
    evaluation-as-operator posture as kg_er_metrics)."""
    docs = table(spark, sf, "documents")
    return (
        docs.select(
            F.col("lang").alias("lang_true"),
            T.lang_id(F.col("text")).alias("lang_pred"),
        )
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(qual_cte("doc_id") + " SELECT doc_id, " + QUAL_EXPR + " AS quality FROM q")
def text_quality(spark, sf):
    docs = table(spark, sf, "documents")
    return docs.select("doc_id", T.quality_score(F.col("text")).alias("quality"))


@query(
    f"SELECT doc_id, {NTOK} AS ws_tokens, "
    "len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens "
    "FROM documents"
)
def text_token_counts(spark, sf):
    docs = table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).cast("long").alias("ws_tokens"),
        T.bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
    )


@query(
    f"SELECT doc_id, md5(array_to_string(list_sort(list_distinct({TOKS})), ' ')) "
    "AS fingerprint FROM documents"
)
def text_fingerprint(spark, sf):
    docs = table(spark, sf, "documents")
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fingerprint"))


# Repetition fractions: DuckDB lists are 1-based and scalar range(a, b)
# is half-open, so range(1, len(l)) enumerates the n-1 bigram starts
# exactly like Spark's sequence(1, k-1).
@query(
    f"WITH t AS (SELECT doc_id, {TOKS} AS l FROM documents), "
    "g AS (SELECT doc_id, l, "
    "list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]) AS g2, "
    "list_transform(range(1, len(l) - 1), "
    "i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) AS g3 FROM t) "
    "SELECT doc_id, "
    "CASE WHEN len(l) > 0 THEN round(1.0 - len(list_distinct(l))::DOUBLE / len(l), 4) ELSE 0.0 END AS dup_word_fraction, "
    "CASE WHEN len(g2) > 0 THEN round(1.0 - len(list_distinct(g2))::DOUBLE / len(g2), 4) ELSE 0.0 END AS dup_2gram_fraction, "
    "CASE WHEN len(g3) > 0 THEN round(1.0 - len(list_distinct(g3))::DOUBLE / len(g3), 4) ELSE 0.0 END AS dup_3gram_fraction "
    "FROM g"
)
def text_repetition(spark, sf):
    """Gopher-rule repetition filters (duplicate word / 2-gram /
    3-gram fractions) — pure Column exprs, certified against DuckDB
    list arithmetic; the boilerplate/SEO-degenerate gate of a
    training-data pipeline."""
    docs = table(spark, sf, "documents")
    r = T.repetition_features(F.col("text"))
    return docs.select(
        "doc_id",
        F.round(r["dup_word_fraction"], 4).alias("dup_word_fraction"),
        F.round(r["dup_2gram_fraction"], 4).alias("dup_2gram_fraction"),
        F.round(r["dup_3gram_fraction"], 4).alias("dup_3gram_fraction"),
    )


# PII scrub over deterministically injected doc_id-derived PII (the
# synthetic corpus carries none); patterns are the RE2-safe Java-regex
# subset so both engines match byte-for-byte, and the redaction order
# (email -> ip -> phone) is fixed on both sides.
@query(
    "WITH i AS (SELECT doc_id, concat_ws(' ', text, "
    "'user' || doc_id::VARCHAR || '@example.com', "
    "'10.0.' || (doc_id % 256)::VARCHAR || '.7', "
    "'call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')) AS t "
    "FROM documents), "
    f"e1 AS (SELECT doc_id, len(regexp_extract_all(t, '{T.PII_EMAIL}')) AS n_emails, "
    f"regexp_replace(t, '{T.PII_EMAIL}', '<EMAIL>', 'g') AS t FROM i), "
    f"e2 AS (SELECT doc_id, n_emails, len(regexp_extract_all(t, '{T.PII_IPV4}')) AS n_ips, "
    f"regexp_replace(t, '{T.PII_IPV4}', '<IP>', 'g') AS t FROM e1), "
    f"e3 AS (SELECT doc_id, n_emails, n_ips, len(regexp_extract_all(t, '{T.PII_PHONE}')) AS n_phones, "
    f"regexp_replace(t, '{T.PII_PHONE}', '<PHONE>', 'g') AS t FROM e2) "
    "SELECT doc_id, n_emails::BIGINT AS n_emails, n_ips::BIGINT AS n_ips, "
    "n_phones::BIGINT AS n_phones, md5(t) AS scrubbed_hash FROM e3"
)
def text_pii_scrub(spark, sf):
    """PII redaction (emails / IPv4 / phone-shaped numbers) with
    per-category counts. The corpus itself is PII-free word soup, so
    the gate query first injects deterministic doc_id-derived PII
    into every row — the oracle injects the identical strings — and
    the certified values are the redaction counts plus the md5 of
    the scrubbed text."""
    docs = table(spark, sf, "documents")
    injected = F.concat_ws(
        " ",
        F.col("text"),
        F.concat(F.lit("user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
        F.concat(F.lit("10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7")),
        F.concat(
            F.lit("call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    p = T.pii_features(injected)
    return docs.select(
        "doc_id",
        p["n_emails"].alias("n_emails"),
        p["n_ips"].alias("n_ips"),
        p["n_phones"].alias("n_phones"),
        F.md5(p["scrubbed"]).alias("scrubbed_hash"),
    )


@query(
    qual_cte("source, lang")
    + ", per AS (SELECT source, lang, "
    f"CAST(round({QUAL_EXPR} * 10000) AS BIGINT) AS q4, n_tok AS ws FROM q) "
    "SELECT source, lang, count(*) AS n_docs, "
    "(sum(q4)::BIGINT // count(*)) / 10000.0 AS avg_quality, "
    "sum(ws)::BIGINT AS total_tokens FROM per GROUP BY source, lang"
)
def text_corpus_stats(spark, sf):
    """Per-(source, lang) curation rollup: doc counts, mean quality,
    token totals — the sampling-weight / mixture table a training-data
    pipeline builds before sampling. The mean is computed over
    10^4-scaled integer quality (per-row values are already rounded
    to 4 decimals) with integer FLOOR division, so no engine ever
    rounds an inexact double: Spark's round() rounds the shortest
    decimal rendering while DuckDB rounds the binary value, and a
    half-way mean like 0.81695 splits them (measured)."""
    docs = table(spark, sf, "documents")
    per = docs.select(
        "source",
        "lang",
        F.round(T.quality_score(F.col("text")) * 10000).cast("long").alias("q4"),
        T.token_count(F.col("text")).cast("long").alias("ws"),
    )
    agg = per.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("q4").alias("q4sum"),
        F.sum("ws").alias("total_tokens"),
    )
    return agg.select(
        "source",
        "lang",
        "n_docs",
        (F.expr("q4sum DIV n_docs") / 10000.0).alias("avg_quality"),
        "total_tokens",
    )


# Inverted-index vocabulary build: identical tokenization, one GROUP BY
# term; integer columns only so the hash is exact.
@query(
    f"WITH e AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents) "
    "SELECT term, count(*)::BIGINT AS term_freq, "
    "count(DISTINCT doc_id)::BIGINT AS doc_freq "
    "FROM e WHERE term <> '' GROUP BY term"
)
def text_vocab_stats(spark, sf):
    """Corpus vocabulary table (term_freq, doc_freq per token) — the
    tokenizer-induction / IDF input. One explode + ONE hash agg on
    the term key; integer-only output for exact oracle parity."""
    return vocab_stats(table(spark, sf, "documents"))


# Inverted-index heads: the oracle takes the 16 smallest doc ids by
# slicing the numerically-sorted full list — identical to the window
# row_number head because doc_id is unique per (term, doc) group; cast
# to VARCHAR only after the numeric sort.
@query(
    f"WITH e AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents), "
    "pd AS (SELECT term, doc_id, count(*) AS tf FROM e "
    "WHERE term <> '' GROUP BY term, doc_id), "
    "st AS (SELECT term, sum(tf)::BIGINT AS term_freq, "
    "count(*)::BIGINT AS doc_freq FROM pd GROUP BY term), "
    "hd AS (SELECT term, array_to_string(list_transform("
    "list_sort(list(doc_id))[1:16], x -> CAST(x AS VARCHAR)), ',') "
    "AS postings_head FROM pd GROUP BY term) "
    "SELECT st.term, term_freq, doc_freq, doc_freq > 16 AS truncated, "
    "postings_head FROM st JOIN hd ON st.term = hd.term"
)
def text_inverted_index(spark, sf):
    """Per-term posting-list heads (16 smallest doc ids) + corpus
    term/doc frequencies — the retrieval-layer segment index. The
    head is window-bounded so stop-word terms never materialize
    their full posting list (operators/vocab.py inverted_index)."""
    return inverted_index(table(spark, sf, "documents"))


# Trigram LM counts: the same w[i..i+2] windowing as the minhash shingle
# CTE, but counting every occurrence (no list_distinct) and dropping
# docs shorter than 3 tokens.
@query(
    f"WITH t AS (SELECT {TOKS} AS w FROM documents), "
    "g AS (SELECT unnest(list_transform(range(1, len(w) - 1), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ngram "
    "FROM t WHERE len(w) >= 3) "
    "SELECT ngram, count(*)::BIGINT AS n_occurrences FROM g "
    "GROUP BY ngram HAVING count(*) >= 2"
)
def text_ngram_counts(spark, sf):
    """Token trigram LM count table thresholded at 2 occurrences —
    one narrow transform + one hash agg with map-side combine."""
    return ngram_counts(table(spark, sf, "documents"))


# CCNet-style LM buckets: integer micro-nll per token (round before the
# per-doc sum, so only exact BIGINT arithmetic crosses rows), exact
# quartile interpolation at binary-exact fractions.
@query(
    f"WITH ex AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents), "
    "tok AS (SELECT doc_id, term FROM ex WHERE term <> ''), "
    "c AS (SELECT term, count(*) AS c FROM tok GROUP BY term), "
    "nv AS (SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS v FROM c), "
    "lm AS (SELECT term, round(-ln((c + 1)::DOUBLE / "
    "((SELECT n FROM nv) + (SELECT v FROM nv))::DOUBLE) "
    "* 10000)::BIGINT AS cost FROM c), "
    "d AS (SELECT t.doc_id, sum(l.cost)::BIGINT AS nll, "
    "count(*)::BIGINT AS n_tokens FROM tok t JOIN lm l USING (term) "
    "GROUP BY t.doc_id), "
    "s AS (SELECT doc_id, n_tokens, "
    "round(nll::DOUBLE / n_tokens)::BIGINT AS avg_nll_e4 FROM d), "
    "q AS (SELECT quantile_cont(avg_nll_e4, 0.25) AS p25, "
    "quantile_cont(avg_nll_e4, 0.75) AS p75 FROM s) "
    "SELECT doc_id, n_tokens, avg_nll_e4, "
    "CASE WHEN avg_nll_e4 <= (SELECT p25 FROM q) THEN 'head' "
    "WHEN avg_nll_e4 > (SELECT p75 FROM q) THEN 'tail' "
    "ELSE 'middle' END AS bucket FROM s"
)
def text_perplexity_bucket(spark, sf):
    """CCNet-style perplexity filter: per-doc average negative
    log-prob under the corpus's add-one unigram LM as an exact
    integer micro-nll, bucketed head/middle/tail at the exact
    p25/p75 quartiles (operators/vocab.py perplexity_buckets). All
    doc-level sums are integer, so no float order can drift."""
    return perplexity_buckets(table(spark, sf, "documents"))


# Deterministic stratified sampling: the deviate is the first 8 hex
# chars of md5('sample:' || doc_id) over 2^32 — exact in binary
# (h/2^32), so both engines round the same double and the keep-set
# replays bit-for-bit.
@query(
    "WITH u AS (SELECT doc_id, lang, "
    "CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) "
    "/ 4294967296.0 AS u FROM documents), "
    "r AS (SELECT doc_id, lang, u, CASE lang WHEN 'en' THEN 0.5 "
    "WHEN 'de' THEN 1.0 WHEN 'zh' THEN 0.25 ELSE 0.1 END AS rate FROM u) "
    "SELECT doc_id, lang, round(u, 6) AS u FROM r WHERE u < rate"
)
def corpus_sample(spark, sf):
    """Deterministic stratified mixture sampling: keep a document iff
    its md5(seed:doc_id) uniform deviate is below its language's
    configured rate. A pure Column expression keyed on content ids —
    the same rows survive at any partitioning, executor count, or
    resume, which is what makes 100 TB mixture sampling reproducible.
    The DuckDB oracle replays the identical md5 keep-set."""
    docs = table(spark, sf, "documents").select("doc_id", "lang")
    return sample_corpus(docs, rates={"en": 0.5, "de": 1.0, "zh": 0.25})


# Temperature mixture: weights floored to integer micro-units BEFORE
# summation (float sums are order-dependent; integer sums are not), then
# the rate is two IEEE divisions and a multiply on identical operands —
# bit-identical across engines. sqrt (not pow) because sqrt is IEEE
# correctly-rounded everywhere.
@query(
    "WITH d AS (SELECT lang, count(*)::BIGINT AS cnt "
    "FROM documents GROUP BY lang), "
    "w AS (SELECT lang, cnt, "
    "floor(sqrt(CAST(cnt AS DOUBLE)) * 1e6)::BIGINT AS wu FROM d), "
    "t AS (SELECT sum(cnt)::BIGINT AS total, sum(wu)::BIGINT AS wsum FROM w), "
    "r AS (SELECT lang, least(1.0, "
    "(CAST(wu AS DOUBLE) / CAST(wsum AS DOUBLE)) * "
    "(CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE))) AS rate FROM w, t) "
    "SELECT doc_id, documents.lang AS lang, round(rate, 6) AS mix_rate "
    "FROM documents JOIN r ON documents.lang = r.lang "
    "WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)) "
    "AS UBIGINT) / 4294967296.0 < rate"
)
def corpus_mixture(spark, sf):
    """Temperature mixture rebalancing: derive per-LANGUAGE keep
    rates from the observed counts (share ∝ count^0.5, downsample-
    only) and keep by md5 deviate — lang is the one skewed stratum
    in the synthetic corpus (en ~44%), so the head is genuinely cut
    and the tail genuinely capped at 1.0. Rates go through integer
    micro-unit weights so the float arithmetic is bit-identical in
    any engine (operators/sample.py mixture_sample)."""
    docs = table(spark, sf, "documents").select("doc_id", "lang")
    return mixture_sample(docs).select(
        "doc_id", "lang", "mix_rate"
    )


# Epoch shuffle order: rank over md5(epoch:doc) per epoch, 1-based like
# row_number.
@query(
    "SELECT doc_id, epoch, ord FROM ("
    "SELECT doc_id, e.epoch, row_number() OVER ("
    "PARTITION BY e.epoch "
    "ORDER BY md5(e.epoch || ':' || doc_id)) AS ord "
    "FROM documents CROSS JOIN "
    "(SELECT unnest(range(2)) AS epoch) e)"
)
def corpus_epoch_order(spark, sf):
    """Deterministic per-epoch training order: rank docs by
    md5(epoch || ':' || doc_id) through ONE partition-offset pass over
    both epochs (operators/enumerate_ids.py::running_offsets — range-
    partition on (epoch, key), per-partition running count, driver-side
    partition offsets; never a single global window). Epoch e's rows
    start e * n_docs into that order, so subtracting it restarts the
    rank per epoch. Every run, resume, and executor count replays the
    exact same shuffle order per epoch — the reproducible-dataloader
    contract of an LLM training pipeline."""
    n_docs = footer_row_count(sf, "documents")
    keyed = (
        table(spark, sf, "documents")
        .select("doc_id", F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch"))
        .withColumn(
            "_k", F.md5(F.concat_ws(":", F.col("epoch").cast("string"), F.col("doc_id")))
        )
    )
    return running_offsets(keyed, ["epoch", "_k"], F.lit(1)).select(
        "doc_id", "epoch",
        (F.col("_before") - F.col("epoch") * F.lit(n_docs) + 1).cast("long").alias("ord"),
    )


# BM25: idf coarsened to 4dp before any multiply (ln is the one
# libm-divergent op), per-term scores snapped to integer 1e-4 units
# before the per-doc sum, identical parenthesization to the Spark
# expression. LIMIT with (score desc, doc_id) ties.
@query(
    f"WITH base AS (SELECT doc_id, {NTOK}::BIGINT AS dl, {TOKS} AS w FROM documents), "
    "st AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS total FROM base), "
    "tf AS (SELECT doc_id, dl, term, count(*)::BIGINT AS tf FROM ("
    "SELECT doc_id, dl, unnest(w) AS term FROM base) "
    "WHERE term IN ('dup', 'merge', 'vector') GROUP BY doc_id, dl, term), "
    "dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term), "
    "sc AS (SELECT doc_id, round("
    "round(ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / "
    "(CAST(df AS DOUBLE) + 0.5) + 1.0), 4) * "
    "((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * "
    "(0.25 + 0.75 * (CAST(dl AS DOUBLE) / "
    "(CAST(total AS DOUBLE) / CAST(n AS DOUBLE)))))) * 10000.0, 0)::BIGINT "
    "AS u FROM tf, dfq AS d, st WHERE tf.term = d.term), "
    "agg AS (SELECT doc_id, count(*)::BIGINT AS n_matched, "
    "sum(u)::BIGINT AS score_e4 FROM sc GROUP BY doc_id) "
    "SELECT doc_id, n_matched, score_e4 FROM agg "
    "ORDER BY score_e4 DESC, doc_id ASC LIMIT 25"
)
def text_bm25_topk(spark, sf):
    """BM25 retrieval: rank the corpus for a 3-term query (one rare
    term, two common) — integer 1e-4 score units so the per-doc sum
    is order-free; top-k via orderBy+limit (TakeOrdered heap, never
    a global window) (operators/retrieval.py bm25_topk)."""
    return bm25_topk(table(spark, sf, "documents"), ["dup", "merge", "vector"])


# Relative quality gate: integer 1e-4 quality units (the score is
# 4dp-rounded, so units are exact) make the p=0.5 quantile interpolation
# (a+b)*0.5 exact binary — same contract as o8.
@query(
    qual_cte("doc_id, lang")
    + f", s AS (SELECT doc_id, lang AS stratum, round(({QUAL_EXPR}) * "
    "10000.0, 0)::BIGINT AS q_units FROM q), "
    "t AS (SELECT stratum, quantile_cont(q_units, 0.5) AS q_thr "
    "FROM s GROUP BY stratum) "
    "SELECT doc_id, s.stratum AS stratum, q_units, q_thr "
    "FROM s JOIN t ON s.stratum = t.stratum WHERE q_units > q_thr"
)
def text_quality_gate(spark, sf):
    """Relative quality curation: keep docs beating their language's
    median quality — ONE percentile aggregate broadcast back, never
    a percent_rank window (a stratum is one reducer's group at
    10^12 docs) (operators/curate.py quality_gate)."""
    return quality_gate(table(spark, sf, "documents"))


# Shard packing: exclusive prefix-sum of integer token counts along the
# md5-shuffled order (the oracle's one global window IS the thing the
# Spark side decomposes into partition offsets).
@query(
    f"WITH t AS (SELECT doc_id, {NTOK}::BIGINT AS n_tokens, "
    "md5('pack:' || CAST(doc_id AS VARCHAR)) AS k FROM documents), "
    "c AS (SELECT doc_id, n_tokens, coalesce(sum(n_tokens) OVER ("
    "ORDER BY k, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    "), 0) AS tokens_before FROM t) "
    "SELECT doc_id, n_tokens, (tokens_before // 4096)::BIGINT AS shard_id "
    "FROM c"
)
def corpus_shard_pack(spark, sf):
    """Token-budget shard packing: lay documents out in a
    deterministic md5-shuffled order and cut 4096-token shards by
    running cumsum — the two-phase partition-offset scheme, no
    global single-task window (operators/pack.py shard_pack)."""
    return shard_pack(table(spark, sf, "documents"))
