"""Corpus vocabulary statistics: per-term frequencies over the corpus.

The tokenizer-building step of a training-data pipeline: explode the
whitespace tokens of every document and aggregate term frequency (total
occurrences) and document frequency (distinct docs containing the term).
This is the input to BPE/unigram vocabulary induction and to IDF-style
weighting (reference has no analogue — it is an LLM-pipeline addition,
like dedup/ANN).

Scale shape: one explode (narrow, no shuffle) followed by ONE hash
aggregation on the term key. `count(*)` gets a map-side partial combine;
`count(distinct doc_id)` expands via Spark's standard two-phase distinct
aggregation (partial dedupe of (term, doc_id) pairs map-side, then one
shuffle on term) — at 100 TB this is the canonical inverted-index build
and the term key is near-uniform after the explode, so no salting is
needed. Output stays integer-only to keep the DuckDB oracle hash-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serialization_agents_spark.parallel import spread

from pyspark.sql.window import Window

from serialization_agents_spark.functions.text import tokens

TFIDF_K = 3  # top terms per document
MAX_POSTINGS = 16  # doc ids per posting-list head
NGRAM_N = 3


def vocab_stats(docs: DataFrame) -> DataFrame:
    """Per-term (term_freq, doc_freq) over the corpus.

    Returns one row per distinct whitespace token with columns
    `term`, `term_freq` (total occurrences), `doc_freq` (distinct
    documents). Empty-string tokens (blank docs) are dropped.
    """
    exploded = docs.select(
        F.col("doc_id"),
        F.explode(tokens(F.col("text"))).alias("term"),
    ).where(F.col("term") != "")
    return exploded.groupBy("term").agg(
        F.count(F.lit(1)).alias("term_freq"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )


def tfidf_topk(docs: DataFrame) -> DataFrame:
    """Per-document top-TFIDF_K terms by tf-idf: (doc_id, term, score, rank).

    idf = ln(N/df) rounded to 4dp BEFORE the tf multiply, and the
    product rounded to 4dp again — ranking and output both use the
    coarsened value, so a sub-ulp libm difference between engines
    cannot flip an ordering. Ties break on term ascending.

    Scale shape: explode -> hash agg on (doc_id, term) for tf, then tf
    is localCheckpointed ONCE — it feeds both the doc_freq aggregate
    and the join probe, and without the materialization Catalyst plans
    the whole corpus scan + explode + agg TWICE (ReuseExchange does not
    fire across the branches). doc_freq is a plain count on the term
    key (tf is unique per (doc_id, term); countDistinct would re-shuffle
    (term, doc_id) for nothing) — an AGGREGATE, not a term-window,
    because hot stopword terms make a window group O(corpus) on one
    reducer while the agg's map-side combine flattens them. The
    doc_freq side joins back broadcast (a web-scale vocabulary is
    ~10^7 rows — broadcastable); final top-k is one
    row_number window on doc_id. N comes from one count() — at scale,
    table statistics."""
    from pyspark.sql.window import Window

    exploded = docs.select(
        F.col("doc_id"),
        F.explode(tokens(F.col("text"))).alias("term"),
    ).where(F.col("term") != "")
    tf = (
        exploded.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    n_docs = docs.count()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    idf = F.round(F.log(F.lit(float(n_docs)) / F.col("doc_freq")), 4)
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * idf, 4).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TFIDF_K)
        .select("doc_id", "term", "score", "rank")
    )


def bpe_pair_stats(docs: DataFrame) -> DataFrame:
    """Adjacent-token-pair frequencies — the merge-candidate table of
    one BPE induction iteration over a whitespace-pre-tokenized corpus.

    Returns (tok_left, tok_right, pair_freq), one row per distinct
    adjacent pair. Documents with < 2 tokens contribute nothing (the
    pair array is NULL and explode drops the row).

    Scale shape: the pair array is a narrow per-row transform (no
    shuffle), then ONE hash aggregation on the pair key with map-side
    partial combine — the same inverted-index shape as `vocab_stats`.
    The real BPE loop re-runs this after each merge; each iteration
    stays a single shuffle, which is what makes corpus-scale BPE
    induction tractable (the alternative — driver-side counting — is
    exactly the collect() anti-pattern).
    """
    toks = tokens(F.col("text"))
    pair_arr = F.when(
        F.size(toks) >= 2,
        _adjacent_pairs(toks),
    )
    return (
        docs.select(F.explode(pair_arr).alias("p"))
        .groupBy(
            F.col("p.tok_left").alias("tok_left"),
            F.col("p.tok_right").alias("tok_right"),
        )
        .agg(F.count(F.lit(1)).alias("pair_freq"))
    )


def _adjacent_pairs(toks):
    """Array of (tok_left, tok_right) structs for adjacent positions."""
    return F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.struct(
            F.element_at(toks, i + 1).alias("tok_left"),
            F.element_at(toks, i + 2).alias("tok_right"),
        ),
    )


def inverted_index(docs: DataFrame) -> DataFrame:
    """Per-term posting-list head: (term, term_freq, doc_freq,
    truncated, postings_head) where postings_head is the
    MAX_POSTINGS SMALLEST doc ids as a comma-joined string — the
    segment-index shape a search/retrieval layer builds over a corpus
    (full postings stay doc-partitioned on disk; the head + doc_freq
    is the driver-safe summary).

    Scale design (10^12 docs): a stopword's posting list is the whole
    corpus, so no stage may materialize one in memory. The (term, doc)
    pre-aggregation bounds duplicate work; the head is selected by a
    sort-based row_number window (spills, never holds a term's list),
    and the only collect_list runs AFTER the rn <= MAX_POSTINGS filter
    — it can never see more than MAX_POSTINGS rows per term.
    """
    e = docs.select(
        F.col("doc_id"),
        F.explode(tokens(F.col("text"))).alias("term"),
    ).where(F.col("term") != "")
    # the (term, doc) pre-aggregate feeds BOTH the stats agg and the
    # head window; without materialization Catalyst plans the corpus
    # scan + explode + agg twice (ReuseExchange does not fire across
    # the branches — same pitfall as tfidf_topk)
    perdoc = (
        e.groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    stats = perdoc.groupBy("term").agg(
        F.sum("tf").alias("term_freq"),
        F.count(F.lit(1)).alias("doc_freq"),
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    heads = (
        perdoc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= MAX_POSTINGS)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_head")
        )
    )
    return stats.join(heads, "term").select(
        "term",
        "term_freq",
        "doc_freq",
        (F.col("doc_freq") > MAX_POSTINGS).alias("truncated"),
        "postings_head",
    )


def ngram_counts(docs: DataFrame) -> DataFrame:
    """Token n-gram count table (the KenLM-style corpus statistic):
    (ngram, n_occurrences) over every length-NGRAM_N token window,
    thresholded at 2 occurrences AFTER the aggregate (the standard LM
    count cut).

    One narrow per-row transform + ONE hash agg on the gram; map-side
    partial combine absorbs the Zipf head before the shuffle. Docs
    shorter than n tokens contribute nothing (the `when` guard also
    keeps ANSI `sequence` from running descending on short docs; the
    explode drops the resulting NULLs).
    """
    toks = tokens(F.col("text"))
    grams = F.when(
        F.size(toks) >= NGRAM_N,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - NGRAM_N),
            lambda i: F.array_join(F.slice(toks, i + 1, NGRAM_N), " "),
        ),
    )
    return (
        docs.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .where(F.col("n_occurrences") >= 2)
    )


def perplexity_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style language-model quality buckets: score every document
    by its average negative log-probability under the corpus's own
    add-one-smoothed unigram LM, then split the corpus at the exact
    p25/p75 quartiles into 'head' (most LM-typical), 'middle', 'tail'
    — the standard perplexity-filtering step of webtext curation
    pipelines (CCNet buckets by LM perplexity exactly this way).

    Cross-engine determinism: per-token cost is an INTEGER micro-nll
    (round(-ln((c+1)/(N+V)) * 1e4) as BIGINT), so per-doc sums are exact
    integer arithmetic — no float sum-order drift — and the quartile
    interpolation runs on integers at binary-exact fractions (.25/.75).

    Scale shape: one token explode + hash agg builds the LM (map-side
    combine absorbs the Zipf head), one dim-join of tokens against the
    per-term cost table (hot stop-word keys are join-skew on the probe
    side only; AQE skew-join splits them), one per-doc agg, and a
    single-row quantile agg broadcast back — never a global sort or
    single-partition window. Docs with zero non-empty tokens carry no
    LM evidence and are excluded (the explode drops them). The
    quartiles come from exact `percentile`, whose ObjectHashAggregate
    buffers every doc's score in one final task — O(n_docs) memory in
    that task, the price of cross-engine-replayable thresholds.
    """
    tok = (
        spread(docs.select(F.col("doc_id"), F.col("text")))
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .where(F.col("term") != "")
    )
    # Reduce to per-(doc, term) occurrence counts FIRST: nll is a sum of
    # per-term integer costs, so sum(cost * n) over distinct (doc, term)
    # equals the sum over raw occurrences EXACTLY (all integer — no
    # float order anywhere). The materialized frame that feeds BOTH the
    # LM aggregate and the scoring join (Catalyst won't reuse an agg
    # subtree across consumers) shrinks from every token occurrence to
    # distinct (doc, term) pairs — bounded by docs x vocab — and the
    # map-side combine absorbs the Zipf head before the shuffle.
    dt = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tn"))
        .localCheckpoint(eager=False)
    )
    counts = dt.groupBy("term").agg(F.sum("tn").alias("c"))
    nv = counts.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v_size")
    )
    lm = counts.crossJoin(F.broadcast(nv)).select(
        "term",
        F.round(
            -F.log(
                (F.col("c") + 1).cast("double")
                / (F.col("n_total") + F.col("v_size")).cast("double")
            )
            * 10000
        ).cast("long").alias("cost"),
    )
    scored = (
        dt.join(lm, "term")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cost") * F.col("tn")).alias("nll"),
            F.sum("tn").alias("n_tokens"),
        )
        .select(
            "doc_id", "n_tokens",
            F.round(F.col("nll").cast("double") / F.col("n_tokens"))
            .cast("long").alias("avg_nll_e4"),
        )
        .localCheckpoint(eager=False)  # feeds the quantile AND the output
    )
    q = scored.agg(
        F.expr("percentile(avg_nll_e4, array(0.25D, 0.75D))").alias("q")
    ).select(F.col("q")[0].alias("p25"), F.col("q")[1].alias("p75"))
    return scored.crossJoin(F.broadcast(q)).select(
        "doc_id", "n_tokens", "avg_nll_e4",
        F.when(F.col("avg_nll_e4") <= F.col("p25"), "head")
        .when(F.col("avg_nll_e4") > F.col("p75"), "tail")
        .otherwise("middle").alias("bucket"),
    )
