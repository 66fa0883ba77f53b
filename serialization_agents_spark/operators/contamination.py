"""Benchmark decontamination: flag corpus documents that share
word n-grams with an evaluation benchmark (the standard train/test
leakage gate of an LLM training-data pipeline; no analogue in the
reference — its inputs are catalog records, serialization-agents
index.js — this is a first-class web-corpus addition like dedup/ANN).

Scale notes (100 TB corpus, benchmark suites ~10^6 grams):
- The benchmark side is tiny by construction (eval suites are MBs, not
  TBs): its distinct n-gram set is ALWAYS the broadcast side. The
  corpus side explodes into n-grams (narrow, no shuffle) and probes the
  broadcast hash table — the whole flag pass is shuffle-free until the
  final per-doc aggregation, ONE hash agg on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from serialization_agents_spark.operators.dedup import shingles
from serialization_agents_spark.parallel import spread


def benchmark_ngrams(benchmark: DataFrame) -> DataFrame:
    """Distinct word SHINGLE_K-grams of the benchmark suite — the
    (small) lookup side of the contamination join."""
    return benchmark.select(F.explode(shingles(F.col("text"))).alias("gram")).distinct()


def contamination_report(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """One row per contaminated corpus doc: (doc_id, n_hits) where
    n_hits counts the doc's distinct SHINGLE_K-grams that appear
    anywhere in the benchmark. Corpus grams explode narrowly and probe the
    broadcast benchmark set; the only shuffle is the final doc_id agg.
    """
    grams = benchmark_ngrams(benchmark)
    # the gram explode + hash probe is the narrow hot loop — fan an
    # under-parallel corpus scan out before paying it, and materialize
    # the token array so the gram lambda does not re-split per position
    from serialization_agents_spark.operators.dedup import (
        _tokens,
        shingles_from_tokens,
    )

    toked = (
        spread(corpus.select(F.col("doc_id"), F.col("text")))
        .select("doc_id", _tokens(F.col("text")).alias("_toks"))
        .localCheckpoint(eager=False)
    )
    doc_grams = toked.select(
        "doc_id",
        F.explode(shingles_from_tokens(F.col("_toks"))).alias("gram"),
    )
    return (
        doc_grams.join(broadcast(grams), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_hits"))
    )
