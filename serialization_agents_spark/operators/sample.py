"""Deterministic corpus sampling for training-data mixtures.

A web-scale pipeline samples per-stratum (language, source, quality
bucket) at configured rates to hit a target token mixture. Done with
`df.sample()` the result changes per run and per partitioning; done here
with a content-keyed hash it is a pure function of (seed, id): the same
document is in or out on every run, every executor count, every resume —
which is what makes downstream dedup/bookkeeping and incremental re-runs
reproducible (same property the kg pipeline's surrogate keys rely on,
reference lib/shadowcat_serialize_non_viaf_agents.js:183 analogue).

The uniform deviate is the first 8 hex chars of md5(seed || ':' || id)
scaled to [0, 1) — md5 (not xxhash64) so a DuckDB oracle replays the
exact keep-set bit-for-bit; at 100 TB the same one-line expression swaps
to xxhash64 like the MinHash production flag.

Everything is a pure Column expression at scan speed: no shuffle, no
Python, broadcast-joined per-stratum rates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

HASH_SPACE = float(1 << 32)


def uniform_hash(id_col: Column, seed: str) -> Column:
    """Deterministic uniform deviate in [0, 1) keyed by (seed, id)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), F.lit(":"), id_col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return h / F.lit(HASH_SPACE)


def sample_corpus(df: DataFrame, rates: dict[str, float]) -> DataFrame:
    """Keep each row iff its ('sample', doc_id)-hash deviate < its
    `lang` stratum's rate.

    `rates` maps stratum value -> keep probability; unlisted strata get
    0.1. Returns the input rows (all columns) plus the sampling deviate
    `u` rounded to 6 dp for auditability.
    """
    spark = df.sparkSession
    rate_rows = [(k, float(v)) for k, v in sorted(rates.items())]
    rate_df = spark.createDataFrame(rate_rows, "lang string, __rate double")
    u = uniform_hash(F.col("doc_id"), "sample")
    return (
        df.join(broadcast(rate_df), "lang", "left")
        .withColumn("__rate", F.coalesce("__rate", F.lit(0.1)))
        .withColumn("u", F.round(u, 6))
        .where(u < F.col("__rate"))
        .drop("__rate")
    )


def mixture_sample(df: DataFrame) -> DataFrame:
    """Temperature-based mixture rebalancing: DERIVE per-domain (`lang`)
    keep rates from the observed domain counts instead of taking them as
    config. The target share of domain d is count_d^0.5 / sum_e
    count_e^0.5 (the exponent < 1 flattens the head and upweights the
    tail — the standard unigram-temperature mixing rule); the keep rate is
    min(1, share_d * total / count_d), i.e. downsample-only: head
    domains are cut to their target share, tail domains keep everything
    (upsampling is an epoch-count concern, not a filter's).

    Cross-engine exactness: count^0.5 is a float, and float SUMS are
    order-dependent, so the weight is floored to integer micro-units
    (floor(sqrt(count) * 1e6)) BEFORE the sum — the denominator is then
    an exact integer and the rate is two IEEE divisions and a multiply
    on identical operands, bit-identical in any engine. All JVM-side:
    the per-domain table is a tiny agg cross-joined back (broadcast).
    """
    # sqrt, not pow(x, 0.5): sqrt is IEEE correctly-rounded everywhere,
    # pow only ~1-ulp, so the micro-unit floor is bit-exact in any engine
    w_units = F.floor(F.sqrt(F.col("__cnt").cast("double")) * F.lit(1e6)).cast("long")
    dims = (
        df.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .withColumn("__w", w_units)
    )
    totals = dims.agg(
        F.sum("__cnt").alias("__total"), F.sum("__w").alias("__wsum")
    )
    rate = F.least(
        F.lit(1.0),
        (F.col("__w").cast("double") / F.col("__wsum").cast("double"))
        * (F.col("__total").cast("double") / F.col("__cnt").cast("double")),
    )
    rate_df = dims.crossJoin(broadcast(totals)).select(
        "lang", rate.alias("__mix_rate")
    )
    u = uniform_hash(F.col("doc_id"), "mix")
    return (
        df.join(broadcast(rate_df), "lang")
        .where(u < F.col("__mix_rate"))
        .withColumn("mix_rate", F.round("__mix_rate", 6))
        .drop("__mix_rate")
    )
