"""Token-budget shard packing + temperature mixture rebalancing.

Both operators' 100 TB property is determinism under re-partitioning:
shard layout and keep-sets must be pure functions of (seed, id, corpus
stats), never of executor count or partition boundaries — packing uses
the two-phase partition-offset cumsum (no global window), mixture uses
integer micro-unit weights (no order-dependent float sums).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from serialization_agents_spark.operators import pack
from serialization_agents_spark.operators.pack import shard_pack
from serialization_agents_spark.operators.sample import mixture_sample


def _py_pack(docs, budget, seed="pack"):
    """Reference packing: exclusive prefix sum along md5 order."""
    keyed = sorted(
        docs, key=lambda d: (hashlib.md5(f"{seed}:{d[0]}".encode()).hexdigest(), d[0])
    )
    out, acc = {}, 0
    for doc_id, n_tokens in keyed:
        out[doc_id] = acc // budget
        acc += n_tokens
    return out


def test_shard_pack_hand_computed(spark, monkeypatch):
    monkeypatch.setattr(pack, "PACK_BUDGET", 10)
    rows = [(i, " ".join(["w"] * (i % 7 + 1))) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.shard_id for r in shard_pack(docs).collect()}
    want = _py_pack([(i, i % 7 + 1) for i in range(30)], budget=10)
    assert got == want
    toks = {r.doc_id: r.n_tokens for r in shard_pack(docs).collect()}
    assert toks == {i: i % 7 + 1 for i in range(30)}


def test_shard_pack_partitioning_invariant(spark, monkeypatch):
    monkeypatch.setattr(pack, "PACK_BUDGET", 64)
    rows = [(i, " ".join(["t"] * (i * 13 % 20 + 1))) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    one = {r.doc_id: r.shard_id
           for r in shard_pack(docs.coalesce(1)).collect()}
    many = {r.doc_id: r.shard_id
            for r in shard_pack(docs.repartition(17)).collect()}
    assert one == many


def shard_stats(packed):
    """Per-shard summary of a shard_pack assignment: (shard_id, n_docs,
    n_tokens). Every shard except the last holds >= budget - max_doc + 1
    and < budget + max_doc tokens by construction."""
    return packed.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )


def test_shard_stats_token_bounds(spark, monkeypatch):
    rows = [(i, " ".join(["t"] * (i * 13 % 20 + 1))) for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    budget, max_doc = 64, 20
    monkeypatch.setattr(pack, "PACK_BUDGET", budget)
    stats = sorted(
        (r.shard_id, r.n_tokens)
        for r in shard_stats(shard_pack(docs)).collect()
    )
    # shards are contiguous 0..k and every non-final shard's total lands
    # in (budget - max_doc, budget + max_doc): a shard closes only when
    # the running total crosses its budget boundary
    assert [s for s, _ in stats] == list(range(len(stats)))
    for shard_id, n_tokens in stats[:-1]:
        assert budget - max_doc < n_tokens < budget + max_doc, (shard_id, n_tokens)
    total = sum(i * 13 % 20 + 1 for i in range(400))
    assert sum(n for _, n in stats) == total  # conservation: no doc lost


def test_mixture_uniform_strata_keeps_everything(spark):
    rows = [(i, ["a", "b", "c", "d"][i % 4]) for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = mixture_sample(docs).collect()
    assert len(kept) == 400  # balanced strata -> every rate exactly 1.0
    assert all(r.mix_rate == 1.0 for r in kept)


def test_mixture_skewed_strata_rates_and_keepset(spark):
    # 300 head + 50 tail: head gets cut toward sqrt-share, tail capped at 1
    rows = [(i, "head" if i < 300 else "tail") for i in range(350)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = mixture_sample(docs).collect()

    counts = {"head": 300, "tail": 50}
    wu = {k: math.floor(math.sqrt(v) * 1e6) for k, v in counts.items()}
    wsum, total = sum(wu.values()), sum(counts.values())
    rate = {k: min(1.0, (wu[k] / wsum) * (total / counts[k])) for k in counts}
    assert rate["tail"] == 1.0 and 0 < rate["head"] < 1

    def deviate(i):
        h = int(hashlib.md5(f"mix:{i}".encode()).hexdigest()[:8], 16)
        return h / float(1 << 32)

    want = {i for i, lang in rows if deviate(i) < rate[lang]}
    assert {r.doc_id for r in kept} == want
    got_rates = {r.lang: r.mix_rate for r in kept}
    assert got_rates == {k: round(rate[k], 6) for k in got_rates}


def test_mixture_partitioning_invariant(spark):
    rows = [(i, "x" if i % 5 else "y") for i in range(500)]
    a = mixture_sample(
        spark.createDataFrame(rows, "doc_id long, lang string").coalesce(1)
    )
    b = mixture_sample(
        spark.createDataFrame(rows, "doc_id long, lang string").repartition(13)
    )
    assert sorted(r.doc_id for r in a.collect()) == sorted(r.doc_id for r in b.collect())
