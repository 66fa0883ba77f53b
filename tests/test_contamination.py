"""Benchmark-decontamination operator: hit semantics and the
broadcast-only plan shape.
"""

from __future__ import annotations

import contextlib
import io

from serialization_agents_spark.operators.contamination import contamination_report
from serialization_agents_spark.operators.vocab import bpe_pair_stats


def _corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a completely different sentence with no overlap at all"),
        (3, "quick brown fox is a common phrase indeed"),   # 1 shared gram
        (4, "the quick brown fox jumps again and again"),   # 3 shared grams
        (5, "short doc"),                                   # < k tokens
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _benchmark(spark):
    return spark.createDataFrame(
        [("the quick brown fox jumps",)], "text string"
    )


def test_contamination_report_hits(spark):
    got = {
        r["doc_id"]: r["n_hits"]
        for r in contamination_report(_corpus(spark), _benchmark(spark)).collect()
    }
    # benchmark grams: {the quick brown, quick brown fox, brown fox jumps}
    assert got == {1: 3, 3: 1, 4: 3}


def test_contamination_is_broadcast_only(spark):
    """The gram probe must be a broadcast hash join — a sort-merge join
    here would shuffle the exploded corpus (x tokens-per-doc rows)."""
    df = contamination_report(_corpus(spark), _benchmark(spark))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_bpe_pair_stats(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b"), (3, "solo"), (4, "")],
        "doc_id long, text string",
    )
    got = {
        (r["tok_left"], r["tok_right"]): r["pair_freq"]
        for r in bpe_pair_stats(docs).collect()
    }
    # doc1: (a,b) (b,a) (a,b) (b,c); doc2: (a,b); docs 3/4: nothing
    assert got == {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1}

