"""Extraction contract: JVM expression == Python reference, byte-for-byte,
and both equal the generator's pre-extracted text
(input_hint per-row invariant: byte-identical extracted text per url)."""

from __future__ import annotations

from pyspark.sql import functions as F

from references import extract_text_py
from serialization_agents_spark import synth
from serialization_agents_spark.operators.extract import extract_text_expr

CASES = [
    b"<html><head><title>T</title><script>x()</script></head>"
    b"<body><nav>Home | About</nav><p>Hello <b>World</b>.</p>"
    b'<div class="ad">Buy!</div><footer>&copy; 2024</footer></body></html>',
    b"<p>A&amp;B &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;end</p>",
    b"<p>multi\n  line\t text</p>",
    b"no tags at all",
    b"",
]


def test_extract_py_semantics():
    assert extract_text_py(CASES[0]) == "Hello World ."
    assert extract_text_py(CASES[1]) == 'A&B <tag> "q" \'s\' end'
    assert extract_text_py(CASES[2]) == "multi line text"
    assert extract_text_py(None) is None


def test_extract_expr_py_byte_identical(spark):
    df = spark.createDataFrame([(c,) for c in CASES], "html binary")
    out = df.select(
        "html",
        extract_text_expr(F.col("html")).alias("via_expr"),
    ).collect()
    for row in out:
        want = extract_text_py(bytes(row["html"]))
        assert row["via_expr"] == want


def test_extract_matches_generator_text(spark):
    """Every synthetic page with a pre-extracted `text` must extract to
    exactly that text from its html — the per-url invariant."""
    pages = synth.synth_pages(spark, n_pages=300, n_auth=100)
    diff = (
        pages.where(F.col("text").isNotNull())
        .select(
            "url", "text", extract_text_expr(F.col("html")).alias("extracted")
        )
        .where(F.col("text") != F.col("extracted"))
    )
    bad = diff.limit(5).collect()
    assert not bad, f"extraction mismatch, e.g. {bad[0]}"
