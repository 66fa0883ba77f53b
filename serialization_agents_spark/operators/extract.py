"""Boilerplate-stripped text extraction from raw HTML.

The north_star requires "boilerplate-stripped text extraction from raw
HTML via vectorized Arrow UDFs (byte-identical per-url to the reference
extractor)". The extraction CONTRACT (canonical, byte-stable):

1. decode bytes as UTF-8 (errors -> replacement char);
2. drop whole boilerplate blocks: <head>, <script>, <style>, <nav>,
   <header>, <footer>, <aside>, and <div class="ad"> ... matching close
   tag (case-insensitive, dot-matches-newline);
3. replace every remaining tag with a single space;
4. unescape the basic HTML entities (&amp; &lt; &gt; &quot; &#39;
   &nbsp; &copy;);
5. collapse all whitespace runs to one space and trim.

``extract_text_expr`` is the production path: pure Column expressions
(whole-stage codegen, no Python at all). ``extract_text_py`` in
``tests/references.py`` is the byte-stable reference it is asserted
identical to.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
    ("&nbsp;", " "), ("&copy;", "©"), ("&amp;", "&"),  # &amp; LAST
]


# The contract's block regex, Java-regex flavored for JVM execution.
_BLOCK_RE_JAVA = (
    r"(?is)<head\b.*?</head>|<script\b.*?</script>|<style\b.*?</style>"
    r"|<nav\b.*?</nav>|<header\b.*?</header>|<footer\b.*?</footer>"
    r"|<aside\b.*?</aside>|<div class=\"ad\".*?</div>"
)


def extract_text_expr(html: Column) -> Column:
    """JVM-side extractor — identical contract, zero Python in the plan;
    stays inside whole-stage codegen."""
    s = html.cast(StringType())  # binary -> UTF-8 string (Spark semantic)
    s = F.regexp_replace(s, _BLOCK_RE_JAVA, " ")
    s = F.regexp_replace(s, r"(?s)<[^>]*>", " ")
    for ent, ch in _ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def with_extracted_text(pages: "DataFrame") -> "DataFrame":  # noqa: F821
    """pages(url, warc_ts, html, text, lang) -> same + `text` filled.

    Honors pre-extracted text when present (the reference trusts its
    source fields the same way); extraction only runs where text is NULL,
    so the expensive path touches the minimal row set.
    """
    return pages.withColumn(
        "text", F.coalesce(F.col("text"), extract_text_expr(F.col("html")))
    )
