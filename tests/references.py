"""Pure-Python references for the package's Column expressions.

Each function here is the byte-stable definition a JVM expression is
asserted identical to: `fuzzy_score_py` for
`functions.normalize.fuzzy_score_expr` (and the DuckDB string_score
walk), `percent_overlap_py` for `percent_overlap_expr`, and
`extract_text_py` for `operators.extract.extract_text_expr`. The
pipeline oracle (`kg_oracle.py`) links with `fuzzy_score_py`.
"""

from __future__ import annotations

import re

from serialization_agents_spark.operators.extract import _ENTITIES

_BLOCK_RE = re.compile(
    r"(?is)<head\b.*?</head>|<script\b.*?</script>|<style\b.*?</style>"
    r"|<nav\b.*?</nav>|<header\b.*?</header>|<footer\b.*?</footer>"
    r"|<aside\b.*?</aside>|<div class=\"ad\".*?</div>"
)
_TAG_RE = re.compile(r"(?s)<[^>]*>")
# ASCII whitespace only, to match Java's default \s exactly (byte-stability).
_WS_RE = re.compile(r"[ \t\n\r\f\x0b]+")


def extract_text_py(html: bytes | str | None) -> str | None:
    """Canonical byte-stable extractor (oracle reference implementation)."""
    if html is None:
        return None
    s = html.decode("utf-8", errors="replace") if isinstance(html, (bytes, bytearray)) else html
    s = _BLOCK_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    return _WS_RE.sub(" ", s).strip(" \t\n\r\f\x0b")


def fuzzy_score_py(target: str | None, query: str | None, fuzziness: float = 0.5) -> float:
    """Exact reimplementation of the string_score algorithm the reference
    calls as `target.score(query, 0.5)` (reference lib/utils.js:56).

    Returns 1.0 for identical strings, 0.0 for an empty query or an empty
    target; otherwise a char-walk score with consecutive/acronym/same-case
    bonuses and a fuzzy-miss penalty divisor. An empty target is where
    this departs from the reference: its JS divides by the target's
    length 0 and returns NaN. Non-Latin names normalize to '' (the fold
    keeps a-z0-9 only), so a NaN/raising score there would poison the
    argmax of every block they sit in.
    """
    if target is None or query is None:
        return 0.0
    if target == query:
        return 1.0
    if query == "" or target == "":
        return 0.0

    l_target = target.lower()
    l_query = query.lower()
    running = 0.0
    start_at = 0
    fuzzies = 1.0
    fuzzy_factor = 1.0 - fuzziness

    for i, qc in enumerate(l_query):
        idx = l_target.find(qc, start_at)
        if idx == -1:
            fuzzies += fuzzy_factor
        else:
            if start_at == idx:
                char_score = 0.7  # consecutive / start-of-string bonus
            else:
                char_score = 0.1
                if target[idx - 1] == " ":
                    char_score += 0.8  # acronym bonus
            if target[idx] == query[i]:
                char_score += 0.1  # same-case bonus
            running += char_score
            start_at = idx + 1

    final = 0.5 * (running / len(target) + running / len(query)) / fuzzies
    if l_query[0] == l_target[0] and final < 0.85:
        final += 0.15
    return final


def percent_overlap_py(a: str | None, b: str | None) -> float:
    """Token-overlap percentage; 100.0 for identical strings (matching the
    reference's trivial case, lib/utils_shadowcat.js:401)."""
    if a is None or b is None:
        return 0.0
    if a == b:
        return 100.0
    ta, tb = set(a.split()), set(b.split())
    if not ta or not tb:
        return 0.0
    return 100.0 * len(ta & tb) / max(len(ta), len(tb))
