"""Name normalization + fuzzy scoring — the heart of entity blocking/linking.

The reference delegates to the public `nypl-registry-utils-normalize` npm
package (monkey-patches a `string_score`-style fuzzy scorer onto String):

- `normalize.normalizeAndDiacritics(s)` — blocking key. Behavior evidenced
  by reference fixtures (/root/reference/test/utils.test.js:254,261):
  'Zawidzka-Manteuffel, Wanda, 1906-1994' -> 'zawidzka manteuffel wanda 1906 1994'
  and (:78,157) 'Coooooool Old Guy.' -> 'coooooool old guy'.
  Semantics: Unicode-accent-fold, lowercase, punctuation -> space,
  collapse whitespace, trim.
- `String.prototype.score(other, fuzziness)` — Joshaven Potter's public
  string_score algorithm; drives the top-1 candidate pick
  (/root/reference/lib/utils.js:53-61).
- `normalize.percentOverlap(a, b)` — token-overlap %, stored in
  altForms.poverlap (/root/reference/lib/utils_shadowcat.js:247); 100 for
  identical strings (:401). Only metadata — monotone equivalence suffices.

Determinism note: `normalize_name_py` is the canonical byte-stable
definition (pure `unicodedata` NFD fold + a small explicit table for
non-decomposable letters, no locale dependence); the Spark expression's
translate table is GENERATED from the same fold, so Spark and Python
agree by construction over the whole BMP (property-swept in
tests/test_normalize.py). DuckDB's strip_accents (1.0) matches NFD
semantics over Basic Latin..Latin Extended Additional with ONE known
exception, U+034F; over the whole BMP it differs on marks only (also
swept) — scope NORMALIZE_SQL accordingly:

- marks of combining class 0 — U+034F (combining grapheme joiner) and
  the Indic vowel signs and enclosing marks like it (U+0903, U+093E,
  U+20DD, ...) — are stripped by DuckDB but fold to whitespace here;
- 37 marks of nonzero class that DuckDB's Unicode tables predate —
  U+0898..U+089F, U+08CA..U+08D2, U+0C3C, U+1715, U+1ABF..U+1ACE,
  U+1DFA, U+A82C — are deleted here but fold to whitespace in DuckDB.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

_NON_ALNUM = re.compile(r"[^a-z0-9]+")

# Single-char folds for letters NFKD canNOT decompose (no combining mark
# to strip). Multi-char ligature expansions (æ->ae, œ->oe, ß->ss) are NOT
# folded — F.translate is strictly 1:1, so the canonical impl treats them
# as non-alphanumerics (-> space) to stay byte-identical across engines.
_EXTRA_SRC = "øłđıŋ"
_EXTRA_DST = "oldin"
_EXTRA_MAP = str.maketrans(_EXTRA_SRC, _EXTRA_DST)


# Every non-ASCII BMP code point except CJK Extension A .. CJK Unified
# Ideographs, Hangul syllables, surrogates and the private-use area. The
# skipped ranges hold no combining mark, no case mapping and no canonical
# decomposition into anything but other ideographs or Hangul jamo, and
# Unicode's stability policy keeps it so: none of their chars can enter
# the table, and skipping them keeps the scan to a few ms per process.
_FOLD_SCAN = [*range(0xA0, 0x3400), *range(0xA000, 0xAC00), *range(0xF900, 0x10000)]


def _gen_fold_table() -> tuple[str, str]:
    """Generate the JVM translate() table from the canonical NFD fold,
    over the whole BMP: every char whose fold is a single ASCII letter or
    digit maps to it, and every char whose fold is empty (a combining
    mark, or a char whose NFD is only combining marks) is deleted —
    translate drops src chars with no dst counterpart — so pre-decomposed
    input ('Nguye'+U+0303+'n') folds identically to composed input.
    Deterministic (pure unicodedata) — the JVM path and normalize_name_py
    agree by CONSTRUCTION, asserted over the whole BMP by
    tests/test_normalize.

    NFD (canonical-only), NOT NFKD: compatibility decompositions are
    one-to-many (¼ -> '1⁄4', ª -> 'a'), which a 1:1 translate cannot
    express and DuckDB's strip_accents does not perform either — NFD is
    the semantics all three engines share.
    """
    # Both cases enter the table and translate runs BEFORE lower(): JVM
    # lower() expands 'İ' to 'i' + combining dot, which a post-lower
    # table can never fold back. The fold composes NFD + _EXTRA_MAP so
    # accented non-decomposables (ǿ -> ø -> o) land too. It runs on all
    # scanned chars at once: NUL is a starter that folds to itself, so
    # joining on it keeps each char's fold in its own segment. Criterion
    # for a mark is combining()!=0, same as normalize_name_py — U+034F
    # (COMBINING GRAPHEME JOINER) is class 0 and folds to space in both.
    chars = "".join(map(chr, _FOLD_SCAN))
    marks = "".join(filter(unicodedata.combining, chars))
    nfd = unicodedata.normalize("NFD", "\0".join(chars))
    folded = re.sub(f"[{re.escape(marks)}]", "", nfd).lower().translate(_EXTRA_MAP)
    src, dst, deleted = [], [], []
    for ch, fold in zip(chars, folded.split("\0")):
        if not fold:
            deleted.append(ch)
        elif len(fold) == 1 and fold.isascii() and fold.isalnum():
            src.append(ch)
            dst.append(fold)
    return "".join(src + deleted), "".join(dst)


_FOLD_SRC, _FOLD_DST = _gen_fold_table()


# ---------------------------------------------------------------------------
# X1 — normalize / blocking key
# ---------------------------------------------------------------------------
def normalize_name_py(s: str | None) -> str | None:
    """Canonical byte-stable normalization (driver/oracle reference impl)."""
    if s is None:
        return None
    # NFD-decompose (canonical only — see _gen_fold_table for why not
    # NFKD), drop combining marks (accent folding).
    folded = "".join(
        ch for ch in unicodedata.normalize("NFD", s) if not unicodedata.combining(ch)
    )
    return _NON_ALNUM.sub(" ", folded.lower().translate(_EXTRA_MAP)).strip()


def normalize_name_expr(col: Column) -> Column:
    """JVM-side fast path (whole-stage codegen), byte-identical to
    normalize_name_py over the whole BMP: the translate table is
    GENERATED from the same NFD fold (see _gen_fold_table), so the two
    impls cannot drift. Chars outside the table fold to whitespace in
    both (same as punctuation).
    """
    folded = F.lower(F.translate(col, _FOLD_SRC, _FOLD_DST))
    return F.trim(F.regexp_replace(folded, r"[^a-z0-9]+", " "))


# DuckDB-equivalent SQL fragment (for oracle_sql parity checks): DuckDB's
# strip_accents is NFD-equivalent for the decomposable range (swept in
# this module's tests; sole divergence U+034F, see module docstring); the
# extras need the same explicit translate.
NORMALIZE_SQL = (
    "trim(regexp_replace(translate(lower(strip_accents({col})), "
    f"'{_EXTRA_SRC}', '{_EXTRA_DST}'), '[^a-z0-9]+', ' ', 'g'))"
)


# ---------------------------------------------------------------------------
# X3 — string_score fuzzy similarity (public algorithm, Joshaven Potter)
# ---------------------------------------------------------------------------
def _bind(value: Column, body) -> Column:
    """`body(v)` with `value` evaluated ONCE: a lambda over a one-element
    array. Spark interprets higher-order functions with no common
    subexpression elimination, so a column a lambda body references k
    times is otherwise evaluated k times."""
    return F.transform(F.array(value), body)[0]


def fuzzy_score_expr(target: Column, query: Column) -> Column:
    """string_score as a PURE JVM expression — one F.aggregate walk over
    the query positions with a (running, start_at, fuzzies) struct
    accumulator, exactly the char-walk of the reference fuzzy_score_py
    (tests/references.py), bit for bit (parity-swept in
    tests/test_normalize.py: the arithmetic keeps the reference's order,
    so the doubles are identical).

    This is the production path: it keeps the linking cascade free of
    Python workers entirely (worker init is seconds per executor slot
    here and the scorer sits on the J4 hot path at 100 TB).

    Bind-once kernel: `target`, `query` and their lower-cased forms are
    bound once per call, each step's `position` once per step, and the
    score is computed in the walk's `finish` lambda — so the plan holds
    ONE walk and one `position` (asserted by tests/test_normalize.py).
    Without the bindings every reference to the walk or to a lowered
    string inside the interpreted lambdas re-evaluates it.

    ARG CONTRACT: each argument is evaluated a bounded number of times
    (twice: as itself and lower-cased), so an expression argument costs
    at most twice its own evaluation per call. Callers that score many
    candidates against the same string still normalize it once into a
    column first (merge.score_alt_forms' `_nc_norm`), and block-constant
    scores belong on the dimension side (linking's name_best).
    """

    def walk(b: Column) -> Column:
        t, q, lt, lq = b["t"], b["q"], b["lt"], b["lq"]

        def step(a, i):
            # pos = 1-based find of query char i in lt from offset a.s (0 =
            # miss); consecutive-match <=> pos == a.s + 1; 0-based hit idx =
            # pos - 1.
            def advance(pos):
                char_score = (
                    F.when(pos == a["s"] + 1, F.lit(0.7)).otherwise(
                        F.lit(0.1)
                        + F.when(F.substr(t, pos - 1, F.lit(1)) == " ", 0.8).otherwise(0.0)
                    )
                    + F.when(F.substr(t, pos, F.lit(1)) == F.substr(q, i, F.lit(1)), 0.1)
                    .otherwise(0.0)
                )
                return F.struct(
                    F.when(pos == 0, a["r"]).otherwise(a["r"] + char_score).alias("r"),
                    F.when(pos == 0, a["s"]).otherwise(pos).alias("s"),
                    F.when(pos == 0, a["f"] + 0.5).otherwise(a["f"]).alias("f"),
                )

            return _bind(F.position(F.substr(lq, i, F.lit(1)), lt, a["s"] + 1), advance)

        def finish(acc):
            final = 0.5 * (acc["r"] / F.length(t) + acc["r"] / F.length(q)) / acc["f"]
            return F.when(
                (F.substring(lq, 1, 1) == F.substring(lt, 1, 1)) & (final < 0.85),
                final + 0.15,
            ).otherwise(final)

        scored = F.aggregate(
            F.sequence(F.lit(1), F.length(q)),
            F.struct(F.lit(0.0).alias("r"), F.lit(0).alias("s"), F.lit(1.0).alias("f")),
            step,
            finish,
        )
        return (
            F.when(t.isNull() | q.isNull(), F.lit(0.0))
            .when(t == q, F.lit(1.0))
            .when((F.length(q) == 0) | (F.length(t) == 0), F.lit(0.0))
            .otherwise(scored)
        )

    bound = F.struct(
        target.alias("t"), query.alias("q"), F.lower(target).alias("lt"), F.lower(query).alias("lq")
    )
    return _bind(bound, walk)


# ---------------------------------------------------------------------------
# X2 — percentOverlap
# ---------------------------------------------------------------------------
def percent_overlap_expr(a: Column, b: Column) -> Column:
    """percentOverlap as pure Column expressions (JVM path;
    percent_overlap_py in tests/references.py is the reference
    definition)."""

    def toks(c: Column) -> Column:
        # array_remove('') matches Python str.split()'s empty-run handling
        return F.array_remove(F.array_distinct(F.split(c, " ")), "")

    ta, tb = toks(a), toks(b)
    return (
        F.when(a.isNull() | b.isNull(), F.lit(0.0))
        .when(a == b, F.lit(100.0))
        .when((F.size(ta) == 0) | (F.size(tb) == 0), F.lit(0.0))
        .otherwise(
            100.0
            * F.size(F.array_intersect(ta, tb))
            / F.greatest(F.size(ta), F.size(tb))
        )
    )
