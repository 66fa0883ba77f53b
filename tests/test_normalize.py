"""X1/X2/X3 semantics, pinned by the reference's own fixture strings
(/root/reference/test/utils.test.js)."""

from __future__ import annotations

import unicodedata

from pyspark.sql import functions as F

from references import fuzzy_score_py, percent_overlap_py
from serialization_agents_spark.functions.normalize import (
    normalize_name_expr,
    normalize_name_py,
)

GOLDEN = {
    # test/utils.test.js:254,261 — normalized forms in the Zawidzka fixture
    "Zawidzka-Manteuffel, Wanda, 1906-1994": "zawidzka manteuffel wanda 1906 1994",
    "Zawidzka, Wanda, 1906-1994": "zawidzka wanda 1906 1994",
    # :78,157 — nameLocal normalization
    "Coooooool Old Guy.": "coooooool old guy",
    # :66 — authority normalized forms
    "Plato v427-v347": "plato v427 v347",
    "Wehrli, A. G. (Swiss photographer, active early 20th century)":
        "wehrli a g swiss photographer active early 20th century",
    # diacritics (MMS fixture :296)
    "Katsukawa, Shunchô (fl. 1783-1821)": "katsukawa shuncho fl 1783 1821",
}


def test_normalize_py_golden():
    for raw, want in GOLDEN.items():
        assert normalize_name_py(raw) == want


def test_normalize_expr_matches_py(spark):
    rows = [(r,) for r in GOLDEN]
    df = spark.createDataFrame(rows, "raw string").select(
        "raw", normalize_name_expr(F.col("raw")).alias("norm")
    )
    for row in df.collect():
        assert row["norm"] == normalize_name_py(row["raw"]), row["raw"]


def test_normalize_handles_null_and_empty():
    assert normalize_name_py(None) is None
    assert normalize_name_py("") == ""
    assert normalize_name_py("!!!") == ""


# Every BMP code point from space up, surrogates excepted.
BMP = [cp for cp in range(0x20, 0x10000) if not 0xD800 <= cp <= 0xDFFF]
LATIN = [*range(0x20, 0x250), *range(0x300, 0x370), *range(0x1E00, 0x1F00)]


def test_normalize_expr_matches_py_full_bmp(spark):
    """Property: the JVM translate path and the canonical NFD impl agree
    for EVERY char of the BMP, embedded in a name (catches table gaps like
    ő/ễ/Å (U+212B ANGSTROM SIGN), non-decomposables like ø/ł/đ, combining
    marks outside U+0300..U+036F (Hebrew, Cyrillic, Arabic), chars whose
    NFD is only marks (Tibetan vowel signs), and pre-decomposed input)."""
    rows = [(f"Na{chr(cp)}me, Test", cp) for cp in BMP]
    df = spark.createDataFrame(rows, "raw string, cp int").select(
        "raw", "cp", normalize_name_expr(F.col("raw")).alias("norm")
    )
    bad = [
        (r["cp"], r["raw"], r["norm"], normalize_name_py(r["raw"]))
        for r in df.collect()
        if r["norm"] != normalize_name_py(r["raw"])
    ]
    assert not bad, bad[:10]


# Marks with a nonzero combining class that DuckDB's strip_accents keeps
# (its Unicode tables predate them); see the normalize module docstring.
DUCKDB_KEPT_MARKS = [
    *range(0x898, 0x8A0), *range(0x8CA, 0x8D3), 0xC3C, 0x1715,
    *range(0x1ABF, 0x1ACF), 0x1DFA, 0xA82C,
]


def test_normalize_duckdb_sql_matches_py_sweep():
    """NORMALIZE_SQL (the DuckDB fragment) agrees with the canonical fold
    over the whole BMP except on the marks the module docstring lists:
    over the Latin blocks only U+034F (combining grapheme joiner: class
    0, stripped by strip_accents); elsewhere other class-0 marks, which
    strip_accents strips too, and the DUCKDB_KEPT_MARKS, which it keeps."""
    import duckdb

    from serialization_agents_spark.functions.normalize import NORMALIZE_SQL

    sweep = (
        "SELECT cp::INTEGER AS cp, 'Na' || chr(cp::INTEGER) || 'me, Test' AS s"
        " FROM range(32, 65536) r(cp) WHERE cp NOT BETWEEN 55296 AND 57343"
    )
    sql = NORMALIZE_SQL.format(col="s")
    rows = duckdb.connect().execute(
        f"SELECT cp, s, {sql} FROM ({sweep}) ORDER BY cp"
    ).fetchall()
    assert [cp for cp, _, _ in rows] == BMP
    bad = [cp for cp, s, got in rows if got != normalize_name_py(s)]
    assert [cp for cp in bad if cp in LATIN] == [0x34F]
    assert all(unicodedata.category(chr(cp)).startswith("M") for cp in bad)
    assert [cp for cp in bad if unicodedata.combining(chr(cp))] == DUCKDB_KEPT_MARKS


def test_normalize_non_decomposable_folds():
    assert normalize_name_py("Søren Łukasz Đorđe") == "soren lukasz dorde"
    # ligatures are out of scope for 1:1 translate -> whitespace in both
    assert normalize_name_py("Ælfric") == "lfric"


def test_fuzzy_score_identity_and_ordering():
    assert fuzzy_score_py("plato", "plato") == 1.0
    assert fuzzy_score_py("plato", "") == 0.0
    # exact block-mate beats a divergent candidate
    s_same = fuzzy_score_py("andrews ann 1890 1986", "andrews ann 1890 1986")
    s_other = fuzzy_score_py("andrews ann 1890 1986", "andrews bob 1900 1950")
    assert s_same > s_other
    # scores bounded
    for t, q in [("abc", "xyz"), ("a", "aaaa"), ("plato lc test", "plato")]:
        assert 0.0 <= fuzzy_score_py(t, q) <= 1.0


def test_percent_overlap():
    assert percent_overlap_py("a b c", "a b c") == 100.0
    assert percent_overlap_py("a b", "a c") == 50.0
    assert percent_overlap_py("", "x") == 0.0


def _random_pairs(n=400, seed=7):
    import random

    rng = random.Random(seed)
    alphabet = "abcDEF gh# 123.&'-"
    pairs = [
        ("plato", "plato"), ("plato", ""), ("", ""), ("a", "aaaa"),
        ("hello world", "hw"), ("customer 000000041", "Customer#000000041"),
    ]
    for _ in range(n):
        t = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 24)))
        q = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))
        pairs.append((t, q))
    return pairs


# Non-ASCII mixed case, for the scorer's lower() (the JVM's own case
# mapping, see session.py) against Python's str.lower. 'İ' is left out:
# its lowercase is two chars long, and fuzzy_score_py then indexes past
# the end of the query.
NON_ASCII_CASE_PAIRS = [
    ("ångström anders", "ÅNGSTRÖM, Anders"),
    ("Ångström, Anders", "ångström"),
    ("οδυσσεύς", "ΟΔΥΣΣΕΎΣ"),  # capital sigma lowers to final ς at the end
    ("σοφοκλής", "Σοφοκλής"),
    ("ıstanbul ışık", "ISTANBUL IŞIK"),  # dotless ı; 'I' lowers to 'i'
    ("достоевский фёдор", "ДОСТОЕВСКИЙ, Фёдор"),
    ("Ǆemal ǅukić", "ǆemal"),  # titlecase digraphs
    ("straße", "STRASSE"),
    ("ŁUKASZ Żółw", "łukasz żółw"),
]


def test_fuzzy_expr_parity_sweep(spark):
    """The pure-JVM fuzzy_score_expr (production path) must equal
    fuzzy_score_py (canonical impl) on hundreds of random strings and
    on non-ASCII mixed-case names."""
    from serialization_agents_spark.functions.normalize import fuzzy_score_expr

    pairs = _random_pairs() + NON_ASCII_CASE_PAIRS
    df = spark.createDataFrame(pairs, "t string, q string").select(
        "t", "q", fuzzy_score_expr(F.col("t"), F.col("q")).alias("s")
    )
    for row in df.collect():
        want = fuzzy_score_py(row["t"], row["q"])
        assert abs(row["s"] - want) < 1e-9, (row["t"], row["q"], row["s"], want)
        # bit-identical: the kernel keeps the Python arithmetic order, and
        # the lineage checksums hash these doubles
        assert row["s"] == want, (row["t"], row["q"], row["s"], want)


def test_fuzzy_expr_binds_one_walk(spark):
    """The bind-once kernel: the optimized plan holds ONE walk and ONE
    position search, because Spark interprets lambdas with no common
    subexpression elimination and every extra reference re-runs them."""
    from serialization_agents_spark.functions.normalize import fuzzy_score_expr

    df = spark.createDataFrame([("plato", "Plato")], "t string, q string").select(
        fuzzy_score_expr(F.col("t"), F.col("q")).alias("s")
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("aggregate(") == 1, plan
    assert plan.count("position(") == 1, plan
    assert df.collect()[0]["s"] == fuzzy_score_py("plato", "Plato")


def test_fuzzy_empty_target_scores_zero(spark):
    """An empty target scores 0.0 in both implementations (the reference's
    JS divides by the length 0 and returns NaN): non-Latin names normalize
    to '', and a raising score would fail every block of the argmax."""
    from serialization_agents_spark.functions.normalize import fuzzy_score_expr

    assert normalize_name_py("孔子") == ""
    assert fuzzy_score_py("", "x") == 0.0
    assert fuzzy_score_py("", "") == 1.0  # identical strings still win first
    df = spark.createDataFrame([("", "x"), ("", "")], "t string, q string").select(
        fuzzy_score_expr(F.col("t"), F.col("q")).alias("s")
    )
    assert [r["s"] for r in df.collect()] == [0.0, 1.0]


def test_fuzzy_duckdb_oracle_parity_sweep():
    """The DuckDB recursive-CTE transcription used by the j4 oracle must
    walk identically to fuzzy_score_py (rounding excluded — compare raw)."""
    import duckdb

    rel = "strpos(substr(lower(t), s + 1), substr(lower(q), i + 1, 1))"
    walk = f"""
    WITH RECURSIVE walk AS (
      SELECT t, q, 0 AS i, CAST(0.0 AS DOUBLE) AS r, 0 AS s,
             CAST(1.0 AS DOUBLE) AS f FROM pq
      UNION ALL
      SELECT t, q, i + 1,
             CASE WHEN rel = 0 THEN r ELSE r
               + (CASE WHEN rel = 1 THEN 0.7 ELSE 0.1
                  + (CASE WHEN substr(t, s + rel - 1, 1) = ' ' THEN 0.8 ELSE 0.0 END) END)
               + (CASE WHEN substr(t, s + rel, 1) = substr(q, i + 1, 1) THEN 0.1 ELSE 0.0 END)
             END,
             CASE WHEN rel = 0 THEN s ELSE s + rel END,
             CASE WHEN rel = 0 THEN f + 0.5 ELSE f END
      FROM (SELECT t, q, i, r, s, f, {rel} AS rel FROM walk WHERE i < length(q)) x
    )
    SELECT t, q,
           CASE WHEN t = q THEN 1.0 WHEN length(q) = 0 THEN 0.0
                WHEN substr(lower(q),1,1) = substr(lower(t),1,1)
                     AND (0.5 * (w.r / length(t) + w.r / length(q)) / w.f) < 0.85
                THEN (0.5 * (w.r / length(t) + w.r / length(q)) / w.f) + 0.15
                ELSE (0.5 * (w.r / length(t) + w.r / length(q)) / w.f) END AS fz
    FROM walk w WHERE i = length(q)
    """
    pairs = [(t, q) for t, q in _random_pairs() if t != "" or q != ""]
    con = duckdb.connect()
    con.execute("CREATE TABLE pq (t VARCHAR, q VARCHAR)")
    con.executemany("INSERT INTO pq VALUES (?, ?)", pairs)
    got = {(t, q): v for t, q, v in con.execute(walk).fetchall()}
    for t, q in pairs:
        want = fuzzy_score_py(t, q)
        assert abs(got[(t, q)] - want) < 1e-9, (t, q, got[(t, q)], want)


def test_percent_overlap_expr_parity(spark):
    from serialization_agents_spark.functions.normalize import percent_overlap_expr

    pairs = [
        ("a b c", "a b c"), ("a b", "a c"), ("", "x"), ("", ""),
        ("a  b", "a b"), (" lead", "lead"), ("x y z w", "z"),
    ] + _random_pairs(100)
    df = spark.createDataFrame(pairs, "a string, b string").select(
        "a", "b", percent_overlap_expr(F.col("a"), F.col("b")).alias("p")
    )
    for row in df.collect():
        want = percent_overlap_py(row["a"], row["b"])
        assert abs(row["p"] - want) < 1e-9, (row["a"], row["b"], row["p"], want)
