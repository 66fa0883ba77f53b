"""Agent-mention detection (the Spark analogue of the reference's
per-record `sc:agents` / `agents` arrays).

The reference receives mentions pre-structured inside each source record
(`bib['sc:agents']`, /root/reference/lib/shadowcat_serialize_viaf_agents.js:164;
`obj.agents`, lib/utils_archives.js:18). Web pages carry them as markup
and prose instead, so detection is ours:

- **markup mentions** — `<span class="agent" data-viaf="...">Name</span>`
  spans (the analogue of VIAF-backed `sc:agents` entries) and attribute-less
  `<span class="agent">Name</span>` spans (the non-VIAF pass,
  lib/shadowcat_serialize_non_viaf_agents.js:164). Pure
  `regexp_extract_all` — JVM-side, no Python.
- **pattern mentions** — NER-style detection over extracted `text` using a
  capitalized-name-in-context regex ("Work by <Name> ...") for pages with
  no markup. Also JVM-side.
- **gazetteer mentions** (`detect_mentions_gazetteer`) — token-shingle
  blocking join of page text against the authority's normalized name
  forms; catches unmarked prose names. One shuffle (explode + join vs a
  broadcast dimension).

Every mention row gets a deterministic `mention_id = xxhash64(url,
name_raw, occurrence)` — never wall-clock or RNG (SURVEY.md §4.2.3) — so
re-runs and resumed runs agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType

from serialization_agents_spark.functions.normalize import normalize_name_expr

MARKUP_VIAF_RE = r'<span class="agent" data-viaf="([^"]*)">([^<]+)</span>'
# LCNAF-annotated span: carries an id.loc.gov/authorities/names URI. The
# P3 id extraction below reproduces `valueURI.split('/names/')[1]`
# (/root/reference/lib/utils_mms.js:67-70,86-90).
MARKUP_LCNAF_RE = r'<span class="agent" data-lcnaf="([^"]*)">([^<]+)</span>'
MARKUP_PLAIN_RE = r'<span class="agent">([^<]+)</span>'
# Subject span with a declared type — only type="name" subjects are
# promoted into the agents stream (P4, the analogue of
# /root/reference/lib/mms_serialize_collections_agents.js:163-172).
MARKUP_SUBJECT_NAME_RE = r'<span class="subject" data-type="name">([^<]+)</span>'
# NER-ish prose pattern: "by <Capitalized Name> reviewed/wrote/..."
PROSE_RE = r"by ((?:[A-Z][\w.'-]*)(?: [A-Z0-9][\w.'-]*)*) (?:reviewed|wrote|edited)"
LCNAF_URI_ID_RE = r"/names/([^/\"]+)$"

# (source, source_priority) of the markup spans; the merge keeps the
# smallest priority's scalars, so agent spans beat promoted subjects.
WEB_SOURCE, WEB_PRIORITY = "web", 1
SUBJECT_SOURCE, SUBJECT_PRIORITY = "web_subject", 2


def detect_mentions(pages: DataFrame, include_subjects: bool = False) -> DataFrame:
    """pages(url, html, text, ...) -> MENTIONS-schema rows.

    Reference parity: F2 (drop records with no mentions,
    lib/shadowcat_serialize_viaf_agents.js:162) falls out naturally —
    pages yielding zero spans produce zero rows from the explode.

    `include_subjects=True` folds the P4 subject promotion into the SAME
    single page scan (equivalent to unioning promote_subject_mentions,
    minus one full corpus scan).
    """
    html_s = F.col("html").cast(StringType())

    # ONE pass over each page: every span kind is gathered into a single
    # struct array and exploded once. (A union of per-kind branches
    # re-executes the whole upstream page plan per branch — k x the scan
    # at 100 TB.)
    def _span(name, viaf, lc, src: str, prio: int) -> F.Column:
        return F.struct(
            name.alias("name_raw"), viaf.alias("viaf_hint"), lc.alias("lc_hint"),
            F.lit(src).alias("source"),
            F.lit(prio).cast(IntegerType()).alias("source_priority"),
        )

    null_s = F.lit(None).cast(StringType())
    hinted = F.transform(
        F.arrays_zip(
            F.regexp_extract_all(html_s, F.lit(MARKUP_VIAF_RE), F.lit(2)).alias("name"),
            F.regexp_extract_all(html_s, F.lit(MARKUP_VIAF_RE), F.lit(1)).alias("viaf"),
        ),
        lambda m: _span(
            m["name"], F.nullif(m["viaf"], F.lit("")), null_s, WEB_SOURCE, WEB_PRIORITY
        ),
    )
    # P3 — LCNAF URI -> id, the reference's `split('/names/')[1]`
    # (/root/reference/lib/utils_mms.js:67-70). Non-LC URIs yield NULL.
    lc_hinted = F.transform(
        F.arrays_zip(
            F.regexp_extract_all(html_s, F.lit(MARKUP_LCNAF_RE), F.lit(2)).alias("name"),
            F.regexp_extract_all(html_s, F.lit(MARKUP_LCNAF_RE), F.lit(1)).alias("uri"),
        ),
        lambda m: _span(
            m["name"],
            null_s,
            F.nullif(F.regexp_extract(m["uri"], LCNAF_URI_ID_RE, 1), F.lit("")),
            WEB_SOURCE, WEB_PRIORITY,
        ),
    )
    plain = F.transform(
        F.regexp_extract_all(html_s, F.lit(MARKUP_PLAIN_RE), F.lit(1)),
        lambda s: _span(s, null_s, null_s, WEB_SOURCE, WEB_PRIORITY),
    )
    kinds = [hinted, lc_hinted, plain]
    if include_subjects:
        kinds.append(
            F.transform(
                F.regexp_extract_all(html_s, F.lit(MARKUP_SUBJECT_NAME_RE), F.lit(1)),
                lambda s: _span(s, null_s, null_s, SUBJECT_SOURCE, SUBJECT_PRIORITY),
            )
        )

    out = pages.select(
        "url",
        F.posexplode(F.concat(*kinds)).alias("pos", "m"),
    )
    return out.select(
        "url",
        F.xxhash64(
            "url", "m.name_raw", F.coalesce("m.viaf_hint", F.lit("")),
            F.coalesce("m.lc_hint", F.lit("")), "pos",
        ).alias("mention_id"),
        F.col("m.name_raw").alias("name_raw"),
        normalize_name_expr(F.col("m.name_raw")).alias("name_norm"),
        F.col("m.viaf_hint").alias("viaf_hint"),
        F.col("m.lc_hint").alias("lc_hint"),
        F.col("m.source").alias("source"),
        F.col("m.source_priority").alias("source_priority"),
    ).where(F.length("name_norm") > 0)


def promote_subject_mentions(pages: DataFrame) -> DataFrame:
    """P4 — promote name-typed subjects into the mentions stream.

    The reference pushes `subjects` entries with `type === 'name'` into the
    per-record agents array before linking
    (/root/reference/lib/mms_serialize_collections_agents.js:163-172);
    topic-typed subjects are ignored. The web analogue is a
    `<span class="subject" data-type="name">` block; it enters the same
    linking cascade with a lower source priority so an agent-span mention
    of the same entity wins scalar conflicts.
    """
    html_s = F.col("html").cast(StringType())
    return (
        pages.select(
            "url",
            F.posexplode(
                F.regexp_extract_all(html_s, F.lit(MARKUP_SUBJECT_NAME_RE), F.lit(1))
            ).alias("pos", "name_raw"),
        )
        .select(
            "url",
            F.xxhash64("url", "name_raw", F.lit(""), F.lit(""), F.col("pos") + 4000).alias(
                "mention_id"
            ),
            "name_raw",
            normalize_name_expr(F.col("name_raw")).alias("name_norm"),
            F.lit(None).cast(StringType()).alias("viaf_hint"),
            F.lit(None).cast(StringType()).alias("lc_hint"),
            F.lit(SUBJECT_SOURCE).alias("source"),
            F.lit(SUBJECT_PRIORITY).cast(IntegerType()).alias("source_priority"),
        )
        .where(F.length("name_norm") > 0)
    )


def detect_mentions_prose(pages_with_text: DataFrame) -> DataFrame:
    """NER-style prose detection over the extracted `text` column only —
    for corpora with no agent markup at all."""
    return (
        pages_with_text.select(
            "url",
            F.posexplode(
                F.regexp_extract_all(F.col("text"), F.lit(PROSE_RE), F.lit(1))
            ).alias("pos", "name_raw"),
        )
        .select(
            "url",
            F.xxhash64("url", "name_raw", F.lit(""), F.lit(""), F.col("pos") + 2000).alias(
                "mention_id"
            ),
            "name_raw",
            normalize_name_expr(F.col("name_raw")).alias("name_norm"),
            F.lit(None).cast(StringType()).alias("viaf_hint"),
            F.lit(None).cast(StringType()).alias("lc_hint"),
            F.lit("web_prose").alias("source"),
            F.lit(2).cast(IntegerType()).alias("source_priority"),
        )
        .where(F.length("name_norm") > 0)
    )


def detect_mentions_gazetteer(
    pages_with_text: DataFrame, authority: DataFrame
) -> DataFrame:
    """Shingle-blocking gazetteer matcher: explode page text into 1..2-token
    normalized shingles, hash-join against the authority's normalized name
    forms (broadcast — the dimension is small relative to the corpus).

    Scale note: the explode fans each page out ~tokens×2 ways but stays a
    narrow op followed by ONE broadcast join; no shuffle of the fact table.
    """
    def _shingler(length: int):
        # MUST be a one-parameter lambda: Spark passes (element, index) to
        # two-parameter F.transform lambdas, so a `lambda i, L=L:` default
        # is silently overwritten by the element index.
        return lambda i: F.array_join(F.slice("toks", i + 1, length), " ")

    toks = F.split(normalize_name_expr(F.col("text")), " ")
    shingled = pages_with_text.select("url", toks.alias("toks")).select(
        "url",
        F.posexplode(
            F.flatten(
                F.array(*[
                    F.when(
                        F.size("toks") >= L,
                        F.transform(
                            # for shingle length L: start positions 0..len-L
                            F.sequence(F.lit(0), F.size("toks") - L),
                            _shingler(L),
                        ),
                    ).otherwise(F.array().cast(ArrayType(StringType())))
                    for L in range(1, 3)
                ])
            )
        ).alias("pos", "shingle"),
    )
    gaz = authority.select(
        F.explode("normalized").alias("shingle"), F.col("viaf_id")
    ).dropDuplicates(["shingle"])
    hits = shingled.join(F.broadcast(gaz), "shingle")
    return hits.select(
        "url",
        F.xxhash64("url", "shingle", F.lit("gaz"), F.col("pos") + 3000).alias("mention_id"),
        F.col("shingle").alias("name_raw"),
        F.col("shingle").alias("name_norm"),
        F.col("viaf_id").alias("viaf_hint"),
        F.lit(None).cast(StringType()).alias("lc_hint"),
        F.lit("web_gazetteer").alias("source"),
        F.lit(3).cast(IntegerType()).alias("source_priority"),
    )
