"""Corpus deduplication operators — first-class components of a
training-data pipeline at 100 TB (exact, MinHash-LSH, SimHash, n-gram
Jaccard). All built-in expressions; hashes are md5-based so DuckDB /
pure-Python oracles can reproduce results bit-for-bit.

Scale notes:
- exact dedup: one shuffle on the content hash (map-side partial agg).
- MinHash-LSH: signatures are narrow per-row work; candidate pairing is
  ONE shuffle keyed by band (each doc contributes `bands` rows, never the
  O(n^2) cross join). Band width/count tuned for ~0.8 Jaccard threshold.
- SimHash: narrow per-row 64-bit sketch + one shuffle on the sketch (or
  on rotated prefixes for Hamming-neighbor search).
- n-gram Jaccard verify: runs only on LSH candidate pairs (tiny set).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from serialization_agents_spark.parallel import spread

N_HASHES = 16
BAND_SIZE = 4  # 4 bands x 4 rows: s-curve threshold ~ (1/4)^(1/4) ~ 0.7
N_BANDS = N_HASHES // BAND_SIZE
SHINGLE_K = 3
SIMHASH_BITS = 32
CHUNK_WORDS = 12  # tokens per chunk_dedup unit
SPAN_K = 10  # tokens per repeated-span window and per winnowing gram
WINNOW_W = 4  # gram hashes per winnowing window
WINNOW_MAX_BUCKET = 4096  # docs per fingerprint before winnow_pairs drops it


def _tokens(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def shingles_from_tokens(toks: Column) -> Column:
    """Distinct word k-gram shingles over an ALREADY-TOKENIZED column.

    Prefer this over `shingles` when the caller can materialize the
    token array first (checkpoint/exchange barrier): expressions inside
    an interpreted HOF lambda are re-evaluated per element, so an
    inlined split() re-tokenizes once per gram position."""
    return F.array_distinct(
        F.when(
            F.size(toks) >= SHINGLE_K,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - SHINGLE_K),
                lambda i: F.array_join(F.slice(toks, i + 1, SHINGLE_K), " "),
            ),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )


def shingles(text: Column) -> Column:
    """Distinct word k-gram shingles of a text column (JVM-side)."""
    return shingles_from_tokens(_tokens(text))


def exact_duplicates(df: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content with the
    surviving (min) id and the duplicate count."""
    return (
        df.select(F.md5(F.col("text")).alias("content_hash"), F.col("doc_id"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def minhash_signatures(df: DataFrame, hash_fn: str = "md5") -> DataFrame:
    """Per-doc MinHash signature + LSH band keys.

    h_i(doc) = min over shingles of hash(i, shingle); band key b_j =
    hash of the concatenated signature slice.

    hash_fn='md5' (default): hex-string hashes, min taken
    lexicographically — deliberately chosen so DuckDB/Python oracles can
    reproduce signatures bit-for-bit (the driver correctness gate).
    hash_fn='xxhash64': 64-bit long hashes, ~4x cheaper per shingle —
    the production setting at 100 TB, where cross-engine replay is not
    needed (same s-curve; pair sets differ only by hash family).
    """
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    # N_HASHES hash passes per shingle are the dominant narrow cost —
    # fan an under-parallel scan out BEFORE paying them (and project to
    # the two columns the signature needs so the fan-out shuffles only
    # those bytes).
    df = spread(df.select(F.col("doc_id"), F.col("text")))
    # materialize tokens before the shingle transform (see
    # shingles_from_tokens: an inlined split re-tokenizes per position)
    toked = df.select(
        F.col("doc_id"), _tokens(F.col("text")).alias("_toks")
    ).localCheckpoint(eager=False)
    sh = shingles_from_tokens(F.col("_toks")).alias("sh")

    def _mh(seed: int):
        if hash_fn == "xxhash64":
            return lambda s: F.xxhash64(F.lit(seed), s)
        prefix = f"{seed}:"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    # Explode the (distinct) shingles to rows and hash in PROJECTED,
    # whole-stage-codegen'd columns, then take the per-doc min of each
    # hash family with a map-side partial aggregation — one array
    # traversal total instead of N_HASHES interpreted
    # array_min(transform(...)) passes per row (higher-order functions
    # never enter codegen). min(long)/min(string) over the exploded rows
    # equals array_min over the array: same values, same lexicographic
    # string order. The null guard keeps null-text parity with the HOF
    # path (null shingle -> null hash -> null signature; xxhash64 would
    # otherwise hash a null away and produce a non-null signature).
    # NOTE: assumes doc_id is unique per row — duplicate ids would
    # merge signatures.
    sh_rows = toked.select(F.col("doc_id"), sh).select(
        F.col("doc_id"), F.explode_outer("sh").alias("_sh")
    )
    hash_cols = [
        F.when(F.col("_sh").isNotNull(), _mh(i)(F.col("_sh"))).alias(f"h{i}")
        for i in range(N_HASHES)
    ]
    with_sig = (
        sh_rows.select(F.col("doc_id"), *hash_cols)
        .groupBy("doc_id")
        .agg(*[F.min(f"h{i}").alias(f"mh{i}") for i in range(N_HASHES)])
    )

    def _band(b: int) -> F.Column:
        members = [F.col(f"mh{b * BAND_SIZE + r}") for r in range(BAND_SIZE)]
        if hash_fn == "xxhash64":
            return F.xxhash64(F.lit(b), *members).alias(f"band{b}")
        return F.md5(
            F.concat_ws("|", F.lit(str(b)), *[m.cast("string") for m in members])
        ).alias(f"band{b}")

    band_cols = [_band(b) for b in range(N_BANDS)]
    return with_sig.select(
        F.col("doc_id"), *[F.col(f"mh{i}") for i in range(N_HASHES)], *band_cols
    )


def minhash_candidate_pairs(df: DataFrame, hash_fn: str = "md5") -> DataFrame:
    """LSH bucket-join: docs sharing any band key become a candidate pair.
    Shuffle is keyed by band value — never a cross join.

    Buckets are uncapped, as the DuckDB oracle replays them: a band
    bucket of k docs yields k(k-1)/2 pairs, so k identical documents
    cost quadratic pairs here; exact_duplicates finds the same groups
    in one shuffle on the content hash.
    """
    sigs = minhash_signatures(df, hash_fn)
    # (id, band) needs no cross-row dedup: signatures carry one row per
    # doc and every band value hashes its band INDEX in, so a doc's
    # bands are distinct by construction (and the terminal pair-level
    # dropDuplicates guards the result regardless) — the old
    # .dropDuplicates() here cost a full Exchange of the band set.
    bands = sigs.select(
        F.col("doc_id"),
        F.explode(F.array(*[F.col(f"band{b}") for b in range(N_BANDS)])).alias("band"),
    )
    a = bands.select(F.col("band"), F.col("doc_id").alias("id_a"))
    b = bands.select(F.col("band"), F.col("doc_id").alias("id_b"))
    return (
        a.join(b, "band")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )


def ngram_jaccard_pairs(df: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard for the LSH candidate pairs. Verification
    stage of the near-dup pipeline; only candidate pairs are scored, so
    cost is O(candidates), not O(n^2)."""
    pairs = minhash_candidate_pairs(df)
    sh = df.select(F.col("doc_id"), shingles(F.col("text")).alias("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    scored = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )
    return scored.where(F.col("jaccard") >= 0.0)


def simhash(df: DataFrame) -> DataFrame:
    """SimHash sketch: per-token md5-derived bit pattern, majority vote per
    bit. Narrow per-row computation (explode + two groupBys on id).

    SIMHASH_BITS is 32 (not 64) so the per-bit integer stays exact in
    cross-engine comparisons; near-dup lookup groups on the sketch or
    prefix bands.
    """
    toks = spread(df.select(F.col("doc_id"), F.col("text"))).select(
        F.col("doc_id"), F.explode(F.array_distinct(_tokens(F.col("text")))).alias("tok")
    )
    # token hash: first 8 hex chars of md5 -> 32-bit int
    toks = toks.withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"))
    bits = range(SIMHASH_BITS)
    bit_votes = toks.select(
        F.col("doc_id"),
        *[
            (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{b}")
            for b in bits
        ],
    ).groupBy("doc_id").agg(*[F.sum(f"b{b}").alias(f"b{b}") for b in bits])
    sketch = bit_votes.select(
        F.col("doc_id"),
        sum(
            [F.when(F.col(f"b{b}") > 0, F.lit(2**b)).otherwise(F.lit(0)) for b in bits],
            F.lit(0),
        ).cast("long").alias("simhash"),
    )
    return sketch


def chunk_dedup(df: DataFrame, fan_out: bool = True) -> DataFrame:
    """Chunk-level exact dedup (the CCNet recipe, Wenzek et al. 2020 —
    public): split every document into fixed CHUNK_WORDS windows over
    its whitespace tokens, hash each unit, keep only the globally FIRST
    occurrence of each distinct unit (ordered by (id, position)), and
    reassemble the surviving text per document. Boilerplate (nav bars,
    cookie banners, footers) repeats across millions of pages and
    vanishes here while unique prose survives. Word windows stand in
    for CCNet's newline paragraphs: the corpus text carries no layout.

    Scale shape: one narrow explode (each doc yields its own chunks), ONE
    shuffle on the chunk hash for the keep-first window (hash groups are
    duplicate-sets — tiny), and ONE shuffle back on the doc id for
    reassembly. No self-joins, no all-pairs anything; survives 100 TB.

    Returns (id, total_chunks, kept_chunks, dedup_text) — docs whose text
    has no non-empty chunk produce no row.
    """
    from pyspark.sql.window import Window

    # fan_out=False for callers whose input is ALREADY distributed by an
    # upstream exchange (e.g. the curate cascade's survivor frame): the
    # spread probe would re-plan the caller's whole subtree just to learn
    # the repartition is a no-op.
    df = df.select(F.col("doc_id"), F.col("text"))
    if fan_out:
        df = spread(df)
    toks = _tokens(F.col("text"))
    n_chunks = F.ceil(F.size(toks) / F.lit(float(CHUNK_WORDS))).cast("int")
    chunks = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(toks, i * CHUNK_WORDS + 1, CHUNK_WORDS), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    exploded = (
        df.select(F.col("doc_id"), F.posexplode(chunks).alias("chunk_idx", "chunk"))
        .where(F.col("chunk") != "")
        .withColumn("chunk_hash", F.md5("chunk"))
    )
    w = Window.partitionBy("chunk_hash").orderBy(F.col("doc_id"), F.col("chunk_idx"))
    ranked = exploded.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("total_chunks"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("kept_chunks"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") == 1,
                                F.struct(F.col("chunk_idx"), F.col("chunk")),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("dedup_text"),
        )
    )


def neardup_clusters(df: DataFrame) -> DataFrame:
    """Near-duplicate CLUSTERS: MinHash-LSH candidate pairs closed under
    transitivity via the pipeline's connected-components operator, so a
    chain a~b~c dedupes to ONE representative even when (a, c) never
    collide in any band. This is the step that turns pairwise dedup into
    corpus dedup (keep one doc per component) — and it runs the exact CC
    loop the knowledge-graph canonicalizer uses (operators/canonicalize.py),
    giving that loop an INDEPENDENT cross-engine oracle (DuckDB recursive
    transitive closure) on top of its composite kg_* certification.

    Each candidate pair becomes a bipartite edge pair (doc -> pair-key);
    doc ids are zero-padded to width 12 so the component representative
    (lexicographic-min key) is also the NUMERIC min doc id. Only docs that
    appear in at least one candidate pair are emitted — everything else is
    trivially its own singleton.

    Scale shape: pair generation is the banded LSH equi-join (never
    all-pairs); the CC loop is candidate-scale (orders of magnitude below
    corpus scale) with broadcast label maps and explicit entity-width
    repartitioning.

    Returns (id, cluster_rep) with cluster_rep = min doc id of the
    component.
    """
    from serialization_agents_spark.operators.canonicalize import (
        connected_components,
    )

    pairs = minhash_candidate_pairs(df)
    pad = lambda c: F.lpad(F.col(c).cast("string"), 12, "0")  # noqa: E731
    pair_key = F.concat(F.lit("pair:"), pad("id_a"), F.lit(":"), pad("id_b"))
    edges = (
        pairs.select(pad("id_a").alias("entity_key"), pair_key.alias("merge_key"))
        .unionByName(
            pairs.select(pad("id_b").alias("entity_key"), pair_key.alias("merge_key"))
        )
    )
    labels, _iters = connected_components(edges)
    return labels.select(
        F.col("entity_key").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("cluster_rep"),
    )


def repeated_span_stats(docs: DataFrame) -> DataFrame:
    """Cross-document repeated-span statistics — the cheap relative of
    suffix-array ExactSubstr dedup (Lee et al., 'Deduplicating Training
    Data Makes Language Models Better'): every SPAN_K-token window at
    every position, exact for ANY shared span of >= SPAN_K tokens at any
    alignment, where non-overlapping chunk dedup (chunk_dedup) only
    catches chunk-aligned repeats. A window occurrence is 'duplicated'
    when its text appears in >= 2 DISTINCT documents; within-doc
    repetition is the repetition_features gate's job, not this one's.

    Returns (doc_id, n_windows, dup_windows, dup_fraction) per doc with
    at least one full window (shorter docs carry no SPAN_K-token evidence).

    Scale shape: one narrow window transform + explode (one row per
    token position), one distinct + hash agg on the window key
    (map-side combine absorbs boilerplate heads), one
    equi-join back (hot boilerplate keys are probe-side skew; AQE
    splits them), one per-doc agg. dup_fraction divides two identical
    integers in both engines — no float drift.
    """
    docs = spread(docs.select(F.col("doc_id"), F.col("text")))
    toks = _tokens(F.col("text"))
    # Materialize tokens once (interpreted HOF lambdas re-evaluate an
    # inlined split() per window position), then build each window gram
    # and hash it to a 128-bit key (two independent xxhash64s) IN THE
    # SAME transform: the dup decision only needs equality, so the
    # shuffles (distinct, dup agg, probe join) carry 16-byte keys
    # instead of ~60-char window strings. The window TEXT never leaves
    # the map side; at 4e9 distinct windows a 128-bit collision has
    # probability ~2e-20 (the DuckDB oracle groups by the string).
    toked = (
        docs.where(F.size(toks) >= SPAN_K)
        .select("doc_id", toks.alias("_toks"))
        .localCheckpoint(eager=False)
    )

    def _win_key(i):
        w = F.array_join(F.slice(F.col("_toks"), i + 1, SPAN_K), " ")
        return F.struct(F.xxhash64(w), F.xxhash64(F.lit(1), w))

    win_hashes = F.transform(
        F.sequence(F.lit(0), F.size(F.col("_toks")) - SPAN_K), _win_key
    )
    occ = toked.select(
        "doc_id", F.explode(win_hashes).alias("win")
    ).localCheckpoint(eager=False)  # feeds the dup agg AND the join probe
    dup_wins = (
        occ.select("doc_id", "win")
        .distinct()
        .groupBy("win")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("win", F.lit(1).alias("is_dup"))
    )
    return (
        occ.join(dup_wins, "win", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("dup_windows"),
        )
        .select(
            "doc_id", "n_windows", "dup_windows",
            F.round(
                F.col("dup_windows").cast("double") / F.col("n_windows"), 4
            ).alias("dup_fraction"),
        )
    )


def winnow_fingerprints(docs: DataFrame, hash_fn: str = "md5") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every k = SPAN_K token gram, then keep the
    MINIMUM hash of each window of w = WINNOW_W (4) consecutive gram
    hashes. Guarantee: any span shared by two documents of length
    >= k + w - 1 tokens shares at least one fingerprint, at ~2/(w+1)
    sampling density — the content-defined sampler that makes
    span-level dedup affordable where repeated_span_stats' every-position
    enumeration is the exact but row-heavy path.

    hash_fn='md5' keeps hex-string hashes so a SQL oracle reproduces
    fingerprints bit-for-bit (lexicographic min); 'xxhash64' is the
    ~4x-cheaper 64-bit production family (same guarantee).

    Returns DISTINCT (doc_id, fp) pairs. All work is per-row array
    expressions (narrow) + one distinct; docs shorter than k + w - 1
    tokens emit nothing.
    """
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    docs = spread(docs.select(F.col("doc_id"), F.col("text")))
    toks = _tokens(F.col("text"))
    # Materialize the token array ONCE before the gram pass: expressions
    # inside an interpreted HOF lambda are re-evaluated per element (no
    # codegen, no common-subexpression elimination), so an inlined
    # split() re-tokenizes per gram position — measured ~2x the gram
    # stage at sf1.0. The gram build and hash then FUSE into a single
    # transform (no intermediate gram-string array materialized).
    toked = (
        docs.where(F.size(toks) >= SPAN_K + WINNOW_W - 1)
        .select("doc_id", toks.alias("_toks"))
        .localCheckpoint(eager=False)
    )
    _hash = F.xxhash64 if hash_fn == "xxhash64" else F.md5
    hs = F.transform(
        F.sequence(F.lit(0), F.size(F.col("_toks")) - SPAN_K),
        lambda i: _hash(F.array_join(F.slice(F.col("_toks"), i + 1, SPAN_K), " ")),
    )
    # MATERIALIZE the gram-hash array before the window pass too:
    # without this checkpoint the per-window lambda re-evaluates the
    # ENTIRE hs transform — O(len^2 * k) hash calls per doc, measured
    # 60x slower at sf0.1. One linear hash pass, then O(len * w) mins.
    hashed = toked.select("doc_id", hs.alias("_hs")).localCheckpoint(eager=False)
    # Sliding-window min via two doubling zip_with passes (WINNOW_W = 4):
    #   a[j] = min(hs[j], hs[j+1]);  b[j] = min(a[j], a[j+2])
    #         = min(hs[j..j+3])  for j <= L-4
    # — two linear array passes instead of one slice + array_min
    # allocation PER WINDOW POSITION. zip_with pads the shorter side
    # with nulls and least() skips nulls, so the tail entries of a/b are
    # partial-window junk; the final slice keeps exactly the L-w+1 full
    # windows. Same mins, same values (least == array_min over the same
    # 4 elements, longs and md5 hex strings alike).
    hs_c = F.col("_hs")
    a = F.zip_with(
        hs_c, F.slice(hs_c, 2, F.size(hs_c) - 1), lambda x, y: F.least(x, y)
    )
    b = F.zip_with(
        a, F.slice(a, 3, F.size(hs_c) - 2), lambda x, y: F.least(x, y)
    )
    fps = F.array_distinct(F.slice(b, 1, F.size(hs_c) - (WINNOW_W - 1)))
    # (doc_id, fp) is globally DISTINCT by construction: `hashed` has one
    # row per doc and fps is array_distinct per row — a cross-row
    # .distinct() here would re-shuffle every fingerprint to prove a
    # property the algebra already guarantees (it cost a full Exchange
    # of the fingerprint set until round 6).
    return hashed.select("doc_id", F.explode(fps).alias("fp"))


def winnow_pairs(
    docs: DataFrame, hash_fn: str = "md5"
) -> tuple[DataFrame, DataFrame]:
    """Document pairs sharing >= 1 winnowing fingerprint:
    (id_a, id_b, n_shared). The fingerprint is the blocking key — a
    within-fingerprint self-join, never all-pairs. A fingerprint shared
    by more than WINNOW_MAX_BUCKET docs is dropped (boilerplate
    fingerprints are the hot keys at 100 TB) and returned, not
    silently joined; logging the drop is the caller's.

    Returns (pairs, dropped_fingerprints(fp, bucket_size)).
    """
    fps = winnow_fingerprints(docs, hash_fn).localCheckpoint(
        eager=False
    )  # feeds bucket sizes + both join sides
    sizes = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("bucket_size"))
    dropped = sizes.where(F.col("bucket_size") > WINNOW_MAX_BUCKET)
    keep = fps.join(F.broadcast(dropped.select("fp")), "fp", "left_anti")
    a = keep.select(F.col("fp"), F.col("doc_id").alias("id_a"))
    b = keep.select(F.col("fp"), F.col("doc_id").alias("id_b"))
    pairs = (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 1)
    )
    return pairs, dropped.select("fp", "bucket_size")
