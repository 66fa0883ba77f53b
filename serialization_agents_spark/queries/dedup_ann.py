"""Training-data dedup (exact, MinHash-LSH, n-gram Jaccard, SimHash,
chunk keep-first, repeated spans, winnowing, near-dup clusters) and the
ANN family over the embeddings table (brute force, sign-LSH, IVF,
k-means, SQ8, random projection, embedding near-dups)."""

from __future__ import annotations

from pyspark.sql import functions as F

from serialization_agents_spark.operators import dedup as D
from serialization_agents_spark.operators import similarity as S
from serialization_agents_spark.queries.common import SHINGLES, TOKS, registry, table

ENTRIES, query = registry()

# MinHash: 16 md5-salted min-hashes over distinct word 3-shingles, four
# bands of four.
_SIG = (
    f"WITH sh AS (SELECT doc_id, {SHINGLES} AS sh FROM "
    f"(SELECT doc_id, {TOKS} AS w FROM documents)), "
    "sig AS (SELECT doc_id, "
    + ", ".join(
        f"list_min(list_transform(sh, s -> md5('{i}:' || s))) AS mh{i}" for i in range(16)
    )
    + " FROM sh), "
    "bands AS (SELECT doc_id, "
    + ", ".join(
        f"md5('{b}' || '|' || "
        + " || '|' || ".join(f"mh{b * 4 + r}" for r in range(4))
        + f") AS band{b}"
        for b in range(4)
    )
    + " FROM sig)"
)
# (doc, band) rows and the banded candidate pairs they block.
_BANDED = (
    ", eb AS ("
    + " UNION ALL ".join(f"SELECT doc_id, band{b} AS band FROM bands" for b in range(4))
    + "), ebd AS (SELECT DISTINCT doc_id, band FROM eb)"
)
_PAIRS = (
    "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
    "FROM ebd a JOIN ebd b ON a.band = b.band AND a.doc_id < b.doc_id"
)

_DUCK_COS = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)"
)


def _lcg_vectors_cte(n: int, dim: int, offset: int, idx: str, alias: str) -> str:
    """The deterministic vector family of similarity._hyperplane as a
    recursive CTE: x0 = (seed*1000003 + (offset+idx)*7919 + 12345) masked,
    x <- (x*1103515245 + 12345) masked, w = x/0x7FFFFFFF*2 - 1. Shared by
    the LSH-plane, IVF-centroid, and near-dup oracles (offset selects the
    family: 0 = LSH planes, IVF_CENTROID_BASE = centroids)."""
    return f"""{alias}_lcg AS (
  SELECT {idx}, 0 AS i,
         CAST((42 * 1000003 + ({offset} + {idx}) * 7919 + 12345) % 2147483648 AS BIGINT) AS x,
         CAST(NULL AS DOUBLE) AS w
  FROM (SELECT unnest(range({n})) AS {idx})
  UNION ALL
  SELECT {idx}, i + 1, (x * 1103515245 + 12345) % 2147483648,
         CAST((x * 1103515245 + 12345) % 2147483648 AS DOUBLE) / 2147483647 * 2.0 - 1.0
  FROM {alias}_lcg WHERE i < {dim}
),
{alias} AS (SELECT {idx}, list(w ORDER BY i) AS v FROM {alias}_lcg WHERE i >= 1 GROUP BY {idx})"""


def _ann_split(spark, sf):
    """(corpus, queries) of the ANN queries: vec_id < 5 asks, the rest
    is searched."""
    emb = table(spark, sf, "embeddings")
    return emb.where(F.col("vec_id") >= 5), emb.where(F.col("vec_id") < 5)


def _ann_lsh_sql(n_probes: int) -> str:
    """DuckDB transcription of operators/similarity.py:lsh_bucket_topk —
    the hyperplane LCG (`_hyperplane`) as a recursive CTE (the same way
    the string_score walk is transcribed), sign-bit bucket signatures,
    the multi-probe lowest-|margin| bit flips, and the in-bucket cosine
    re-rank over 8 planes, k = 3. Sign/ordering parity holds because
    dots are O(1) while engine summation-order differences are O(1e-16)
    (documented in similarity._bucket_kernel).
    """
    probes_sql = ""
    qbuckets = "SELECT query_id, qv, base_sig AS bucket FROM qsig"
    if n_probes > 0:
        probes_sql = f""",
flips AS (
  SELECT query_id, p,
         row_number() OVER (PARTITION BY query_id ORDER BY abs(d), p) AS rk
  FROM qd
),
probes AS (
  SELECT f.query_id, s.qv,
         substr(s.base_sig, 1, f.p)
           || (CASE WHEN substr(s.base_sig, f.p + 1, 1) = '1' THEN '0' ELSE '1' END)
           || substr(s.base_sig, f.p + 2, 8) AS bucket
  FROM flips f JOIN qsig s USING (query_id) WHERE f.rk <= {n_probes}
)"""
        qbuckets += "\n    UNION ALL SELECT query_id, qv, bucket FROM probes"
    return f"""
WITH RECURSIVE {_lcg_vectors_cte(8, 64, 0, "p", "planes")},
corpus AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
qs AS (SELECT vec_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
csig AS (
  SELECT c.vec_id, c.cv,
         string_agg(CASE WHEN list_dot_product(c.cv, pl.v) >= 0 THEN '1' ELSE '0' END,
                    '' ORDER BY pl.p) AS bucket
  FROM corpus c CROSS JOIN planes pl GROUP BY c.vec_id, c.cv
),
qd AS (
  SELECT q.vec_id AS query_id, q.qv, pl.p, list_dot_product(q.qv, pl.v) AS d
  FROM qs q CROSS JOIN planes pl
),
qsig AS (
  SELECT query_id, qv,
         string_agg(CASE WHEN d >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS base_sig
  FROM qd GROUP BY query_id, qv
){probes_sql},
qbuckets AS (SELECT DISTINCT query_id, qv, bucket FROM ({qbuckets})),
scored AS (
  SELECT DISTINCT b.query_id, s.vec_id AS neighbor_id, {_DUCK_COS.format(a="b.qv", b="s.cv")} AS cosine
  FROM qbuckets b JOIN csig s ON b.bucket = s.bucket AND s.vec_id <> b.query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored) WHERE rank <= 3
"""


def _kmeans_sql() -> str:
    """DuckDB transcription of similarity.kmeans_lloyd (8 cells, 2
    rounds, 64 dims): LCG init (IVF_CENTROID_BASE offset, same recurrence
    as the IVF oracle), then unrolled rounds of argmax-dot assignment
    (ties to the lowest cell via row_number) -> per-(cell, pos)
    round(avg, 4). Both engines round HALF_UP at 4dp between iterations,
    so round 2+ runs on bit-identical centroids; empty cells coalesce to
    the previous round's value with n_members 0."""
    n_iters = 2
    steps = []
    for i in range(1, n_iters + 1):
        if i == 1:  # round 1 dots against the init centroid LISTS
            steps.append(
                f"d{i} AS (SELECT e.vec_id, ct.c, list_dot_product(e.cv, ct.v) AS d "
                "FROM corpus e CROSS JOIN cents0 ct)"
            )
        else:  # later rounds dot against the (cell, pos, m) table form
            steps.append(
                f"d{i} AS (SELECT e.vec_id, ct.c, sum(e.cv[ct.pos + 1] * ct.m) AS d "
                f"FROM corpus e CROSS JOIN c{i - 1} ct GROUP BY e.vec_id, ct.c)"
            )
        steps.append(
            f"a{i} AS (SELECT vec_id, c FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY vec_id ORDER BY d DESC, c) AS rn FROM d{i}) WHERE rn = 1)"
        )
        steps.append(
            f"m{i} AS (SELECT a.c, p.pos, round(avg(e.cv[p.pos + 1]), 4) AS m, "
            f"count(*)::BIGINT AS n FROM a{i} a JOIN corpus e USING (vec_id) "
            "CROSS JOIN p GROUP BY a.c, p.pos)"
        )
        steps.append(
            f"c{i} AS (SELECT c{i - 1}.c, c{i - 1}.pos, "
            f"coalesce(m{i}.m, c{i - 1}.m) AS m, coalesce(m{i}.n, 0) AS n "
            f"FROM c{i - 1} LEFT JOIN m{i} USING (c, pos))"
        )
    return f"""
WITH RECURSIVE {_lcg_vectors_cte(8, 64, 1000, "c", "cents0")},
corpus AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
p AS (SELECT unnest(range(64)) AS pos),
c0 AS (SELECT ct.c, p.pos, ct.v[p.pos + 1] AS m, 0::BIGINT AS n
       FROM cents0 ct CROSS JOIN p),
{", ".join(steps)}
SELECT c::BIGINT AS cell, pos::BIGINT AS pos,
       m + 0.0 AS c_val, n AS n_members
FROM c{n_iters}
"""


@query(
    "SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, "
    "count(*) AS dup_count FROM documents GROUP BY md5(text)"
)
def dedup_exact(spark, sf):
    return D.exact_duplicates(table(spark, sf, "documents"))


@query(_SIG + " SELECT doc_id, band0, band1, band2, band3 FROM bands")
def dedup_minhash_signatures(spark, sf):
    sigs = D.minhash_signatures(table(spark, sf, "documents"))
    return sigs.select("doc_id", "band0", "band1", "band2", "band3")


@query(_SIG + _BANDED + " " + _PAIRS)
def dedup_minhash_pairs(spark, sf):
    return D.minhash_candidate_pairs(table(spark, sf, "documents"))


@query(None)  # rows-only: DuckDB has no xxhash64
def dedup_minhash_pairs_prod(spark, sf):
    """The PRODUCTION hash configuration (hash_fn='xxhash64': one
    64-bit JVM hash per shingle vs 16 md5 string transforms — the
    setting a 100 TB run uses, ~4x cheaper per shingle). md5 remains
    the cross-engine-replayable default certified by
    dedup_minhash_pairs' DuckDB oracle; this variant has no SQL
    oracle (DuckDB lacks xxhash64) so the driver records the weaker
    rows-only check, and bench.py reports THIS path as the headline
    so the published number reflects the scale configuration."""
    return D.minhash_candidate_pairs(
        table(spark, sf, "documents"), hash_fn="xxhash64"
    )


@query(
    _SIG + _BANDED + ", pairs AS (" + _PAIRS + ") "
    "SELECT id_a, id_b, round("
    "len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 4"
    ") AS jaccard FROM pairs "
    "JOIN sh sa ON pairs.id_a = sa.doc_id JOIN sh sb ON pairs.id_b = sb.doc_id"
)
def dedup_ngram_jaccard(spark, sf):
    pairs = D.ngram_jaccard_pairs(table(spark, sf, "documents"))
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@query(
    f"WITH tok AS (SELECT doc_id, unnest(list_distinct({TOKS})) AS t FROM documents), "
    "h AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS hv FROM tok), "
    "votes AS (SELECT doc_id, "
    + ", ".join(f"sum(((hv >> {b}) & 1) * 2 - 1) AS b{b}" for b in range(32))
    + " FROM h GROUP BY doc_id) "
    "SELECT doc_id, ("
    + " + ".join(f"CASE WHEN b{b} > 0 THEN {2**b} ELSE 0 END" for b in range(32))
    + ")::BIGINT AS simhash FROM votes"
)
def dedup_simhash(spark, sf):
    return D.simhash(table(spark, sf, "documents"))


# Chunk-level keep-first dedup: DuckDB's unnest(range(...)) plays the
# role of Spark's posexplode over fixed 12-token windows; the keep-first
# rule is the identical row_number window on the chunk hash ordered by
# (doc_id, chunk_idx).
@query(
    f"WITH t AS (SELECT doc_id, {TOKS} AS w FROM documents), "
    "ix AS (SELECT doc_id, w, unnest(range(0, "
    "CAST(ceil(len(w) / 12.0) AS BIGINT))) AS i FROM t WHERE len(w) > 0), "
    "ch AS (SELECT doc_id, i AS chunk_idx, "
    "array_to_string(w[(i*12+1):(i*12+12)], ' ') AS chunk FROM ix), "
    "chf AS (SELECT doc_id, chunk_idx, chunk FROM ch WHERE chunk <> ''), "
    "r AS (SELECT doc_id, chunk_idx, chunk, row_number() OVER ("
    "PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx) AS rn FROM chf) "
    "SELECT doc_id, count(*) AS total_chunks, "
    "sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS kept_chunks, "
    "coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx) "
    "FILTER (WHERE rn = 1), '') AS dedup_text "
    "FROM r GROUP BY doc_id"
)
def dedup_chunks(spark, sf):
    """CCNet-style paragraph/chunk-level exact dedup: globally
    keep-first over md5 chunk hashes, reassembled per doc. The
    synthetic corpus has no newlines, so the gate runs the
    fixed-word-window mode (12-token chunks); the regex-paragraph
    mode is pytest-covered on crafted multi-paragraph docs."""
    return D.chunk_dedup(table(spark, sf, "documents"))


# Element-concat windowing (the minhash shingle CTE pattern); the
# fraction divides the same two BIGINTs in both engines.
@query(
    f"WITH t AS (SELECT doc_id, {TOKS} AS w FROM documents), "
    "occ AS (SELECT doc_id, unnest(list_transform("
    "range(0, len(w) - 10 + 1), i -> "
    + " || ' ' || ".join(f"w[i + {j}]" for j in range(1, 11))
    + ")) AS win FROM t WHERE len(w) >= 10), "
    "dup AS (SELECT win FROM (SELECT win, count(DISTINCT doc_id) "
    "AS nd FROM occ GROUP BY win) WHERE nd >= 2) "
    "SELECT o.doc_id, count(*)::BIGINT AS n_windows, "
    "sum(CASE WHEN d.win IS NULL THEN 0 ELSE 1 END)::BIGINT "
    "AS dup_windows, "
    "round(sum(CASE WHEN d.win IS NULL THEN 0 ELSE 1 END)::DOUBLE "
    "/ count(*), 4) AS dup_fraction "
    "FROM occ o LEFT JOIN dup d USING (win) GROUP BY o.doc_id"
)
def dedup_repeated_spans(spark, sf):
    """Cross-doc repeated-span fraction: every 10-token window
    (stride 1, exact for any alignment), duplicated when the window
    text appears in >= 2 distinct docs — the cheap ExactSubstr
    relative (operators/dedup.py repeated_span_stats)."""
    return D.repeated_span_stats(table(spark, sf, "documents"))


# Winnowing: gram md5s, window-of-4 list_min (lexicographic, same as
# Spark's array_min on hex strings), distinct (doc, fp), then a
# fingerprint-blocked self-join. Cap never triggers at gate SFs (like
# the minhash oracle, the cap is pytest territory).
@query(
    f"WITH t AS (SELECT doc_id, {TOKS} AS w FROM documents), "
    "g AS (SELECT doc_id, list_transform("
    "range(0, len(w) - 10 + 1), i -> md5("
    + " || ' ' || ".join(f"w[i + {j}]" for j in range(1, 11))
    + ")) AS hs FROM t WHERE len(w) >= 13), "
    "fp AS (SELECT DISTINCT doc_id, unnest(list_transform("
    "range(0, len(hs) - 4 + 1), j -> list_min(hs[j + 1 : j + 4]"
    "))) AS fp FROM g) "
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "count(*)::BIGINT AS n_shared "
    "FROM fp a JOIN fp b USING (fp) WHERE a.doc_id < b.doc_id "
    "GROUP BY a.doc_id, b.doc_id"
)
def dedup_winnow_pairs(spark, sf):
    """Winnowing (MOSS) fingerprint match pairs: min-hash of every
    window of 4 consecutive 10-gram md5s, doc pairs sharing >= 1
    fingerprint with shared-count — guaranteed to catch any shared
    span >= 13 tokens at ~2/5 sampling density
    (operators/dedup.py winnow_fingerprints / winnow_pairs)."""
    pairs, _dropped = D.winnow_pairs(table(spark, sf, "documents"))
    return pairs


@query(None)  # rows-only: DuckDB has no xxhash64
def dedup_winnow_pairs_prod(spark, sf):
    """The PRODUCTION hash configuration of the winnowing pairs
    (hash_fn='xxhash64': one 64-bit JVM hash per gram vs an md5 hex
    string — same fingerprint guarantee, different hash family). md5
    stays the cross-engine default certified by dedup_winnow_pairs'
    DuckDB oracle; this twin has no SQL oracle (DuckDB lacks
    xxhash64) so the driver records the rows-only check, and
    bench.py reports THIS path as the headline."""
    pairs, _dropped = D.winnow_pairs(
        table(spark, sf, "documents"), hash_fn="xxhash64"
    )
    return pairs


# Closure over the SAME banded candidate pairs dedup_minhash_pairs certifies.
@query(
    "WITH RECURSIVE "
    + _SIG[len("WITH ") :]
    + _BANDED
    + ", pairs AS ("
    + _PAIRS
    + "), e AS (SELECT id_a AS a, id_b AS b FROM pairs "
    "UNION SELECT id_b, id_a FROM pairs), "
    "reach(id, r) AS (SELECT a, a FROM e "
    "UNION SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a) "
    "SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY id"
)
def dedup_neardup_clusters(spark, sf):
    """MinHash-LSH candidate pairs closed under transitivity by the
    pipeline's connected-components loop — certifies the CC operator
    against an independent DuckDB recursive-CTE transitive closure
    (its other certification is composite, via kg_agents/kg_triples)."""
    return D.neardup_clusters(table(spark, sf, "documents"))


_COS = _DUCK_COS.format(a="a.embedding::DOUBLE[]", b="b.embedding::DOUBLE[]")


@query(
    "SELECT query_id, neighbor_id, cosine, rank FROM ("
    "SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, "
    f"{_COS} AS cosine, "
    f"row_number() OVER (PARTITION BY b.vec_id ORDER BY {_COS} DESC, a.vec_id ASC) AS rank "
    "FROM embeddings a CROSS JOIN embeddings b "
    "WHERE b.vec_id < 5 AND a.vec_id >= 5) WHERE rank <= 3"
)
def ann_cosine_top3(spark, sf):
    corpus, queries_df = _ann_split(spark, sf)
    return S.cosine_topk(corpus, queries_df, k=3)


@query(_ann_lsh_sql(n_probes=0))
def ann_lsh_top3(spark, sf):
    corpus, queries_df = _ann_split(spark, sf)
    return S.lsh_bucket_topk(corpus, queries_df, k=3)


@query(_ann_lsh_sql(n_probes=3))
def ann_lsh_multiprobe_top3(spark, sf):
    corpus, queries_df = _ann_split(spark, sf)
    return S.lsh_bucket_topk(corpus, queries_df, k=3, n_probes=3)


# DuckDB transcription of similarity.ivf_topk: 16 LCG centroids (offset
# IVF_CENTROID_BASE=1000), argmax-dot cell per corpus vector (ties to
# the lowest index — row_number ORDER BY d DESC, c), top-4 cells per
# query, exact cosine re-rank within probed cells.
@query(f"""
WITH RECURSIVE {_lcg_vectors_cte(16, 64, 1000, "c", "cents")},
corpus AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
qs AS (SELECT vec_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
cd AS (
  SELECT e.vec_id, e.cv, ct.c, list_dot_product(e.cv, ct.v) AS d
  FROM corpus e CROSS JOIN cents ct
),
cells AS (
  SELECT vec_id, cv, c FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, c) AS rn
    FROM cd) WHERE rn = 1
),
qd AS (
  SELECT q.vec_id AS query_id, q.qv, ct.c, list_dot_product(q.qv, ct.v) AS d
  FROM qs q CROSS JOIN cents ct
),
qcells AS (
  SELECT query_id, qv, c FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d DESC, c) AS rn
    FROM qd) WHERE rn <= 4
),
scored AS (
  SELECT b.query_id, s.vec_id AS neighbor_id, {_DUCK_COS.format(a="b.qv", b="s.cv")} AS cosine
  FROM qcells b JOIN cells s USING (c) WHERE s.vec_id <> b.query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored) WHERE rank <= 3
""")
def ann_ivf_top3(spark, sf):
    corpus, queries_df = _ann_split(spark, sf)
    return S.ivf_topk(corpus, queries_df, k=3)


@query(_kmeans_sql())
def ann_kmeans_refine(spark, sf):
    """Quantized Lloyd k-means over the full embeddings table: LCG
    init shared with the IVF oracle family, two assign->mean rounds
    with HALF_UP 4dp centroid quantization between rounds so the
    DuckDB unrolled replay iterates on bit-identical centroids
    (operators/similarity.py kmeans_lloyd). Certifies the final
    centroid table (cell, pos, c_val) plus last-round membership
    counts."""
    return S.kmeans_lloyd(table(spark, sf, "embeddings"))


# SQ8: corpus-grid codes, integer dot (<= 64 * 255^2, exact in any
# engine); degenerate dims span-default 1.0 on both sides.
@query(
    "WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS cv "
    "FROM embeddings WHERE len(embedding) = 64 AND vec_id >= 5), "
    "qs AS (SELECT vec_id, embedding::DOUBLE[] AS cv "
    "FROM embeddings WHERE len(embedding) = 64 AND vec_id < 5), "
    "p AS (SELECT unnest(range(64)) AS pos), "
    "ext AS (SELECT pos, min(cv[pos + 1]) AS lo, "
    "CASE WHEN max(cv[pos + 1]) > min(cv[pos + 1]) "
    "THEN max(cv[pos + 1]) - min(cv[pos + 1]) ELSE 1.0 END AS span "
    "FROM corpus CROSS JOIN p GROUP BY pos), "
    "cc AS (SELECT vec_id, pos, "
    "round((cv[pos + 1] - lo) * 255 / span)::BIGINT AS code "
    "FROM corpus CROSS JOIN ext), "
    "qc AS (SELECT vec_id, pos, "
    "round((cv[pos + 1] - lo) * 255 / span)::BIGINT AS code "
    "FROM qs CROSS JOIN ext), "
    "dots AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
    "sum(q.code * c.code)::BIGINT AS dot_q "
    "FROM qc q JOIN cc c USING (pos) GROUP BY 1, 2) "
    "SELECT query_id, neighbor_id, dot_q, rank FROM ("
    "SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY dot_q DESC, neighbor_id ASC) AS rank FROM dots) "
    "WHERE rank <= 3"
)
def ann_sq8_top3(spark, sf):
    """Scalar-quantized (SQ8/uint8) brute-force top-3: per-dim
    corpus min/max grid, integer dot scoring — the memory-bound ANN
    technique (4x compression) with EXACT BIGINT scores, so the
    ranking is bit-reproducible cross-engine with no float rounding
    games (operators/similarity.py sq8_codes / sq8_topk)."""
    corpus, queries_df = _ann_split(spark, sf)
    return S.sq8_topk(corpus, queries_df, k=3)


# JL projection: LCG plane family at offset RP_BASE=2000, list(d ORDER
# BY j) rebuilds the projected vector, cosine rounded 4dp
# (BLAS-vs-sequential dot parity per the ANN precedent).
@query(
    "WITH RECURSIVE "
    + _lcg_vectors_cte(16, 64, 2000, "j", "planes")
    + ", corpus AS (SELECT vec_id, embedding::DOUBLE[] AS cv "
    "FROM embeddings WHERE len(embedding) = 64 AND vec_id >= 5), "
    "qs AS (SELECT vec_id, embedding::DOUBLE[] AS cv "
    "FROM embeddings WHERE len(embedding) = 64 AND vec_id < 5), "
    "cr AS (SELECT vec_id, list(d ORDER BY j) AS rv FROM ("
    "SELECT e.vec_id, pl.j, list_dot_product(e.cv, pl.v) AS d "
    "FROM corpus e CROSS JOIN planes pl) GROUP BY vec_id), "
    "qr AS (SELECT vec_id, list(d ORDER BY j) AS rv FROM ("
    "SELECT e.vec_id, pl.j, list_dot_product(e.cv, pl.v) AS d "
    "FROM qs e CROSS JOIN planes pl) GROUP BY vec_id), "
    "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
    + _DUCK_COS.format(a="q.rv", b="c.rv")
    + " AS cosine_rp FROM qr q CROSS JOIN cr c "
    "WHERE q.vec_id <> c.vec_id) "
    "SELECT query_id, neighbor_id, cosine_rp, rank FROM ("
    "SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY cosine_rp DESC, neighbor_id ASC) AS rank FROM scored) "
    "WHERE rank <= 3"
)
def ann_rp_top3(spark, sf):
    """Johnson-Lindenstrauss random-projection top-3: project 64-dim
    embeddings to 16 dims through the deterministic LCG plane family
    (one Arrow matmul per batch), then cosine-rank in the projected
    space — the float-compression ANN member next to LSH bits, IVF
    cells, and SQ8 int8 (operators/similarity.py rp_project /
    rp_topk)."""
    corpus, queries_df = _ann_split(spark, sf)
    return S.rp_topk(corpus, queries_df, k=3)


# DuckDB transcription of similarity.embedding_neardup_pairs: the first
# 4 LSH planes (offset 0), sign-bit buckets over ALL vectors,
# within-bucket self-join, exact cosine >= 0.35. The max_bucket cap never
# triggers at these SFs, so the oracle omits it.
@query(f"""
WITH RECURSIVE {_lcg_vectors_cte(4, 64, 0, "p", "planes")},
vecs AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
sig AS (
  SELECT v.vec_id, v.cv,
         string_agg(CASE WHEN list_dot_product(v.cv, pl.v) >= 0 THEN '1' ELSE '0' END,
                    '' ORDER BY pl.p) AS bucket
  FROM vecs v CROSS JOIN planes pl GROUP BY v.vec_id, v.cv
)
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_DUCK_COS.format(a="a.cv", b="b.cv")} AS cosine
  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
) WHERE cosine >= 0.35
""")
def dedup_embedding_neardup(spark, sf):
    pairs, _dropped = S.embedding_neardup_pairs(table(spark, sf, "embeddings"))
    return pairs
