"""Embedding similarity search over an `array<float>` column.

- ``cosine_topk``       — brute-force top-k: the correctness baseline.
  Cross join is bounded by an explicit query-set size; score computed
  JVM-side (zip_with + aggregate), no Python.
- ``lsh_bucket_topk``   — the scale path: random-hyperplane LSH buckets
  (sign of dot(v, r_i) for H deterministic pseudo-random planes) so each
  query only scans its bucket. One shuffle keyed by bucket signature.
  Corpus-side signatures come from an Arrow-batched numpy matmul (one
  BLAS call per batch). The in-bucket exact re-rank likewise scores
  candidate pairs in an Arrow kernel (_pair_cosine_kernel) — raw cosine
  from numpy, decimal rounding kept JVM-side for oracle parity.

- ``ivf_topk``          — IVF-flat: corpus vectors live in exactly ONE
  argmax-dot centroid cell (narrow map + one hash join); queries probe
  their best IVF_PROBES cells. Deterministic LCG centroids; ``kmeans_lloyd``
  runs quantized Lloyd iterations over the same init.
- ``embedding_neardup_pairs`` — the dedup-family face of this module:
  sign-LSH blocked self-join + exact cosine ≥ threshold, with a
  degenerate-bucket cap that returns the dropped buckets.

At 100 TB / billions of vectors the brute force is only for re-ranking
within buckets/cells; LSH and IVF are the scale paths.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from serialization_agents_spark.parallel import spread

# Every operator reads (vec_id, embedding) rows of DIM floats.
DIM = 64
SEED = 42  # of every LCG plane / centroid family
TOPK = 3  # neighbors per query
LSH_PLANES = 8
IVF_CELLS = 16
IVF_PROBES = 4  # cells a query scans
KMEANS_CELLS = 8
KMEANS_ITERS = 2
RP_DIM = 16  # random-projection output width
NEARDUP_PLANES = 4
NEARDUP_THRESHOLD = 0.35  # min cosine of a near-duplicate pair


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """Brute-force cosine top-TOPK: every query row against every corpus row.
    queries must be small (it is broadcast); corpus side streams. Cosine
    is rounded to 4dp before the ranking, for oracle parity."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = spread(embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    ))
    scored = c.crossJoin(F.broadcast(q)).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    sim = F.round(cosine(F.col("qv"), F.col("cv")), 4)
    scored = scored.select("query_id", "neighbor_id", sim.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK)
        .select(
            "query_id", "neighbor_id", "cosine",
            F.col("rank").cast("long").alias("rank"),  # BIGINT parity w/ SQL engines
        )
    )


def _hyperplane(dim: int, seed: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane (no RNG state): components
    from a hash-like LCG of (seed, plane, i), centered on 0. The driver
    oracle transcribes this exact LCG as a recursive CTE (DuckDB), so
    buckets are cross-engine reproducible."""
    out = []
    x = (seed * 1_000_003 + plane * 7919 + 12345) & 0x7FFFFFFF
    for _ in range(dim):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        out.append((x / 0x7FFFFFFF) * 2.0 - 1.0)
    return out


def _stack_valid(series, dim: int):
    """(mask, matrix) for an Arrow column of embeddings: rows that are
    NULL or not exactly `dim` floats are masked out instead of crashing
    np.stack — one bad row must not kill a 100 TB job. The kernels emit
    NULL for masked rows, which drops out of every equi-join."""
    import numpy as np

    mask = np.array(
        [v is not None and len(v) == dim for v in series], dtype=bool
    )
    if not mask.any():
        return mask, np.empty((0, dim), dtype=np.float64)
    V = np.stack(
        [np.asarray(v, dtype=np.float64) for v, ok in zip(series, mask) if ok]
    )
    return mask, V


def _bucket_kernel(planes: list[list[float]], id_out: str, vec_out: str):
    """mapInPandas kernel computing LSH bucket signatures with ONE numpy
    matmul per Arrow batch (BLAS dgemm), instead of per-row interpreted
    F.aggregate HOFs x n_planes x dim, which never enter codegen and
    dominate at corpus scale. Vector math is the one case where
    Arrow-batched Python beats interpreted JVM expressions.

    NULL / wrong-length vectors get a NULL bucket (dropped by the
    downstream equi-join) rather than crashing the stack — matching the
    garbage-input posture of tests/test_robustness.py.

    Sign parity note: summation order differs from the sequential fold
    (BLAS is blocked/SIMD), so a dot within ~1e-15 of 0 could flip
    engines' sign. Components are O(1) draws, so in practice signs —
    hence buckets — agree (asserted against the DuckDB oracles in
    tests/test_similarity.py and by the driver gate).
    """
    import numpy as np

    P = np.asarray(planes, dtype=np.float64)  # (H, dim)
    dim = P.shape[1]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bit = np.array(["0", "1"])
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mask, V = _stack_valid(pdf[vec_out], dim)
            D = V @ P.T  # (n_valid, H): one BLAS call per batch
            good = ["".join(r) for r in bit[(D >= 0).astype(np.int8)]]
            it = iter(good)
            sigs = [next(it) if ok else None for ok in mask]
            yield pd.DataFrame(
                {id_out: pdf[id_out].values, vec_out: pdf[vec_out].values,
                 "bucket": sigs}
            )

    return kernel


def _pair_cosine_kernel(a_id: str, b_id: str, a_vec: str, b_vec: str, dim: int):
    """Arrow-batched exact-cosine scorer for CANDIDATE PAIRS (the
    in-bucket / in-cell re-rank): row-wise dot + norms as three
    vectorized numpy ops per batch, replacing an interpreted
    `F.aggregate(zip_with(...))` per pair x dim — the same HOF trap the
    round-3 bucket kernels removed, one stage later. Emits the RAW
    cosine; the caller applies Spark-side `F.round` so decimal rounding
    stays engine-owned (HALF_UP — numpy rounds half-to-even, never use
    it for oracle-facing values). Invalid/zero-norm rows yield NULL.
    """
    import numpy as np

    def _mask(series):
        return np.array(
            [v is not None and len(v) == dim for v in series], dtype=bool
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            both = _mask(pdf[a_vec]) & _mask(pdf[b_vec])
            out = np.full(len(pdf), np.nan)
            if both.any():
                Af = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[a_vec][both]]
                )
                Bf = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[b_vec][both]]
                )
                denom = np.linalg.norm(Af, axis=1) * np.linalg.norm(Bf, axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    out[both] = np.einsum("ij,ij->i", Af, Bf) / denom
            cos = pd.Series(out).where(np.isfinite(out), None)
            yield pd.DataFrame(
                {a_id: pdf[a_id].values, b_id: pdf[b_id].values, "cosine_raw": cos}
            )

    return kernel


def _score_pairs(
    joined: DataFrame,
    a_id: str,
    b_id: str,
    a_vec: str,
    b_vec: str,
    dim: int,
) -> DataFrame:
    """(a_id, b_id, cosine) for a candidate-pair frame carrying both
    vectors, scored by _pair_cosine_kernel and rounded Spark-side."""
    scored = joined.select(a_id, b_id, a_vec, b_vec).mapInPandas(
        _pair_cosine_kernel(a_id, b_id, a_vec, b_vec, dim),
        f"{a_id} long, {b_id} long, cosine_raw double",
    )
    return scored.select(
        a_id, b_id, F.round(F.col("cosine_raw"), 4).alias("cosine")
    )


def lsh_bucket_topk(
    embeddings: DataFrame, queries: DataFrame, n_probes: int = 0
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit signature over LSH_PLANES.
    Query and corpus rows meet in a hash join on the bucket key, then
    exact cosine re-ranks within the bucket.

    `n_probes` > 0 enables MULTI-PROBE: each query additionally probes
    the buckets reached by flipping its `n_probes` lowest-|margin| sign
    bits (the planes the vector sits closest to — where hashing noise
    most likely flipped a true neighbor). Recall rises steeply with a
    few probes while the corpus side stays one-bucket-per-vector, so the
    join fan-out is only (1 + n_probes) x queries — not corpus-sized.

    The CORPUS side (billions of vectors at scale) computes its bucket
    via an Arrow-batched numpy matmul (see _bucket_kernel). The query
    side is small and stays on expressions (its per-plane margins also
    drive the multi-probe bit ranking).
    """
    planes = [_hyperplane(DIM, SEED, p) for p in range(LSH_PLANES)]

    def dots(vec: Column) -> Column:
        return F.array(
            *[_dot(vec, F.array(*[F.lit(float(w)) for w in plane])) for plane in planes]
        )

    def sig_from_dots(d: Column) -> Column:
        return F.array_join(
            F.transform(d, lambda x: F.when(x >= 0, "1").otherwise("0")), ""
        )

    c = spread(embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )).mapInPandas(
        _bucket_kernel(planes, "neighbor_id", "cv"),
        "neighbor_id long, cv array<double>, bucket string",
    )

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    ).withColumn("_d", dots(F.col("qv")))
    base_sig = sig_from_dots(F.col("_d"))
    if n_probes > 0:
        # indices of the n_probes smallest |margin| bits, via sorted
        # (|margin|, idx) structs; flip each in the base signature.
        ranked = F.slice(
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(0), F.lit(LSH_PLANES - 1)),
                    lambda i: F.struct(
                        F.abs(F.element_at(F.col("_d"), i + 1)).alias("m"),
                        i.alias("i"),
                    ),
                )
            ),
            1, n_probes,
        )

        def _flip(sig: Column, i: Column) -> Column:
            return F.concat(
                F.substr(sig, F.lit(1), i),
                F.when(F.substr(sig, i + 1, F.lit(1)) == "1", "0").otherwise("1"),
                F.substr(sig, i + 2, F.lit(LSH_PLANES)),
            )

        probes = F.transform(ranked, lambda s: _flip(base_sig, s["i"]))
        q = q.withColumn(
            "bucket", F.explode(F.array_union(F.array(base_sig), probes))
        ).drop("_d")
    else:
        q = q.withColumn("bucket", base_sig).drop("_d")

    cand = c.join(q, "bucket").where(F.col("neighbor_id") != F.col("query_id"))
    scored = _score_pairs(
        cand, "query_id", "neighbor_id", "qv", "cv", DIM
    ).dropDuplicates(["query_id", "neighbor_id"])
    # multi-probe: a pair can meet in several probed buckets -> dedup
    return _topk(scored)


def _topk(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK)
        .select(
            "query_id", "neighbor_id", "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# IVF-flat ANN
# ---------------------------------------------------------------------------
IVF_CENTROID_BASE = 1000  # LCG index offset decoupling centroids from LSH planes


def ivf_centroids(n_centroids: int) -> list[list[float]]:
    """Deterministic centroids from the same LCG family as the LSH planes
    (offset so the two never coincide). The driver oracle transcribes the
    identical recurrence; `kmeans_lloyd` starts from these."""
    return [_hyperplane(DIM, SEED, IVF_CENTROID_BASE + c) for c in range(n_centroids)]


def _cell_kernel(centroids: list[list[float]], id_out: str, vec_out: str):
    """Arrow-batched argmax-dot cell assignment: one BLAS matmul per
    batch; ties take the LOWEST centroid index (np.argmax first-max)."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mask, V = _stack_valid(pdf[vec_out], C.shape[1])
            good = (V @ C.T).argmax(axis=1).astype("int32")
            it = iter(good)
            cells = [int(next(it)) if ok else None for ok in mask]
            yield pd.DataFrame(
                {id_out: pdf[id_out].values, vec_out: pdf[vec_out].values,
                 "cell": pd.array(cells, dtype="Int32")}
            )

    return kernel


def ivf_topk(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF-flat: each corpus vector is assigned to its single best
    (argmax dot) of IVF_CELLS centroid cells — a NARROW map (numpy
    matmul per Arrow batch) — and each query probes its IVF_PROBES best
    cells.
    Exact cosine re-ranks inside the probed cells, so one hash join on
    `cell` is the only shuffle and recall follows the probe count. A
    corpus row lives in exactly one cell, so no pair-dedup is needed.

    At scale: IVF_CELLS grows ~sqrt(corpus) (cells stay bounded), the
    centroid table stays a broadcast literal, and cell assignment is
    still one narrow matmul pass — the standard IVF layout.
    """
    cents = ivf_centroids(IVF_CELLS)

    def cell_structs(vec: Column) -> list[Column]:
        # (-dot, idx) structs: array_min/array_sort give argmax-by-dot
        # with ties to the LOWEST index — same as np.argmax.
        return [
            F.struct(
                (-_dot(vec, F.array(*[F.lit(float(w)) for w in cv]))).alias("nd"),
                F.lit(ci).alias("c"),
            )
            for ci, cv in enumerate(cents)
        ]

    c = spread(embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )).mapInPandas(
        _cell_kernel(cents, "neighbor_id", "cv"),
        "neighbor_id long, cv array<double>, cell int",
    )

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    ).withColumn(
        "cell",
        F.explode(
            F.transform(
                F.slice(F.array_sort(F.array(*cell_structs(F.col("qv")))), 1, IVF_PROBES),
                lambda s: s["c"],
            )
        ),
    )

    cand = c.join(q, "cell").where(F.col("neighbor_id") != F.col("query_id"))
    scored = _score_pairs(cand, "query_id", "neighbor_id", "qv", "cv", DIM)
    return _topk(scored)


def _cell_sum_kernel(centroids: list[list[float]], vec_in: str):
    """Fused argmax-dot assignment + per-cell component sums for the
    Lloyd mean step: one BLAS matmul per batch, then a row-order
    scatter-add into (n_cells x dim) accumulators. Emits one
    (cell, pos, s, n) row per non-empty cell component per batch —
    bounded by cells x dim, never by the row count — replacing the
    posexplode of every vector component AND the Arrow return trip of
    the vectors themselves. Invalid (NULL/ragged) vectors are masked
    out, matching the old NULL-cell filter."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    k, d = C.shape

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mask, V = _stack_valid(pdf[vec_in], d)
            if not mask.any():
                continue
            cells = (V @ C.T).argmax(axis=1)
            sums = np.zeros((k, d))
            cnts = np.zeros(k, dtype="int64")
            np.add.at(sums, cells, V)  # sequential, row order
            np.add.at(cnts, cells, 1)
            nz = np.nonzero(cnts)[0]
            yield pd.DataFrame(
                {
                    "cell": np.repeat(nz, d).astype("int32"),
                    "pos": np.tile(np.arange(d, dtype="int32"), len(nz)),
                    "s": sums[nz].ravel(),
                    "n": np.repeat(cnts[nz], d),
                }
            )

    return kernel


def kmeans_lloyd(embeddings: DataFrame) -> DataFrame:
    """Quantized Lloyd k-means over KMEANS_CELLS cells, cross-engine
    reproducible: deterministic LCG init (`ivf_centroids`), then
    KMEANS_ITERS rounds of Arrow argmax-dot
    assignment (ties to the LOWEST cell) -> per-(cell, pos) mean rounded
    HALF_UP to 4dp IN SPARK (F.round, never Python's banker's round), so
    every iteration after the first runs on bit-identical centroid inputs
    in any engine replaying the same recurrence. Empty cells keep their
    previous centroid with n_members = 0; NULL/ragged vectors are dropped
    from the vote (the kernel emits a NULL cell for them).

    Returns one row per (cell, pos): (cell, pos, c_val, n_members) —
    the final centroid table plus the last assignment's membership
    counts. The distributed work is the per-iteration assignment scan and
    the (cells x dim)-row mean shuffle; only the tiny centroid table
    (KMEANS_CELLS x DIM, bounded by construction like the IVF centroid
    broadcast) is collected per round.
    """
    spark = embeddings.sparkSession
    cents = ivf_centroids(KMEANS_CELLS)
    counts: dict[int, int] = {}
    emb = spread(embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    ))
    for _ in range(KMEANS_ITERS):
        # assignment AND per-cell partial sums in one Arrow pass: the
        # kernel emits (cell, pos, s, n) batch subtotals — cells x dim
        # rows per batch — so vectors never ship back out of Python and
        # the (n_rows x dim) posexplode disappears. np.add.at scatters
        # in ROW ORDER, the same order the old per-partition partial
        # aggregation summed in, so float behavior is unchanged at the
        # combine structure level; the mean is still rounded HALF_UP 4dp
        # IN SPARK from (sum, count), exactly as before.
        stats = (
            emb.mapInPandas(
                _cell_sum_kernel(cents, "cv"),
                "cell int, pos int, s double, n long",
            )
            .groupBy("cell", "pos")
            .agg(
                F.round(F.sum("s") / F.sum("n"), 4).alias("m"),
                F.sum("n").alias("n"),
            )
            .collect()
        )
        new = [list(c) for c in cents]
        counts = {}
        for r in stats:
            new[r["cell"]][r["pos"]] = r["m"]
            counts[r["cell"]] = r["n"]
        cents = new
    rows = [  # + 0.0 folds IEEE -0.0 to +0.0 (DuckDB round keeps the sign)
        (c, p, float(cents[c][p]) + 0.0, int(counts.get(c, 0)))
        for c in range(KMEANS_CELLS)
        for p in range(DIM)
    ]
    return spark.createDataFrame(
        rows, "cell long, pos long, c_val double, n_members long"
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (dedup-family member)
# ---------------------------------------------------------------------------
NEARDUP_MAX_BUCKET = 4096  # vectors per LSH bucket before it is dropped


def embedding_neardup_pairs(embeddings: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Near-duplicate (id_a, id_b, cosine) pairs: sign-LSH blocking
    (self-join within buckets, never all-pairs) + exact cosine >=
    NEARDUP_THRESHOLD — the embedding-space member of the dedup family,
    same shape as MinHash-LSH -> n-gram-Jaccard verify.

    Scale: bucket count is 2^NEARDUP_PLANES — grow it with the corpus so
    per-bucket membership stays bounded; degenerate buckets (all-zero or
    boilerplate embeddings) over NEARDUP_MAX_BUCKET vectors are dropped
    and returned, not silently joined; logging the drop is the
    caller's.

    Returns (pairs, dropped_buckets(bucket, bucket_size)).
    """
    planes = [_hyperplane(DIM, SEED, p) for p in range(NEARDUP_PLANES)]
    v = spread(embeddings.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("cv"),
    ))
    sigs = v.mapInPandas(
        _bucket_kernel(planes, "vid", "cv"),
        "vid long, cv array<double>, bucket string",
    )

    sizes = sigs.groupBy("bucket").agg(F.count(F.lit(1)).alias("bucket_size"))
    dropped = sizes.where(F.col("bucket_size") > NEARDUP_MAX_BUCKET)
    sigs = sigs.join(F.broadcast(dropped.select("bucket")), "bucket", "left_anti")

    # one grouped shuffle keyed by bucket (each vector crosses ONCE),
    # then a blocked in-kernel GEMM per bucket — never a pair join that
    # re-ships both vectors per candidate. NULL buckets (invalid vectors)
    # are dropped, as an equi-join on the bucket would drop them.
    scored = (
        sigs.where(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .applyInPandas(
            _bucket_gram_kernel(DIM, NEARDUP_THRESHOLD),
            "id_a long, id_b long, cosine_raw double",
        )
    )
    pairs = scored.select(
        "id_a", "id_b", F.round("cosine_raw", 4).alias("cosine")
    ).where(F.col("cosine") >= NEARDUP_THRESHOLD)
    return pairs, dropped


def _bucket_gram_kernel(dim: int, threshold: float):
    """Per-BUCKET pair scorer for the near-dup self-join: one blocked
    numpy GEMM over the bucket's vector matrix instead of materializing
    every candidate pair row (which ships BOTH 64-dim vectors per pair
    through the shuffle and the Arrow boundary — ~n^2/2 x 1 KB per
    bucket, the dominant cost of the old plan). Each vector now crosses
    the shuffle exactly once; the O(n^2) score matrix exists only as
    transient numpy blocks inside the kernel, and only pairs at or
    above a conservative raw cutoff are emitted (the authoritative
    HALF_UP 4dp round + threshold filter stays Spark-side, exactly as
    before, so engine-owned rounding is unchanged).

    The raw cutoff undershoots the threshold by slightly more than half
    an ulp of the 4dp grid (5e-5 + fuzz): every pair the Spark filter
    could keep is emitted; extras are dropped by the same filter.

    Memory is bounded: groups are capped at NEARDUP_MAX_BUCKET rows
    upstream, and the score matrix is computed in 1024-row blocks
    (~32 MB each).
    """
    import numpy as np

    cut = threshold - 5e-5 - 1e-9

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        mask, V = _stack_valid(pdf["cv"], dim)
        ids = pdf["vid"].values[mask]
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_raw": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine_raw": "float64"}
            )
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V = V[order]
        norms = np.linalg.norm(V, axis=1)
        out_a, out_b, out_c = [], [], []
        block = 1024
        for s in range(0, n, block):
            e = min(s + block, n)
            S = V[s:e] @ V.T  # raw dots, one BLAS call per block
            with np.errstate(divide="ignore", invalid="ignore"):
                S = S / (norms[s:e, None] * norms[None, :])
            # upper triangle only (id_a < id_b via the sort), >= cutoff
            rows, cols = np.nonzero(
                np.isfinite(S) & (S >= cut)
                & (np.arange(n)[None, :] > (s + np.arange(e - s))[:, None])
            )
            out_a.append(ids[rows + s])
            out_b.append(ids[cols])
            out_c.append(S[rows, cols])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a).astype("int64"),
                "id_b": np.concatenate(out_b).astype("int64"),
                "cosine_raw": np.concatenate(out_c),
            }
        )

    return kernel


def sq8_codes(embeddings: DataFrame) -> tuple[DataFrame, list[float], list[float]]:
    """Scalar quantization to uint8 codes (the SQ8 of FAISS-style ANN):
    per-dimension global [min, max] linear grid, code_i = round(
    (x_i - min_i) * 255 / (max_i - min_i)) — 4x smaller vectors, and
    integer arithmetic downstream (an int8 dot of 64 dims maxes at
    64 * 255^2 ≈ 4.2e6: exactly representable, so scoring is
    bit-reproducible in ANY engine, unlike float cosine).

    The per-dim extrema are ONE posexplode agg (64 rows, collected
    driver-side like the IVF centroid table — bounded by dim, never by
    corpus). Degenerate dims (max == min) code to 0. NULL/ragged
    vectors get NULL codes (dropped by downstream joins).

    Returns (codes_df(id, code array<int>), mins, maxs).
    """
    v = spread(
        embeddings.select(
            F.col("vec_id").alias("vid"),
            F.col("embedding").cast("array<double>").alias("cv"),
        ).where(F.size("embedding") == DIM)
    )
    ext = (
        v.select(F.posexplode("cv").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    )
    mins = [0.0] * DIM
    maxs = [0.0] * DIM
    for r in ext:
        mins[r["pos"]], maxs[r["pos"]] = r["lo"], r["hi"]
    lo = F.array(*[F.lit(float(m)) for m in mins])
    span = F.array(
        *[F.lit(float(h - m) if h > m else 1.0) for m, h in zip(mins, maxs)]
    )
    code = F.transform(
        F.col("cv"),
        lambda x, i: F.round(
            (x - F.element_at(lo, i + 1)) * 255 / F.element_at(span, i + 1)
        ).cast("int"),
    )
    return v.select("vid", code.alias("code")), mins, maxs


def sq8_topk(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """Top-TOPK neighbors by integer dot product over SQ8 codes:
    (query_id, neighbor_id, dot_q, rank). The quantization grid comes
    from the CORPUS side only (queries are coded with the same grid, as
    a production index would). Scoring is exact BIGINT — ties break on
    neighbor_id. Same broadcast-bounded shape as cosine_topk; at scale
    the 4x code compression is the point (memory-bound brute force).
    """
    codes, mins, maxs = sq8_codes(embeddings)
    lo = F.array(*[F.lit(float(m)) for m in mins])
    span = F.array(
        *[F.lit(float(h - m) if h > m else 1.0) for m, h in zip(mins, maxs)]
    )
    qv = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    ).where(F.size("embedding") == DIM)
    qcode = qv.select(
        "query_id",
        F.transform(
            F.col("cv"),
            lambda x, i: F.round(
                (x - F.element_at(lo, i + 1)) * 255 / F.element_at(span, i + 1)
            ).cast("int"),
        ).alias("qcode"),
    )
    scored = F.broadcast(qcode).crossJoin(
        codes.withColumnRenamed("vid", "neighbor_id")
    ).select(
        "query_id", "neighbor_id",
        F.aggregate(
            F.zip_with("qcode", "code", lambda a, b: (a * b).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dot_q"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_q").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK)
        .select(
            "query_id", "neighbor_id", "dot_q",
            F.col("rank").cast("long").alias("rank"),  # BIGINT parity
        )
    )


RP_BASE = 2000  # LCG offset for the JL projection family (decoupled
# from LSH planes at 0 and IVF centroids at 1000)


def rp_project(embeddings: DataFrame) -> DataFrame:
    """Johnson-Lindenstrauss random projection to RP_DIM dims: one
    numpy matmul per Arrow batch against a deterministic LCG plane
    matrix (the same family as the LSH/IVF vectors, offset RP_BASE, so
    a SQL oracle replays the projection exactly). 4x dimensionality
    reduction with distance preservation ~ O(sqrt(log n / RP_DIM))
    distortion — the float-compression member of the ANN family next to
    LSH (bits), IVF (cells), and SQ8 (int8). NULL/ragged vectors
    project to NULL (dropped by downstream joins).

    Returns (id, rv array<double>).
    """
    import numpy as np

    dim = DIM  # bound on the driver: the kernel runs in Python workers
    P = np.asarray(
        [_hyperplane(dim, SEED, RP_BASE + j) for j in range(RP_DIM)],
        dtype=np.float64,
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mask, V = _stack_valid(pdf["cv"], dim)
            R = V @ P.T
            it = iter(R)
            rows = [list(next(it)) if ok else None for ok in mask]
            yield pd.DataFrame({"vid": pdf["vid"].values, "rv": rows})

    return spread(embeddings.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )).mapInPandas(kernel, "vid long, rv array<double>")


def rp_topk(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """Top-TOPK by cosine in the PROJECTED space (query_id, neighbor_id,
    cosine_rp, rank) — brute force over 4x-smaller vectors; at scale the
    projection feeds the same LSH/IVF blocking as the full vectors,
    with memory and bandwidth cut by DIM/RP_DIM."""
    c = rp_project(embeddings)
    q = rp_project(queries)
    scored = (
        F.broadcast(
            q.select(F.col("vid").alias("query_id"), F.col("rv").alias("qv"))
        )
        .crossJoin(c.select(F.col("vid").alias("neighbor_id"), F.col("rv").alias("cv")))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 4).alias("cosine_rp"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_rp").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK)
        .select(
            "query_id", "neighbor_id", "cosine_rp",
            F.col("rank").cast("long").alias("rank"),
        )
    )
