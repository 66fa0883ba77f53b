"""Similarity search: brute-force exactness, LSH recall of the top match."""

from __future__ import annotations

import math

import pytest

from serialization_agents_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


def _patch(monkeypatch, **constants):
    for name, value in constants.items():
        monkeypatch.setattr(S, name, value)


def _emb(spark):
    # 8-dim vectors: 0/1 nearly parallel, 2 orthogonal-ish, 3 opposite of 0
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0, 0.5, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0, 0.5, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0, 0.0, 0.5, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0, -0.5, 0.0, 0.0, 0.0]),
        (4, [0.85, 0.15, 0.05, 0.0, 0.5, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_exact(spark):
    emb = _emb(spark)
    q = emb.where("vec_id = 0")
    corpus = emb.where("vec_id != 0")
    out = S.cosine_topk(corpus, q).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order[0] in (1, 4) and order[1] in (1, 4)  # the two near-parallels
    assert order[2] == 2
    # verify the actual cosine value against numpy-free math
    a = [1.0, 0.0, 0.0, 0.0, 0.5, 0.0, 0.0, 0.0]
    b = [0.9, 0.1, 0.0, 0.0, 0.5, 0.0, 0.0, 0.0]
    want = sum(x * y for x, y in zip(a, b)) / (
        math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
    )
    got = {r["neighbor_id"]: r["cosine"] for r in out}[1]
    assert abs(got - round(want, 4)) < 1e-9


def test_lsh_bucket_topk_finds_parallel_vector(spark, monkeypatch):
    _patch(monkeypatch, LSH_PLANES=4, DIM=8)
    emb = _emb(spark)
    q = emb.where("vec_id = 0")
    corpus = emb.where("vec_id != 0")
    out = S.lsh_bucket_topk(corpus, q).collect()
    # sign-signature of near-parallel vectors matches the query's bucket
    ids = {r["neighbor_id"] for r in out}
    assert 1 in ids or 4 in ids
    assert 3 not in ids  # opposite vector lands in the complement bucket


@pytest.mark.parametrize(
    "name",
    ["ann_lsh_top3", "ann_lsh_multiprobe_top3", "ann_ivf_top3",
     "dedup_embedding_neardup"],
)
def test_ann_kernels_match_duckdb_oracle(spark, name):
    """The Arrow kernels (corpus bucket/cell assignment, pair re-rank,
    per-bucket GEMM) must return exactly the DuckDB oracle's rows on a
    real embeddings table — pinning that BLAS summation order never
    flips a sign bit or crosses a 4dp rounding boundary on this data."""
    import duckdb

    import __spark_entry__ as entry

    got = sorted(tuple(r) for r in entry.queries()[name](spark, SF).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{SF}/embeddings.parquet')"
    )
    want = sorted(con.execute(entry.oracle_sql()[name]).fetchall())
    assert got and got == want


def _twin_corpus(spark):
    """24 queries, a planted near-duplicate twin per query, 200 noise
    vectors — deterministic; twins are the brute-force top-1s."""
    import random

    rng = random.Random(11)
    n_q, dim = 24, 16
    rows = []
    for i in range(n_q):  # queries 0..23
        rows.append((i, [rng.uniform(-1, 1) for _ in range(dim)]))
    for i in range(n_q):  # planted near-duplicate twin of each query
        rows.append(
            (100 + i, [v + rng.uniform(-0.05, 0.05) for v in rows[i][1]])
        )
    for i in range(200):  # background noise
        rows.append((1000 + i, [rng.uniform(-1, 1) for _ in range(dim)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return emb, n_q, dim


def test_lsh_multiprobe_recall_dominates_single_probe(spark, monkeypatch):
    """Multi-probe must (a) never return duplicate (query, neighbor)
    pairs, (b) reach recall >= the single-bucket variant, measured
    against brute-force ground truth on a deterministic corpus."""
    emb, n_q, dim = _twin_corpus(spark)
    _patch(monkeypatch, DIM=dim)
    q = emb.where("vec_id < 100")
    corpus = emb.where("vec_id >= 100")

    def top1_hits(df):
        return {
            (r["query_id"], r["neighbor_id"])
            for r in df.collect()
            if r["rank"] == 1 and r["neighbor_id"] == r["query_id"] + 100
        }

    single_df = S.lsh_bucket_topk(corpus, q)
    multi_df = S.lsh_bucket_topk(corpus, q, n_probes=3)
    multi_rows = multi_df.collect()
    pairs = [(r["query_id"], r["neighbor_id"]) for r in multi_rows]
    assert len(set(pairs)) == len(pairs)  # no duplicate pairs across probes
    r_single = len(top1_hits(single_df)) / n_q
    r_multi = len(top1_hits(multi_df)) / n_q
    # each twin is the true top-1; probing the 3 lowest-margin bit flips
    # must recover strictly more twins than the single bucket alone
    assert r_multi > r_single
    assert r_multi >= 0.9


def test_ivf_recall_on_planted_twins(spark, monkeypatch):
    """With 4 of 16 cells probed, a query's planted twin (a small
    perturbation — its cell is almost always among the query's best
    cells) must surface as rank-1 for most queries."""
    emb, n_q, dim = _twin_corpus(spark)
    _patch(monkeypatch, DIM=dim)
    out = S.ivf_topk(emb.where("vec_id >= 100"), emb.where("vec_id < 100")).collect()
    pairs = [(r["query_id"], r["neighbor_id"]) for r in out]
    assert len(set(pairs)) == len(pairs)  # one cell per corpus row: no dups
    hits = {
        r["query_id"] for r in out
        if r["rank"] == 1 and r["neighbor_id"] == r["query_id"] + 100
    }
    assert len(hits) / n_q >= 0.75


def test_kmeans_refine_reduces_sse(spark, monkeypatch):
    """Lloyd refinement (kmeans_lloyd) over two tight blobs must cut
    within-cell SSE relative to its LCG init."""
    import random

    import numpy as np

    rng = random.Random(5)
    dim = 8
    _patch(monkeypatch, DIM=dim, KMEANS_CELLS=4)
    mu_a = [1.0] * dim
    mu_b = [-1.0] * dim
    rows = []
    for i in range(60):
        mu = mu_a if i % 2 == 0 else mu_b
        rows.append((i, [m + rng.uniform(-0.1, 0.1) for m in mu]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c0 = S.ivf_centroids(4)

    def sse(cents):
        C = np.asarray(cents)
        V = np.asarray([r[1] for r in rows])
        d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return d.min(axis=1).sum()

    c1 = [[0.0] * dim for _ in range(4)]
    for r in S.kmeans_lloyd(emb).collect():
        c1[r["cell"]][r["pos"]] = r["c_val"]
    assert sse(c1) < sse(c0) * 0.5


def test_embedding_neardup_finds_planted_twins(spark, monkeypatch):
    """The LSH-blocked cosine near-dup pass must surface planted twin
    pairs above threshold, never duplicate a pair, and respect the
    threshold on every returned row."""
    emb, n_q, dim = _twin_corpus(spark)
    _patch(monkeypatch, NEARDUP_THRESHOLD=0.9, DIM=dim)
    pairs_df, dropped = S.embedding_neardup_pairs(emb)
    rows = pairs_df.collect()
    assert dropped.count() == 0
    keys = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(set(keys)) == len(keys)
    assert all(r["cosine"] >= 0.9 for r in rows)
    twin_hits = {a for a, b in keys if b == a + 100}
    # sign-LSH at 4 planes keeps ~(1 - theta/pi)^4 of near-identical
    # pairs in one bucket; twins are ~cos 0.99 so most survive blocking
    assert len(twin_hits) / n_q >= 0.5


def test_kernels_tolerate_null_and_ragged_vectors(spark, monkeypatch):
    """ADVICE round-3: a NULL or wrong-length embedding must not kill the
    job (np.stack would raise) — the kernels route such rows to a NULL
    bucket/cell, which drops out of every equi-join."""
    import random

    rng = random.Random(7)
    dim = 8
    _patch(monkeypatch, DIM=dim, LSH_PLANES=4, IVF_CELLS=4)
    good = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(20)]
    bad = [(100, None), (101, [1.0, 2.0]), (102, [])]
    emb = spark.createDataFrame(good + bad, "vec_id long, embedding array<double>")
    q = emb.where("vec_id < 3")

    out = S.lsh_bucket_topk(emb.where("vec_id >= 3"), q).collect()
    assert {r["neighbor_id"] for r in out}.isdisjoint({100, 101, 102})

    out = S.ivf_topk(emb.where("vec_id >= 3"), q).collect()
    assert {r["neighbor_id"] for r in out}.isdisjoint({100, 101, 102})

    _patch(monkeypatch, NEARDUP_THRESHOLD=0.0, NEARDUP_PLANES=2)
    pairs, _ = S.embedding_neardup_pairs(emb)
    ids = {x for r in pairs.collect() for x in (r["id_a"], r["id_b"])}
    assert ids.isdisjoint({100, 101, 102})


def _py_kmeans_lloyd(vectors, n_centroids, n_iters, dim):
    """Pure-Python replay of kmeans_lloyd's quantized Lloyd contract:
    argmax-dot assignment with lowest-index ties, HALF_UP 4dp means."""

    def half_up(x):
        return math.copysign(math.floor(abs(x) * 10000 + 0.5) / 10000, x) + 0.0

    cents = S.ivf_centroids(n_centroids)
    counts = {}
    for _ in range(n_iters):
        members = {}
        for vid, v in vectors:
            if v is None or len(v) != dim:
                continue
            dots = [sum(a * b for a, b in zip(v, c)) for c in cents]
            cell = max(range(n_centroids), key=lambda i: (dots[i], -i))
            members.setdefault(cell, []).append(v)
        new = [list(c) for c in cents]
        counts = {}
        for cell, vs in members.items():
            counts[cell] = len(vs)
            for p in range(dim):
                new[cell][p] = half_up(sum(v[p] for v in vs) / len(vs))
        cents = new
    return {
        (c, p): (cents[c][p], counts.get(c, 0))
        for c in range(n_centroids)
        for p in range(dim)
    }


def test_kmeans_lloyd_matches_python_reference(spark, monkeypatch):
    # 4-dim corpus in two tight blobs plus a NULL and a ragged vector
    # (dropped from the vote); n_centroids=4 guarantees empty cells that
    # must keep their LCG init with n_members = 0.
    rows = [(i, [1.0 + (i % 3) * 0.01, 0.2, -0.5, 0.0]) for i in range(6)]
    rows += [(10 + i, [-0.9, 1.1 + (i % 2) * 0.02, 0.4, -1.0]) for i in range(5)]
    rows += [(99, None), (98, [1.0, 2.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _patch(monkeypatch, DIM=4, KMEANS_CELLS=4)
    got = {
        (r["cell"], r["pos"]): (r["c_val"], r["n_members"])
        for r in S.kmeans_lloyd(emb).collect()
    }
    want = _py_kmeans_lloyd(
        [(i, v) for i, v in rows], n_centroids=4, n_iters=2, dim=4
    )
    assert got == want
    # both blobs found, at least one empty cell kept its init
    n_by_cell = {c: n for (c, p), (_v, n) in got.items() if p == 0}
    assert sorted(v for v in n_by_cell.values() if v) == [5, 6]
    assert 0 in n_by_cell.values()


def test_kmeans_lloyd_no_negative_zero(spark, monkeypatch):
    # means that land exactly on -0.0 must fold to +0.0 (oracle parity:
    # DuckDB's round keeps the sign, Spark's drops it)
    rows = [(0, [-1e-9, 1.0]), (1, [1e-9, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _patch(monkeypatch, DIM=2, KMEANS_CELLS=2, KMEANS_ITERS=1)
    for r in S.kmeans_lloyd(emb).collect():
        assert math.copysign(1.0, r["c_val"]) > 0 or r["c_val"] != 0.0


def _py_sq8(corpus, queries, k, dim):
    import math as _m

    lo = [min(v[i] for _, v in corpus) for i in range(dim)]
    hi = [max(v[i] for _, v in corpus) for i in range(dim)]
    span = [h - l if h > l else 1.0 for l, h in zip(lo, hi)]

    def code(v):
        return [
            int(_m.copysign(_m.floor(abs((x - l) * 255 / s) + 0.5), (x - l)))
            for x, l, s in zip(v, lo, span)
        ]

    cc = {i: code(v) for i, v in corpus}
    out = {}
    for qid, qv in queries:
        qc = code(qv)
        scored = sorted(
            ((sum(a * b for a, b in zip(qc, c)), -nid) for nid, c in cc.items()),
            reverse=True,
        )
        out[qid] = [(-n, d) for d, n in scored[:k]]
    return out


def test_sq8_topk_matches_python_reference(spark, monkeypatch):
    import random

    rng = random.Random(3)
    corpus = [(10 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    queries = [(0, [rng.uniform(-1, 1) for _ in range(8)]),
               (1, [rng.uniform(-1, 1) for _ in range(8)])]
    c = spark.createDataFrame(corpus, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(queries, "vec_id long, embedding array<double>")
    got = {}
    _patch(monkeypatch, DIM=8)
    for r in S.sq8_topk(c, q).collect():
        got.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["dot_q"], r["rank"])
        )
    want = _py_sq8(corpus, queries, 3, 8)
    for qid in want:
        rows = sorted(got[qid], key=lambda t: t[2])
        assert [(n, d) for n, d, _ in rows] == want[qid]


def test_sq8_degenerate_dim_and_ragged(spark, monkeypatch):
    # dim 1 is constant across the corpus (span defaults to 1.0, code 0);
    # a ragged vector is excluded from both the grid and the results
    corpus = [(10, [0.5, 7.0]), (11, [-0.5, 7.0]), (12, [0.1])]
    queries = [(0, [0.4, 7.0])]
    c = spark.createDataFrame(corpus, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(queries, "vec_id long, embedding array<double>")
    _patch(monkeypatch, DIM=2)
    rows = S.sq8_topk(c, q).collect()
    assert {r["neighbor_id"] for r in rows} == {10, 11}  # 12 dropped
    codes, mins, maxs = S.sq8_codes(c)
    assert mins == [-0.5, 7.0] and maxs == [0.5, 7.0]
    got = {r["vid"]: r["code"] for r in codes.collect()}
    assert got[10] == [255, 0] and got[11] == [0, 0]


def test_rp_projection_preserves_neighborhoods(spark, monkeypatch):
    """JL sanity on planted twins: in the 8-dim projected space, most
    planted near-duplicates must still be their query's top-1."""
    emb, n_q, dim = _twin_corpus(spark)
    _patch(monkeypatch, DIM=dim, RP_DIM=8)
    out = S.rp_topk(emb.where("vec_id >= 100"), emb.where("vec_id < 100")).collect()
    hits = {
        r["query_id"] for r in out
        if r["rank"] == 1 and r["neighbor_id"] == r["query_id"] + 100
    }
    assert len(hits) / n_q >= 0.9
    # projection is deterministic: same planes, same result
    again = S.rp_topk(
        emb.where("vec_id >= 100").repartition(9), emb.where("vec_id < 100")
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_rp_project_nulls_and_shape(spark, monkeypatch):
    rows = [(0, [1.0] * 4), (1, None), (2, [1.0, 2.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _patch(monkeypatch, DIM=4, RP_DIM=2)
    got = {r["vid"]: r["rv"] for r in S.rp_project(emb).collect()}
    assert got[1] is None and got[2] is None
    assert len(got[0]) == 2
    import numpy as np

    P = np.asarray([S._hyperplane(4, 42, S.RP_BASE + j) for j in range(2)])
    assert np.allclose(got[0], P @ np.ones(4))
