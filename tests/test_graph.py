"""Fixed-point PageRank: hand-computed 3-iteration values on a small
graph, the rank-conservation fixed point on a cycle, determinism under
repartitioning, and multi-edge dedup."""

from __future__ import annotations

from serialization_agents_spark.operators import graph as G
from serialization_agents_spark.operators.graph import BASE, SCALE, pagerank


def _ranks(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def test_two_node_cycle_is_fixed_point(spark, monkeypatch):
    """a<->b: every node keeps rank == SCALE forever (BASE + 17/20 of a
    full SCALE contribution is SCALE again) — the conservation
    invariant of the damping arithmetic."""
    e = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    for iters in (1, 4):
        monkeypatch.setattr(G, "ITERATIONS", iters)
        got = _ranks(pagerank(e))
        assert got == {"a": SCALE, "b": SCALE}
        assert BASE + SCALE * 17 // 20 == SCALE


def test_star_three_iterations_hand_computed(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "a")], "src string, dst string"
    )
    assert _ranks(pagerank(e)) == {
        "a": 638750,
        "b": 421468,
        "c": 421468,
    }


def test_duplicate_edges_are_deduped(spark, monkeypatch):
    monkeypatch.setattr(G, "ITERATIONS", 2)
    e = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "a")], "src string, dst string"
    )
    dup = _ranks(pagerank(e))
    clean = _ranks(
        pagerank(spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string"))
    )
    assert dup == clean


def test_partitioning_invariance(spark):
    rows = [(i % 11, (i * 3 + 1) % 11) for i in range(60)]
    e = spark.createDataFrame(rows, "src long, dst long")
    a = _ranks(pagerank(e.repartition(7)))
    b = _ranks(pagerank(e.coalesce(1)))
    assert a == b


# --- co-occurrence edges -------------------------------------------------

from serialization_agents_spark.operators.graph import cooccurrence_edges


def _pairs(df):
    return {(r["a"], r["b"]): r["co_pages"] for r in df.collect()}


def test_cooccurrence_counts_pages_per_pair(spark):
    m = spark.createDataFrame(
        [("u1", "x"), ("u1", "y"), ("u1", "z"),
         ("u2", "x"), ("u2", "y"),
         ("u3", "x")],  # single-entity page -> no pairs
        "url string, entity_key string",
    )
    assert _pairs(cooccurrence_edges(m)) == {
        ("x", "y"): 2, ("x", "z"): 1, ("y", "z"): 1,
    }


def test_cooccurrence_dedupes_repeat_mentions(spark):
    """The same entity mentioned twice on one page is one co-occurrence."""
    m = spark.createDataFrame(
        [("u1", "x"), ("u1", "x"), ("u1", "y")],
        "url string, entity_key string",
    )
    assert _pairs(cooccurrence_edges(m)) == {("x", "y"): 1}


def test_cooccurrence_cap_bounds_hub_pages(spark, monkeypatch):
    """A 10-entity hub page at cap=4 keeps only the 4 smallest keys —
    C(4,2)=6 pairs, never the quadratic blowup."""
    monkeypatch.setattr(G, "COOCCURRENCE_CAP", 4)
    rows = [("hub", f"e{i:02d}") for i in range(10)] + [("p", "e00"), ("p", "e01")]
    m = spark.createDataFrame(rows, "url string, entity_key string")
    got = _pairs(cooccurrence_edges(m))
    assert len(got) == 6
    assert got[("e00", "e01")] == 2  # hub + p
    assert all(a < b <= "e03" for a, b in got)


def test_cooccurrence_partitioning_invariance(spark):
    rows = [(f"u{i % 17}", f"e{(i * 5 + j) % 13}")
            for i in range(120) for j in range(3)]
    m = spark.createDataFrame(rows, "url string, entity_key string")
    assert _pairs(cooccurrence_edges(m.repartition(9))) == _pairs(
        cooccurrence_edges(m.coalesce(1))
    )


def test_cooccurrence_plan_no_join(spark):
    """Pair expansion must be the posexplode form — no self-join, no
    cartesian — so the operator's own plan contains no Join at all."""
    m = spark.createDataFrame(
        [("u", "x"), ("u", "y")], "url string, entity_key string"
    )
    plan = cooccurrence_edges(m)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# triangle_counts
# ---------------------------------------------------------------------------
def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a STRING, b STRING")


def test_triangles_hand_computed(spark):
    from serialization_agents_spark.operators.graph import triangle_counts

    # K4 on {a,b,c,d}: every node is in C(3,2) = 3 triangles.
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(_edges(spark, k4)).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_triangles_none_on_a_tree(spark):
    from serialization_agents_spark.operators.graph import triangle_counts

    tree = [("r", "x"), ("r", "y"), ("x", "z")]
    assert triangle_counts(_edges(spark, tree)).count() == 0


def test_triangles_dedupe_and_orientation_insensitive(spark):
    from serialization_agents_spark.operators.graph import triangle_counts

    # One triangle given with duplicate + reversed edges and a self-loop.
    messy = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("a", "a"), ("b", "c")]
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(_edges(spark, messy)).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangles_hub_counted_once_per_closure(spark):
    from serialization_agents_spark.operators.graph import triangle_counts

    # Hub h connects to 4 leaves; only (l0, l1) closes -> exactly one
    # triangle, and the hub (highest degree) is never a wedge apex.
    edges = [("h", f"l{i}") for i in range(4)] + [("l0", "l1")]
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(_edges(spark, edges)).collect()}
    assert got == {"h": 1, "l0": 1, "l1": 1}


def _py_lpa(edges, iterations):
    """Synchronous LPA reference: min-label tie-break, integer votes."""
    und = {}
    for s, d, w in edges:
        if s == d:
            continue
        und.setdefault(s, []).append((d, w))
        und.setdefault(d, []).append((s, w))
    labels = {v: v for v in und}
    for _ in range(iterations):
        nxt = {}
        for v, nbrs in und.items():
            votes = {}
            for u, w in nbrs:
                votes[labels[u]] = votes.get(labels[u], 0) + w
            best = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            nxt[v] = best
        labels = nxt
    return labels


def test_label_propagation_two_triangles_with_bridge(spark):
    from serialization_agents_spark.operators.graph import label_propagation

    edges = [(0, 1, 1), (1, 2, 1), (0, 2, 1),
             (10, 11, 1), (11, 12, 1), (10, 12, 1),
             (2, 10, 1)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {r.node: r.label
           for r in label_propagation(df).collect()}
    assert got == _py_lpa(edges, 3)
    # the bridge must not merge the triangles: exactly two communities
    assert len(set(got.values())) == 2
    assert got[0] == got[1] == got[2] != got[10]
    assert got[10] == got[11] == got[12]


def test_label_propagation_weights_beat_degree(spark, monkeypatch):
    from serialization_agents_spark.operators.graph import label_propagation

    monkeypatch.setattr(G, "ITERATIONS", 1)
    # node 5 has two unit-weight neighbors labeled 1,2 and ONE heavy
    # neighbor labeled 9: the heavy edge must win the vote
    edges = [(5, 1, 1), (5, 2, 1), (5, 9, 3)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {r.node: r.label
           for r in label_propagation(df).collect()}
    assert got[5] == 9
    assert got == _py_lpa(edges, 1)


def test_label_propagation_partitioning_invariant(spark):
    from serialization_agents_spark.operators.graph import label_propagation

    edges = [(i % 40, (i * 7 + 1) % 40, i % 3 + 1) for i in range(300)]
    a = label_propagation(
        spark.createDataFrame(edges, "src long, dst long, w long").coalesce(1)
    )
    b = label_propagation(
        spark.createDataFrame(edges, "src long, dst long, w long").repartition(13)
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert {r[0]: r[1] for r in a.collect()} == _py_lpa(edges, 3)


def _py_bfs(edges, sources, max_hops):
    und = {}
    for s, d in edges:
        if s == d:
            continue
        und.setdefault(s, set()).add(d)
        und.setdefault(d, set()).add(s)
    dist = {v: 0 for v in sources if v in und}
    frontier = set(dist)
    for h in range(1, max_hops + 1):
        frontier = {
            n for v in frontier for n in und[v] if n not in dist
        }
        for n in frontier:
            dist[n] = h
    return dist


def test_bfs_distances_two_components(spark):
    from serialization_agents_spark.operators.graph import bfs_distances

    # chain 0-1-2-3-4-5-6 plus a disconnected triangle 10-11-12
    edges = [(i, i + 1) for i in range(6)] + [(10, 11), (11, 12), (10, 12)]
    df = spark.createDataFrame(edges, "src long, dst long")
    srcs = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["dist"]
           for r in bfs_distances(df, srcs).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}  # 5,6 beyond hops;
    assert 10 not in got                          # triangle unreached
    assert got == _py_bfs(edges, [0], 4)


def test_bfs_multi_source_takes_nearest(spark):
    from serialization_agents_spark.operators.graph import bfs_distances

    edges = [(i, i + 1) for i in range(8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    srcs = spark.createDataFrame([(0,), (8,)], "node long")
    got = {r["node"]: r["dist"]
           for r in bfs_distances(df, srcs).collect()}
    assert got == _py_bfs(edges, [0, 8], 4)
    assert got[4] == 4 and got[6] == 2  # nearest source wins


def test_bfs_partitioning_invariant(spark, monkeypatch):
    from serialization_agents_spark.operators.graph import bfs_distances

    monkeypatch.setattr(G, "BFS_MAX_HOPS", 3)
    edges = [(i % 37, (i * 5 + 2) % 37) for i in range(150)]
    srcs_rows = [(0,), (13,)]
    a = bfs_distances(
        spark.createDataFrame(edges, "src long, dst long").coalesce(1),
        spark.createDataFrame(srcs_rows, "node long"),
    )
    b = bfs_distances(
        spark.createDataFrame(edges, "src long, dst long").repartition(11),
        spark.createDataFrame(srcs_rows, "node long"),
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert {r[0]: r[1] for r in a.collect()} == _py_bfs(edges, [0, 13], 3)


def test_negative_samples_deterministic_and_clean(spark):
    from serialization_agents_spark.operators.graph import negative_edge_samples

    # 6 nodes n0..n5, edges on a path; ids 1..6 in sorted order
    nodes = [f"n{i}" for i in range(6)]
    edges = [("n0", "n1"), ("n1", "n2"), ("n2", "n3"), ("n0", "n3")]
    e = spark.createDataFrame(edges, "a string, b string")
    ids = spark.createDataFrame(
        [(k, i + 1) for i, k in enumerate(sorted(nodes))],
        "entity_key string, idx long",
    )
    got = {(r["a"], r["b"]): r["b_neg"]
           for r in negative_edge_samples(e, ids, 6).collect()}

    idx = {k: i + 1 for i, k in enumerate(sorted(nodes))}
    key = {v: k for k, v in idx.items()}
    true_set = {tuple(sorted(p)) for p in edges}
    want = {}
    for a, b in edges:
        neg = key[(idx[a] * 2654435761 + idx[b]) % 6 + 1]
        if neg in (a, b) or tuple(sorted((a, neg))) in true_set:
            continue
        want[(a, b)] = neg
    assert got == want
    for (a, b), neg in got.items():
        assert neg not in (a, b)
        assert tuple(sorted((a, neg))) not in true_set
    # determinism under repartitioning
    again = {(r["a"], r["b"]): r["b_neg"]
             for r in negative_edge_samples(e.repartition(7), ids, 6).collect()}
    assert again == got


def test_negative_samples_veto_reversed_stored_edges(spark):
    """Round-6 fix: a NON-canonical stored edge (b, a) must still veto
    the canonical proposal (a, b) — the anti-join now canonicalizes the
    stored side with least/greatest, so no reverse of a real edge can
    leak out as a negative."""
    from serialization_agents_spark.operators.graph import negative_edge_samples

    nodes = [f"n{i}" for i in range(6)]
    # same graph as above but with two edges stored REVERSED
    edges = [("n1", "n0"), ("n1", "n2"), ("n3", "n2"), ("n0", "n3")]
    e = spark.createDataFrame(edges, "a string, b string")
    ids = spark.createDataFrame(
        [(k, i + 1) for i, k in enumerate(sorted(nodes))],
        "entity_key string, idx long",
    )
    true_set = {tuple(sorted(p)) for p in edges}
    for r in negative_edge_samples(e, ids, 6).collect():
        assert r["b_neg"] not in (r["a"], r["b"])
        assert tuple(sorted((r["a"], r["b_neg"]))) not in true_set
