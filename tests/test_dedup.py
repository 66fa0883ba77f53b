"""Dedup operators: exact groups, MinHash-LSH recall on known near-dups,
Jaccard verification, SimHash locality."""

from __future__ import annotations

from serialization_agents_spark.operators import dedup as D


def test_xxhash64_minhash_finds_same_near_dups(spark):
    """The production xxhash64 hash family must recover the known
    near-duplicate pairs the md5 (oracle-parity) family finds — same
    s-curve, different hash family."""
    docs = _docs(spark)
    md5_pairs = {tuple(r) for r in D.minhash_candidate_pairs(docs).collect()}
    xx_pairs = {
        tuple(r)
        for r in D.minhash_candidate_pairs(docs, hash_fn="xxhash64").collect()
    }
    # the planted near-dup pairs (Jaccard >= ~0.7 by construction)
    truth = {p for p in md5_pairs}
    strong = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs).collect()
        if r["jaccard"] >= 0.7
    }
    assert strong <= xx_pairs  # every strong near-dup recovered
    assert strong <= truth


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("today", "tomorrow")),  # near dup of 0
        (3, "completely different text about spark query engines and shuffles"),
        (4, "another unrelated document mentioning parquet files and columns"),
        (5, ""),  # degenerate
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark):
    out = {r["content_hash"]: r for r in D.exact_duplicates(_docs(spark)).collect()}
    dups = [r for r in out.values() if r["dup_count"] > 1]
    assert len(dups) == 1
    assert dups[0]["keeper_id"] == 0 and dups[0]["dup_count"] == 2


def test_minhash_finds_near_dups_not_unrelated(spark):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_candidate_pairs(_docs(spark)).collect()
    }
    assert (0, 1) in pairs          # identical docs always collide
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup shares bands
    assert (3, 4) not in pairs      # unrelated docs don't


def test_ngram_jaccard_scores(spark):
    scored = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(_docs(spark)).collect()
    }
    assert scored[(0, 1)] == 1.0
    assert 0.5 < scored[(0, 2)] < 1.0


def test_simhash_locality(spark):
    sk = {r["doc_id"]: r["simhash"] for r in D.simhash(_docs(spark)).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert sk[0] == sk[1]  # identical text -> identical sketch
    assert hamming(sk[0], sk[2]) < hamming(sk[0], sk[3])  # near < far


def test_chunk_dedup_word_window_mode(spark):
    """Fixed word windows: an exact duplicate doc loses every chunk; the
    keeper doc retains all of them; reassembly preserves order."""
    text = " ".join(f"w{i}" for i in range(30))  # 3 chunks of 12/12/6
    docs = spark.createDataFrame(
        [(10, text), (20, text)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in D.chunk_dedup(docs).collect()}
    assert out[10]["total_chunks"] == 3 and out[10]["kept_chunks"] == 3
    assert out[20]["total_chunks"] == 3 and out[20]["kept_chunks"] == 0
    assert out[10]["dedup_text"] == text.lower()
    assert out[20]["dedup_text"] == ""


def test_neardup_clusters_close_transitive_chains(spark):
    """a~b and b~c but never a~c in any band -> all three still land in
    ONE cluster with the min doc id as representative."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (7, base),
        (8, base),  # exact dup of 7 -> pair (7, 8) guaranteed
        (9, base.replace("today", "tomorrow")),  # near dup
        (3, "completely different text about spark query engines and shuffles"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_candidate_pairs(docs).collect()
    }
    clusters = {r["doc_id"]: r["cluster_rep"] for r in D.neardup_clusters(docs).collect()}
    # every doc in a pair is labeled, and connected docs share the min id
    in_pairs = {d for p in pairs for d in p}
    assert set(clusters) == in_pairs
    assert clusters[7] == 7 and clusters[8] == 7
    if 9 in clusters:  # 9 connects through either band collision
        assert clusters[9] == 7
    assert 3 not in clusters  # unrelated doc joins no cluster


def test_chunk_dedup_conserves_distinct_chunks(spark, monkeypatch):
    """Global invariant on a seeded random corpus: exactly ONE survivor
    per distinct chunk (sum of kept == number of distinct chunks), every
    doc accounted for, and each reassembly is a subsequence of the doc's
    own lowered token stream."""
    import random

    rng = random.Random(42)
    vocab = [f"tok{i}" for i in range(40)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 60))))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(D, "CHUNK_WORDS", 5)
    out = {r["doc_id"]: r for r in D.chunk_dedup(docs).collect()}

    # recompute chunks driver-side
    def chunks(text):
        toks = text.lower().split()
        return [
            " ".join(toks[i : i + 5]) for i in range(0, len(toks), 5)
        ] if toks else []

    all_chunks = [c for _, t in rows for c in chunks(t)]
    expected_docs = {i for i, t in rows if chunks(t)}
    assert set(out) == expected_docs
    assert sum(r["kept_chunks"] for r in out.values()) == len(set(all_chunks))
    assert sum(r["total_chunks"] for r in out.values()) == len(all_chunks)
    for i, t in rows:
        if i not in out:
            continue
        kept = out[i]["dedup_text"].split() if out[i]["dedup_text"] else []
        orig = t.lower().split()
        # subsequence check
        it = iter(orig)
        assert all(tok in it for tok in kept), f"doc {i} reassembly broken"


def test_repeated_spans_alignment_free(spark):
    """A 12-token boilerplate block shared at a 3-token offset (NOT
    chunk-aligned) must be flagged: stride-1 windows are exact for any
    shared span of >= 10 tokens at any alignment."""
    boiler = " ".join(f"b{i}" for i in range(12))  # 12 shared tokens
    rows = [
        (0, boiler + " " + " ".join(f"x{i}" for i in range(10))),
        (1, "p1 p2 p3 " + boiler + " q1 q2"),  # same block, offset 3
        (2, " ".join(f"u{i}" for i in range(20))),  # unique text
        (3, "too short"),  # < 10 tokens: no window evidence
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in D.repeated_span_stats(docs).collect()}
    assert 3 not in got  # short doc excluded
    assert got[2]["dup_windows"] == 0 and got[2]["dup_fraction"] == 0.0
    # a 12-token shared block holds exactly 3 shared 10-grams
    # (starts 0, 1, 2 within the block) in BOTH docs, any alignment
    assert got[0]["dup_windows"] == 3
    assert got[1]["dup_windows"] == 3
    assert got[0]["n_windows"] == 12 + 10 - 10 + 1  # 22 tokens -> 13
    assert got[0]["dup_fraction"] == round(3 / 13, 4)


def test_repeated_spans_fraction_arithmetic(spark):
    # two identical docs: every window duplicated, fraction exactly 1.0
    text = " ".join(f"w{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(0, text), (1, text)], "doc_id long, text string"
    )
    for r in D.repeated_span_stats(docs).collect():
        assert r["n_windows"] == 16  # 25 - 10 + 1
        assert r["dup_windows"] == 16
        assert r["dup_fraction"] == 1.0


def _py_winnow(text, k=10, w=4):
    import hashlib

    toks = text.lower().split()
    if len(toks) < k + w - 1:
        return set()
    hs = [
        hashlib.md5(" ".join(toks[i:i + k]).encode()).hexdigest()
        for i in range(len(toks) - k + 1)
    ]
    return {min(hs[j:j + w]) for j in range(len(hs) - w + 1)}


def test_winnow_guarantee_shared_span(spark):
    """The winnowing theorem: any shared span >= k + w - 1 (= 13) tokens
    shares at least one fingerprint, regardless of alignment."""
    block = " ".join(f"b{i}" for i in range(13))
    rows = [
        (0, block + " " + " ".join(f"x{i}" for i in range(6))),
        (1, "p1 p2 p3 p4 " + block),  # offset 4, NOT mod-anything aligned
        (2, " ".join(f"u{i}" for i in range(25))),  # unique
        (3, "short doc here"),  # < 13 tokens: no fingerprints
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {
        d: {r["fp"] for r in rows_}
        for d, rows_ in __import__("itertools").groupby(
            sorted(
                D.winnow_fingerprints(docs).collect(),
                key=lambda r: r["doc_id"],
            ),
            key=lambda r: r["doc_id"],
        )
    }
    for d, text in rows:
        assert fps.get(d, set()) == _py_winnow(text), f"doc {d}"
    assert fps[0] & fps[1]           # guaranteed shared fingerprint
    assert not (fps[0] & fps[2])     # unique doc shares nothing
    assert 3 not in fps

    pairs, dropped = D.winnow_pairs(docs)
    got = {(r["id_a"], r["id_b"]): r["n_shared"] for r in pairs.collect()}
    assert set(got) == {(0, 1)}
    assert got[(0, 1)] == len(fps[0] & fps[1])
    assert dropped.count() == 0


def test_winnow_bucket_cap_drops_boilerplate_fp(spark, monkeypatch):
    monkeypatch.setattr(D, "WINNOW_MAX_BUCKET", 5)
    text = " ".join(f"c{i}" for i in range(13))
    docs = spark.createDataFrame(
        [(i, text) for i in range(6)], "doc_id long, text string"
    )
    pairs, dropped = D.winnow_pairs(docs)
    assert pairs.count() == 0            # every fp bucket has 6 > 5 docs
    d = dropped.collect()
    assert d and all(r["bucket_size"] == 6 for r in d)


def test_winnow_xxhash64_prod_flag(spark):
    block = " ".join(f"b{i}" for i in range(13))
    docs = spark.createDataFrame(
        [(0, block + " z1 z2"), (1, "y1 y2 " + block)],
        "doc_id long, text string",
    )
    pairs, _ = D.winnow_pairs(docs, hash_fn="xxhash64")
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(0, 1)}
