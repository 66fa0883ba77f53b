"""Physical-plan guards: the properties that make the engine viable at
100 TB — predicate pushdown, column pruning, broadcast-only dimension
joins, single-pass page scanning, Arrow-kernel vector math — asserted on
the actual executed plans so refactors cannot silently regress them."""

from __future__ import annotations

import contextlib
import io

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark):
    """s3: the lang filter reaches the parquet scan and untouched columns
    (text, embedding-sized payloads) never leave it."""
    plan = _plan(entry.queries()["s3_scan_project_filter"](spark, SF))
    assert "PushedFilters" in plan and "EqualTo(lang,en)" in plan.replace("'", "")
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "n_chars" in read_schema
    assert "text" not in read_schema and "source" not in read_schema


def test_linking_is_broadcast_only(spark):
    """kg_linked: every dimension join broadcasts; the fact table is
    never sort-merge-joined or shuffled by the cascade."""
    plan = _plan(entry.queries()["kg_linked"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mention_detection_scans_pages_once(spark):
    """All span kinds ride ONE page scan (a union of per-kind branches
    would re-read documents.parquet once per kind)."""
    plan = _plan(entry.queries()["kg_mentions"](spark, SF))
    n_doc_scans = plan.count("documents.parquet")
    assert n_doc_scans == 1, f"documents scanned {n_doc_scans}x"


def test_lsh_corpus_side_uses_arrow_kernel(spark):
    """ann_lsh: corpus bucket signatures come from the Arrow/numpy
    kernel (MapInPandas), not per-row interpreted HOF folds."""
    plan = _plan(entry.queries()["ann_lsh_top3"](spark, SF))
    assert "MapInPandas" in plan


def test_ivf_corpus_side_uses_arrow_kernel(spark):
    plan = _plan(entry.queries()["ann_ivf_top3"](spark, SF))
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan


def test_brute_force_cosine_is_broadcast_bounded(spark):
    """ann_cosine: the only cross join in the repo must be the broadcast
    nested-loop form (query side broadcast), never a cartesian shuffle."""
    plan = _plan(entry.queries()["ann_cosine_top3"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_pair_rerank_uses_arrow_kernel(spark):
    """Round-4: the in-bucket/in-cell exact-cosine re-rank runs in an
    Arrow kernel too — each ANN plan carries TWO Arrow stages (corpus
    bucketing + pair scoring); a regression to the interpreted per-pair
    `F.aggregate` fold would drop the second. Round-6: the near-dup
    pair stage became a per-bucket grouped GEMM (FlatMapGroupsInPandas)
    so each vector crosses the shuffle once instead of once per
    candidate pair — still an Arrow kernel, different node."""
    for q in ("ann_lsh_top3", "ann_ivf_top3"):
        plan = _plan(entry.queries()[q](spark, SF))
        assert plan.count("MapInPandas") >= 2, f"{q}: pair re-rank not Arrow"
    plan = _plan(entry.queries()["dedup_embedding_neardup"](spark, SF))
    assert "MapInPandas" in plan  # corpus bucket signatures
    assert "FlatMapGroupsInPandas" in plan  # per-bucket GEMM pair scorer
    # only the broadcast anti-join of dropped buckets may remain — the
    # vector-shipping pair self-join is gone by design
    assert "SortMergeJoin" not in plan


def test_kg_cache_clear_releases_and_rederives(spark):
    """The unpersist hook must release the memoized kg pipeline and a
    subsequent query must re-derive cleanly (bench.py also calls this at
    the end of each run and reports remaining cached RDDs)."""
    n1 = entry.queries()["kg_agents"](spark, SF).count()
    assert entry.kg_cache_clear() >= 1
    n2 = entry.queries()["kg_agents"](spark, SF).count()
    assert n2 == n1
    entry.kg_cache_clear()


def test_kg_consumers_read_the_memoized_pipeline(spark, monkeypatch):
    """After one memoized kg build, the linked/agents/registry consumers
    plan over its pinned frames (the InMemoryTableScan of a persist or
    the Scan ExistingRDD of a checkpoint) and declare no linking or
    enumeration of their own."""
    from serialization_agents_spark.operators import enumerate_ids, linking
    from serialization_agents_spark.plans import pipeline
    from serialization_agents_spark.queries.common import kg_canonical

    kg_canonical(spark, SF)
    declared = []

    def spy(name, fn):
        def wrapped(*args, **kwargs):
            declared.append(name)
            return fn(*args, **kwargs)

        return wrapped

    for mod, name in (
        (pipeline, "link_mentions"), (linking, "link_mentions"),
        (pipeline, "enumerate_ids"), (enumerate_ids, "enumerate_ids"),
    ):
        monkeypatch.setattr(mod, name, spy(name, getattr(mod, name)))
    qs = entry.queries()
    for q in ("kg_linked", "j2_lcnaf_fallback", "kg_agents", "kg_enumerate_agents"):
        plan = _plan(qs[q](spark, SF))
        assert "InMemoryTableScan" in plan or "Scan ExistingRDD" in plan, q
    assert not declared, f"consumers re-declared {declared}"


def test_chunk_dedup_is_two_shuffles_no_joins(spark):
    """dedup_chunks: pruned scan -> [optional round-robin fan-out of an
    under-parallel scan] -> chunk-hash Exchange -> Window -> partial agg
    -> doc-id Exchange -> final agg. Any join or a third KEYED shuffle
    means the keep-first algebra regressed (the round-robin spread is
    not part of the algebra — it disappears on multi-split inputs)."""
    import re

    plan = _plan(entry.queries()["dedup_chunks"](spark, SF))
    # formatted explain prints each node in the tree AND in the details
    # section — count the "(n) Exchange" detail headers, one per node
    # keyed shuffles: the Arguments line of each Exchange detail block
    assert len(re.findall(r"^Arguments: hashpartitioning", plan, re.M)) == 2
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 3
    assert "Join" not in plan and "Cartesian" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "source" not in read_schema and "lang" not in read_schema


def test_curate_has_no_cartesian_and_prunes_columns(spark):
    """webtext_curate: the cascade joins only on doc_id / content hash —
    never a cartesian — and reads only (doc_id, text) from the corpus."""
    plan = _plan(entry.queries()["webtext_curate"](spark, SF))
    assert "Cartesian" not in plan and "BroadcastNestedLoopJoin" not in plan
    for line in (l for l in plan.splitlines() if "ReadSchema" in l):
        assert "source" not in line and "n_chars" not in line


def test_corpus_sample_is_broadcast_scan_no_shuffle(spark):
    """corpus_sample: a pure scan + broadcast rate lookup + filter — the
    keep/drop decision never shuffles the corpus, and only the projected
    columns leave the parquet scan."""
    plan = _plan(entry.queries()["corpus_sample"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan
    read_schema = [l for l in plan.splitlines() if "documents.parquet" not in l
                   and "ReadSchema" in l]
    doc_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in doc_schema  # untouched payload pruned


def test_vocab_stats_two_phase_distinct_agg(spark):
    """text_vocab_stats: one scan, then the canonical two-phase distinct
    aggregation — Exchange on (term, doc_id) with a map-side partial,
    then Exchange on term — and nothing else: no joins, no extra
    shuffles. Detail headers `(N) Exchange` count physical nodes once
    (the formatted tree repeats each node)."""
    import re

    plan = _plan(entry.queries()["text_vocab_stats"](spark, SF))
    assert plan.count("documents.parquet") == 1
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchange == 2, f"expected 2 shuffles, plan has {n_exchange}"
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_url_dedup_reads_only_doc_id_one_exchange(spark):
    """The capture generator is pure doc_id arithmetic, so the parquet
    scan must prune to ONE column, and both dedup window functions must
    share a single canon_url Exchange."""
    import re

    plan = _plan(entry.queries()["url_dedup_latest"](spark, SF))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "text" not in read_schema
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_asof_entry_is_one_exchange_no_join(spark):
    import re

    plan = _plan(entry.queries()["o5_asof_join"](spark, SF))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "Join" not in plan


def test_tfidf_no_double_scan_broadcast_only(spark):
    """tf is localCheckpointed, so the plan downstream of it must show
    NO parquet scan (the corpus is read and exploded exactly once) and
    only two Exchanges: the doc_freq agg on term and the top-k window
    on doc_id. The doc_freq join back must broadcast."""
    import re

    plan = _plan(entry.queries()["text_tfidf_topk"](spark, SF))
    assert "Scan parquet" not in plan  # corpus scanned once, pre-checkpoint
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_shard_pack_no_global_window(spark):
    """corpus_shard_pack: the running cumsum must be per-partition
    windows + broadcast offsets, never a global single-task window
    (an empty-frame Window over the whole corpus)."""
    plan = _plan(entry.queries()["corpus_shard_pack"](spark, SF))
    # per-partition window partitions by _pid; a global window would
    # show a Window with an empty partition spec over a single Exchange
    assert "Window" in plan and "_pid" in plan
    assert "BroadcastHashJoin" in plan  # offsets come back broadcast
    assert "SortMergeJoin" not in plan


def test_bm25_single_corpus_scan_and_takeordered(spark):
    """text_bm25_topk: one documents scan feeds stats/tf/dl (the
    localCheckpoint pins it), df broadcasts back, and top-k is a
    TakeOrdered heap — never a global row_number window."""
    plan = _plan(entry.queries()["text_bm25_topk"](spark, SF))
    assert plan.count("documents.parquet") <= 1  # 0 after checkpoint
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_inverted_index_single_scan_two_aggs(spark):
    """text_inverted_index: stats and heads both derive from ONE
    (term, doc) pre-aggregate — the localCheckpoint pins it, so the
    corpus parquet appears at most once (0 once materialized)."""
    plan = _plan(entry.queries()["text_inverted_index"](spark, SF))
    n = plan.count("documents.parquet")
    assert n <= 1, f"documents scanned {n}x"
    assert "ExistingRDD" in plan  # both branches read the checkpoint


def test_mixture_rates_broadcast_back(spark):
    """corpus_mixture: the per-stratum rate table is a tiny agg joined
    back broadcast — the fact scan is never shuffled on the stratum."""
    plan = _plan(entry.queries()["corpus_mixture"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_perplexity_single_token_explode(spark):
    """text_perplexity_bucket: the token explode and the per-doc score
    frame are each materialized ONCE (localCheckpoints); the LM cost
    table and the quantile row broadcast back — never a sort-merge join
    or a second corpus scan."""
    plan = _plan(entry.queries()["text_perplexity_bucket"](spark, SF))
    assert plan.count("documents.parquet") <= 1
    assert "ExistingRDD" in plan
    assert "SortMergeJoin" not in plan


def test_repeated_spans_one_window_explode(spark):
    """dedup_repeated_spans: one window explode feeds both the dup
    aggregate and the join probe (checkpoint-pinned); the corpus is
    scanned at most once."""
    plan = _plan(entry.queries()["dedup_repeated_spans"](spark, SF))
    assert plan.count("documents.parquet") <= 1
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_winnow_pairs_fingerprint_blocked(spark):
    """dedup_winnow_pairs: the fingerprint frame materializes once and
    the pair join is fp-blocked equi-join — never a cross join; the
    dropped-bucket anti-join stays broadcast."""
    plan = _plan(entry.queries()["dedup_winnow_pairs"](spark, SF))
    assert plan.count("documents.parquet") <= 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_assignment_is_arrow_kernel(spark):
    """ann_kmeans_refine's distributed work is the Arrow cell kernel +
    posexplode mean agg; the returned centroid table itself is a tiny
    local relation (bounded by n_centroids x dim, like the IVF centroid
    broadcast), so the query plan must be scan-free."""
    from serialization_agents_spark.operators.similarity import kmeans_lloyd

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = kmeans_lloyd(emb, n_centroids=4, n_iters=1)
    plan = _plan(df)
    assert "Scan parquet" not in plan  # driver-assembled centroid table
    assert df.count() == 4 * 64


def test_interval_join_query_no_nested_loop(spark):
    """o9: the bucketized range join must never plan a nested-loop or
    cartesian — the chunk equi-key is the whole point."""
    plan = _plan(entry.queries()["o9_interval_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_session_window_uses_session_node(spark):
    """o10: the plan must carry Spark's native session-window
    aggregation (merging-window state), not a hand-rolled lag/cumsum."""
    plan = _plan(entry.queries()["o10_session_window"](spark, SF))
    assert "session_window" in plan.lower()


def test_epoch_order_is_range_partitioned_not_global(spark):
    """corpus_epoch_order: the rank comes from range partitioning +
    per-partition windows — a SinglePartition exchange feeding the
    Window would be the global-sort antipattern."""
    plan = _plan(entry.queries()["corpus_epoch_order"](spark, SF))
    # the range repartition lives BEFORE the enumerate's checkpoint, so
    # the visible plan reads the pinned RDD; the invariant that matters
    # is NO SinglePartition exchange feeding the rank window
    assert "ExistingRDD" in plan
    assert "SinglePartition" not in plan


def test_sq8_and_rp_are_broadcast_bounded(spark):
    """ann_sq8/ann_rp: the brute-force side is an explicit broadcast of
    the bounded query set (like ann_cosine_top3) — acceptable cross
    join by construction, but it must be the BROADCAST variant, never a
    shuffled CartesianProduct."""
    for q in ("ann_sq8_top3", "ann_rp_top3"):
        plan = _plan(entry.queries()[q](spark, SF))
        assert "CartesianProduct" not in plan, q
