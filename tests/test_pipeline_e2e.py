"""End-to-end gates:

1. Spark vs the pure-Python oracle (tests/kg_oracle.py): the triples are
   the oracle's set exactly, with no duplicate rows, and every canonical
   row equals the oracle's field by field.
2. Deterministic re-run: identical output checksums.
3. Resume-from-checkpoint: killing after stage k and re-running skips
   completed stages and yields byte-identical results.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

import kg_oracle
from serialization_agents_spark import synth
from serialization_agents_spark.operators.enumerate_ids import REGISTRY_ID_OFFSET
from serialization_agents_spark.plans.pipeline import run_pipeline

N_PAGES = 400
N_AUTH = 120

# the lineage key of each listed stage: unique per row, so bit_xor never
# cancels two rows
STAGE_KEYS = {
    "extract": ("url",),
    "mentions": ("mention_id",),
    "linked": ("mention_id",),
    "agents": ("entity_key",),
    "canonical": ("entity_key",),
    "triples": ("subj", "pred", "obj"),
}


def global_checksum(df, *key: str) -> tuple[int, int]:
    """(row_count, order-independent checksum) recomputed over a whole
    frame: the reference a stage's `_metrics` row must equal."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*key)).alias("c")
    ).collect()[0]
    return row["n"], row["c"] or 0


@pytest.fixture(scope="module")
def corpus(spark):
    pages = synth.synth_pages(spark, n_pages=N_PAGES, n_auth=N_AUTH)
    authority = synth.synth_authority(spark, n_auth=N_AUTH)
    redirects = synth.synth_redirects(spark)
    blacklist = synth.synth_blacklist(spark)
    return pages, authority, redirects, blacklist


def test_error_log_side_table(spark, corpus, tmp_path):
    """S15 — corrupted/blacklisted/dead inputs produce audit rows in the
    `_errors` side table instead of disappearing silently
    (reference lib/utils.js:238 logError)."""
    pages, authority, redirects, blacklist = corpus
    junk = spark.createDataFrame(
        [
            # html that strips to nothing -> extract/empty_text
            ("u://junk/1", None, b"<html><head><title>x</title></head><body>"
             b"<nav>only nav</nav></body></html>", None, "en"),
            # blacklisted junk name -> link/blacklisted_name
            ("u://junk/2", None, b'<p><span class="agent">Unknown</span></p>',
             None, "en"),
            # golden deleted VIAF id 9431627 (test/viaf.test.js:22-30)
            # -> link/dead_viaf
            ("u://junk/3", None,
             b'<p><span class="agent" data-viaf="9431627">Ghost</span></p>',
             None, "en"),
            # blacklisted name carrying the dead id: the anti-join drops
            # it first, so it is logged as blacklisted, never as dead
            ("u://junk/4", None,
             b'<p><span class="agent" data-viaf="9431627">Unknown</span></p>',
             None, "en"),
        ],
        pages.schema,
    )
    res = run_pipeline(
        spark, pages.unionByName(junk), authority, redirects, blacklist,
        out_dir=str(tmp_path / "out"),
    )
    errs = res.errors.collect()
    by_reason = {}
    for r in errs:
        by_reason.setdefault(r["reason"], []).append(r)
    assert [e["url"] for e in by_reason["empty_text"]] == ["u://junk/1"]
    assert sorted((e["url"], e["detail"]) for e in by_reason["blacklisted_name"]) == [
        ("u://junk/2", "Unknown"), ("u://junk/4", "Unknown")
    ]
    assert [(e["url"], e["detail"]) for e in by_reason["dead_viaf"]] == [
        ("u://junk/3", "9431627")
    ]
    for e in errs:
        assert e["stage"] in ("extract", "link")
    # errors must NOT leak into the graph: blacklisted/dead mentions are
    # dropped or name-linked, never viaf-linked to the dead id
    assert res.triples.where(F.col("obj").contains("9431627")).count() == 0


def _canonical_fields(row: dict, registry_id: int) -> tuple:
    return (
        registry_id,
        sorted(row["viaf"] or []),
        sorted(tuple(m) for m in row["merge_source"]),
        row["name_controlled"],
        row["type"],
        row["lc_id"],
        row["wikidata"],
        row["dbpedia"],
        row["is_controlled"],
    )


def test_triples_match_oracle(spark, corpus):
    pages, authority, redirects, blacklist = corpus
    res = run_pipeline(spark, pages, authority, redirects, blacklist)
    triple_rows = [(r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()]

    pages_rows = [r.asDict() for r in pages.collect()]
    auth_rows = [r.asDict() for r in authority.collect()]
    red_rows = [r.asDict() for r in redirects.collect()]
    bl = [r["name"] for r in blacklist.collect()]
    oracle_canonical, oracle_triples = kg_oracle.run_oracle(
        pages_rows, auth_rows, red_rows, bl
    )

    assert len(triple_rows) == len(set(triple_rows)), "duplicate triple rows"
    spark_triples = set(triple_rows)
    assert spark_triples == oracle_triples, (
        f"+spark {sorted(spark_triples - oracle_triples)[:5]}\n"
        f"+oracle {sorted(oracle_triples - spark_triples)[:5]}"
    )

    # registry ids enumerate the entity keys in order from REGISTRY_ID_OFFSET
    rank = {k: i for i, k in enumerate(sorted(g["entity_key"] for g in oracle_canonical))}
    want = {
        g["entity_key"]: _canonical_fields(g, REGISTRY_ID_OFFSET + rank[g["entity_key"]])
        for g in oracle_canonical
    }
    canonical_rows = [r.asDict(recursive=True) for r in res.canonical.collect()]
    got = {
        r["entity_key"]: _canonical_fields(
            {**r, "merge_source": [(m["source"], m["id"]) for m in r["merge_source"] or []]},
            r["registry_id"],
        )
        for r in canonical_rows
    }
    assert len(got) == len(canonical_rows), "duplicate canonical entity keys"
    assert got.keys() == want.keys()
    wrong = {k: (got[k], want[k]) for k in got if got[k] != want[k]}
    assert not wrong, f"{len(wrong)} canonical rows differ, e.g. {list(wrong.items())[:3]}"


def test_rerun_is_deterministic(spark, corpus):
    pages, authority, redirects, blacklist = corpus
    r1 = run_pipeline(spark, pages, authority, redirects, blacklist)
    r2 = run_pipeline(spark, pages, authority, redirects, blacklist)
    key = STAGE_KEYS["triples"]
    assert global_checksum(r1.triples, *key) == global_checksum(r2.triples, *key)


def test_in_memory_run_leaves_no_storage(spark, corpus):
    """An in-memory run pins storage only through the frames it returns:
    once the caller unpersists them and drops the result, ContextCleaner
    releases every checkpoint block and nothing stays cached."""
    import gc
    import time

    def stored() -> set[int]:
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    pages, authority, redirects, blacklist = corpus
    before = stored()
    res = run_pipeline(spark, pages, authority, redirects, blacklist)
    assert res.triples.count() > 0
    for stage in ("pages", "mentions", "linked", "agents", "canonical", "triples", "errors"):
        getattr(res, stage).unpersist()
    del res
    gc.collect()
    deadline = time.time() + 30.0
    leaked = stored() - before
    while leaked and time.time() < deadline:
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.25)
        leaked = stored() - before
    assert not leaked, f"in-memory run left storage pinned: {leaked}"


def _assert_one_metrics_row_per_stage(spark, out: str, stages=None) -> dict[str, str]:
    """`<out>/_metrics` holds exactly one row per stage (every listed stage
    unless `stages` names fewer), equal to the count and checksum
    recomputed from the stage's parquet. Returns each stage's run_id."""
    import os

    from serialization_agents_spark.plans import pipeline

    rows = spark.read.parquet(os.path.join(out, "_metrics")).collect()
    assert sorted(r["stage"] for r in rows) == sorted(stages or pipeline._STAGE_ORDER)
    for r in rows:
        stage_df = spark.read.parquet(os.path.join(out, r["stage"]))
        got = (r["row_count"], r["key_checksum"])
        assert got == global_checksum(stage_df, *STAGE_KEYS[r["stage"]]), r["stage"]
    return {r["stage"]: r["run_id"] for r in rows}


def test_resume_from_checkpoint(spark, corpus, tmp_path, monkeypatch):
    import os

    from serialization_agents_spark.plans import pipeline

    pages, authority, redirects, blacklist = corpus
    out = str(tmp_path / "ckpt")

    full = run_pipeline(spark, pages, authority, redirects, blacklist, out_dir=out)
    assert full.stages_computed and not full.stages_resumed
    # A7 — observe() counters piggyback each computed stage's write and
    # must equal the materialized row counts and key checksums (the
    # reference's progress counters, lib/shadowcat_serialize_viaf_agents.js:63-77)
    assert set(full.observations) == set(full.stages_computed)
    for stage, df in [("mentions", full.mentions), ("triples", full.triples)]:
        got = full.observations[stage].get
        want_stage = global_checksum(df, *STAGE_KEYS[stage])
        assert (got["row_count"], got["key_checksum"]) == want_stage, stage
    assert set(_assert_one_metrics_row_per_stage(spark, out).values()) == {"run0"}
    # the persisted agents stage, read back, equals an in-memory run's
    def agents_by_key(agents) -> dict:
        cols = ("entity_key", "mention_count", "name_controlled")
        return {r[0]: tuple(r[1:]) for r in agents.select(*cols).collect()}

    in_memory = run_pipeline(spark, pages, authority, redirects, blacklist, until="agents")
    assert agents_by_key(full.agents) == agents_by_key(in_memory.agents)
    want = global_checksum(full.triples, *STAGE_KEYS["triples"])

    # a completed out_dir is read back whole: no stage operator is called
    # and the `_errors` side table is not rewritten
    errors_done = os.path.join(out, "_errors", "_SUCCESS")
    errors_mtime = os.stat(errors_done).st_mtime_ns

    def recomputed(*_args, **_kwargs):
        raise AssertionError("a completed stage was recomputed")

    with monkeypatch.context() as m:
        for name in ("link_mentions", "score_alt_forms", "canonicalize_agents", "enumerate_ids"):
            m.setattr(pipeline, name, recomputed)
        again = run_pipeline(spark, pages, authority, redirects, blacklist, out_dir=out)
    assert again.stages_resumed == list(pipeline._STAGE_ORDER)
    assert not again.stages_computed
    assert os.stat(errors_done).st_mtime_ns == errors_mtime
    assert again.cc_iterations == 0
    assert global_checksum(again.triples, *STAGE_KEYS["triples"]) == want

    # simulate a crash after 'linked': drop everything later
    for stage in ["agents", "canonical", "triples"]:
        shutil.rmtree(f"{out}/{stage}", ignore_errors=True)

    resumed = run_pipeline(
        spark, pages, authority, redirects, blacklist, out_dir=out, run_id="resume"
    )
    assert set(resumed.stages_resumed) >= {"extract", "mentions", "linked"}
    assert set(resumed.stages_computed) == {"agents", "canonical", "triples"}
    got = global_checksum(resumed.triples, *STAGE_KEYS["triples"])
    assert got == want
    # still one row per stage: the recomputed stages' rows were replaced
    run_ids = _assert_one_metrics_row_per_stage(spark, out)
    assert {s for s, r in run_ids.items() if r == "resume"} == set(resumed.stages_computed)


def test_crash_between_stages_keeps_written_stage_rows(spark, corpus, tmp_path, monkeypatch):
    """A driver that dies in canonicalize leaves exactly one `_metrics` row
    for each stage written before it; the next run fills in the rest, one
    row per stage, each `stage=<name>/part-0.parquet` alone in its
    directory — a file that an older, Spark-written `_metrics` left in a
    recomputed stage's directory is removed."""
    import os

    from serialization_agents_spark.plans import pipeline

    pages, authority, redirects, blacklist = corpus
    out = str(tmp_path / "crash")
    written = ["extract", "mentions", "linked", "agents"]

    def crash(*_args, **_kwargs):
        raise RuntimeError("driver died in canonicalize")

    with monkeypatch.context() as m:
        m.setattr(pipeline, "canonicalize_agents", crash)
        with pytest.raises(RuntimeError, match="driver died in canonicalize"):
            run_pipeline(spark, pages, authority, redirects, blacklist, out_dir=out)
    assert set(_assert_one_metrics_row_per_stage(spark, out, written).values()) == {"run0"}

    stale = os.path.join(out, "_metrics", "stage=canonical")
    spark.createDataFrame(
        [("old", 0, 0)], "run_id string, row_count long, key_checksum long"
    ).coalesce(1).write.parquet(stale)
    again = run_pipeline(
        spark, pages, authority, redirects, blacklist, out_dir=out, run_id="again"
    )
    assert again.stages_resumed == written
    assert again.stages_computed == ["canonical", "triples"]
    run_ids = _assert_one_metrics_row_per_stage(spark, out)
    assert {s for s, r in run_ids.items() if r == "again"} == {"canonical", "triples"}
    metrics = os.path.join(out, "_metrics")
    assert sorted(os.listdir(metrics)) == sorted(f"stage={s}" for s in pipeline._STAGE_ORDER)
    for d in os.listdir(metrics):
        assert os.listdir(os.path.join(metrics, d)) == ["part-0.parquet"], d


def test_stage_jobs_carry_run_job_group(spark, corpus, tmp_path):
    """Each stage's jobs run under job group `<run_id>:<stage>`, and the
    caller's own group is restored afterwards."""
    sc = spark.sparkContext
    pages, authority, redirects, blacklist = corpus
    sc.setJobGroup("caller", "caller's jobs")
    try:
        run_pipeline(
            spark, pages, authority, redirects, blacklist,
            out_dir=str(tmp_path / "grouped"), run_id="grouped", until="canonical",
        )
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        assert sc.getLocalProperty("spark.job.description") == "caller's jobs"
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert sc.statusTracker().getJobIdsForGroup("grouped:canonical")


def test_until_agents_skips_downstream_and_resumes_forward(spark, corpus, tmp_path):
    """`until="agents"` is the maintenance-job shape: downstream stages
    (CC, triples, errors) are never declared — no output dirs, None
    frames — and a later FULL run resumes the already-computed prefix
    instead of recomputing it."""
    import os

    pages, authority, redirects, blacklist = corpus
    out = str(tmp_path / "until_run")
    res = run_pipeline(
        spark, pages, authority, redirects, blacklist,
        out_dir=out, until="agents",
    )
    assert res.canonical is None and res.triples is None and res.errors is None
    assert res.agents.count() > 0
    assert set(res.stages_computed) == {"extract", "mentions", "linked", "agents"}
    for stage in ("canonical", "triples", "_errors"):
        assert not os.path.exists(os.path.join(out, stage)), stage

    full = run_pipeline(spark, pages, authority, redirects, blacklist, out_dir=out)
    assert {"extract", "mentions", "linked", "agents"} <= set(full.stages_resumed)
    assert {"canonical", "triples"} <= set(full.stages_computed)
    assert full.triples.count() > 0
