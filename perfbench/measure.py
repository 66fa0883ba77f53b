"""One measured pass of a KG workload, in a fresh process.

    python3 perfbench/measure.py <spec.json>

`spec.json` (written by run.py) names the workload, the corpus
directory, a scratch directory, whether to trace, the process's spawn
time on the shared monotonic clock, and where to write the result.

Untraced, the pass times from spawn: session set-up (``get_spark``),
the pipeline build (``kg_corpus``: in memory through the agents stage;
``kg_persist``: writing every stage through the triples) and, for
``kg_persist``, the resume. Each timed result is forced by one aggregate
that hashes every output column (count plus an order-independent
checksum), so no column a caller would receive can be pruned.
Correctness checks run after the timed regions.

Traced, the same pass runs with every layer's public function wrapped
in a span (perfbench/status.py) and its output forced, and the spans are
written to a trace file.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
import traceback

STAGES = ["extract", "mentions", "linked", "agents", "canonical", "triples"]

# run_pipeline resolves these names in its own module at call time, so
# wrapping them there traces every call it makes (plans.errors is
# imported inside run_pipeline from its module, wrapped there).
PIPELINE_LAYERS = [
    ("with_extracted_text", "operators.extract"),
    ("detect_mentions", "operators.mentions"),
    ("link_mentions", "operators.linking"),
    ("merge_entities", "operators.merge"),
    ("score_alt_forms", "operators.merge.alt_forms"),
    ("canonicalize_agents", "operators.canonicalize"),
    ("enumerate_ids", "operators.enumerate_ids"),
    ("materialize_triples", "operators.triples"),
]


def checksum(df) -> tuple[int, int, int]:
    """(rows, low-word sum, high-word sum) of xxhash64 over all columns:
    order-independent, and it reads every column of every row."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*df.columns)
    row = df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum(h.bitwiseAND(0xFFFFFFFF)), F.lit(0)),
        F.coalesce(F.sum(F.shiftrightunsigned(h, 32)), F.lit(0)),
    ).first()
    return int(row[0]), int(row[1]), int(row[2])


class Pass:
    def __init__(self, spec: dict):
        self.spec = spec
        self.timings: dict[str, float] = {}
        self.checks: list[dict] = []
        self.ops = 0
        self.failed_ops = 0
        self.values: dict = {}

    def check(self, name: str, ok: bool, detail=None) -> None:
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})

    def op(self, name: str, fn) -> None:
        """Run one operation; an exception or a failed check inside it
        counts it failed instead of ending the pass."""
        self.ops += 1
        n_checks = len(self.checks)
        try:
            fn()
        except Exception:
            self.check(name, False, traceback.format_exc(limit=8))
        if not all(c["ok"] for c in self.checks[n_checks:]):
            self.failed_ops += 1


def run(spec: dict) -> dict:
    from serialization_agents_spark.session import get_spark

    t0 = spec["spawn_monotonic"]
    p = Pass(spec)
    cpus = spec["cpus"]
    spark = get_spark(
        app_name=f"perfbench-{spec['workload']}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    t_setup = time.monotonic()
    p.timings["setup_s"] = t_setup - t0

    tracer = None
    if spec["trace"]:
        from status import Mark, Span, Tracer

        tracer = Tracer(spark, run_id=f"{spec['workload']}-seed{spec['seed']}")
        # the session span covers spawn -> get_spark returned; its counters
        # are every job the session ran before this point
        sess = Span("session", tracer.run_id, None, t0, t_setup)
        sess.counts = tracer.counters.since(Mark(-1, -1))
        tracer.spans.append(sess)
        _install_wrappers(tracer)

    try:
        if spec["workload"] == "kg_corpus":
            _kg_corpus(spark, p, tracer)
        else:
            _kg_persist(spark, p, tracer)
        if "t_last" in p.values:
            p.timings["end_to_end_s"] = p.values.pop("t_last") - t0
        p.op("cache_release", lambda: _cache_release(spark, p))
    finally:
        spark.stop()
    result = {
        "timings": p.timings,
        "checks": p.checks,
        "attempted": p.ops,
        "failed": p.failed_ops,
        "values": p.values,
    }
    if tracer is not None:
        result["spans"] = tracer.spans_json()
    return result


def _install_wrappers(tracer) -> None:
    from serialization_agents_spark.plans import errors, pipeline

    for attr, layer in PIPELINE_LAYERS:
        setattr(pipeline, attr, tracer.wrap(layer, getattr(pipeline, attr)))
    errors.pipeline_errors = tracer.wrap("plans.errors", errors.pipeline_errors)


def _link_counts(linked) -> dict:
    from pyspark.sql import functions as F

    row = linked.agg(
        F.count(F.lit(1)),
        F.count(F.when(F.col("entity_key").startswith("viaf:"), 1)),
    ).first()
    return {"mentions": int(row[0]), "resolved": int(row[1])}


def _read_inputs(spark, corpus: str, tracer):
    from serialization_agents_spark.sources.pages import (
        read_authority,
        read_pages,
        read_redirects,
    )

    read = read_pages
    if tracer is not None:
        read = tracer.wrap("sources.pages", read_pages)
    pages = read(spark, os.path.join(corpus, "pages"))
    authority = read_authority(spark, os.path.join(corpus, "authority"))
    redirects = read_redirects(spark, os.path.join(corpus, "redirects"))
    blacklist = spark.read.parquet(os.path.join(corpus, "blacklist"))
    return pages, authority, redirects, blacklist


def _build(spark, spec, tracer, span_name, out_dir=None, until="triples"):
    """Read the inputs, run the pipeline, force its last stage. Returns
    (PipelineResult, checksum, wall seconds). Traced and forcing, the
    pipeline span also gets the linking and CC ratios' bases, counted
    after the timed region."""
    from serialization_agents_spark.plans.pipeline import run_pipeline

    t = time.monotonic()
    inputs = _read_inputs(spark, spec["corpus"], tracer)
    with (tracer.span(span_name) if tracer else contextlib.nullcontext()) as span:
        res = run_pipeline(spark, *inputs, out_dir=out_dir, until=until)
        ck = checksum(getattr(res, until))
    wall = time.monotonic() - t
    if tracer and tracer.forcing:
        span.attrs.update(_link_counts(res.linked), cc_iterations=res.cc_iterations)
    return res, ck, wall


def _kg_corpus(spark, p: Pass, tracer) -> None:
    """In-memory build through the merge: the per-page layers and the
    one fact-table shuffle, without the entity-scale stages."""

    def build():
        _res, ck, wall = _build(spark, p.spec, tracer, "plans.pipeline", until="agents")
        p.values["t_last"] = time.monotonic()
        p.timings["kg_build_s"] = wall
        p.values["checksums"] = {"agents": ck}
        p.check("agents_nonempty", ck[0] > 0, ck[0])

    p.op("build", build)


def _kg_persist(spark, p: Pass, tracer) -> None:
    """run_pipeline(out_dir=...) writing every stage, then the same call
    on the completed out_dir (resume)."""
    out_dir = os.path.join(p.spec["work"], "out")

    def write():
        res, ck, wall = _build(spark, p.spec, tracer, "plans.pipeline", out_dir)
        p.timings["kg_build_s"] = wall
        p.values["checksums"] = {"triples": ck}
        p.check("triples_nonempty", ck[0] > 0, ck[0])
        p.check(
            "write_computes_every_stage",
            res.stages_computed == STAGES and not res.stages_resumed,
            {"computed": res.stages_computed, "resumed": res.stages_resumed},
        )

    def resume():
        if tracer is not None:
            tracer.forcing = False  # the resumed run discards what it re-declares
        res, ck, wall = _build(spark, p.spec, tracer, "plans.pipeline.resume", out_dir)
        p.values["t_last"] = time.monotonic()
        p.timings["resume_s"] = wall
        p.check("resume_matches_write", ck == p.values["checksums"]["triples"], ck)
        p.check(
            "resume_reads_every_stage",
            res.stages_resumed == STAGES and not res.stages_computed,
            {"computed": res.stages_computed, "resumed": res.stages_resumed},
        )

    def read_back():
        from corpus import dir_bytes

        # after the timed regions: the persisted agents stage, for the
        # cross-workload agreement with kg_corpus's in-memory agents
        p.values["out_bytes"] = dir_bytes(out_dir)
        agents = spark.read.parquet(os.path.join(out_dir, "agents"))
        p.values["checksums"]["agents"] = checksum(agents)

    p.op("write", write)
    p.op("resume", resume)
    p.op("read_back", read_back)


def _cache_release(spark, p: Pass) -> None:
    """Release what the pipeline pinned (its persists, with clearCache,
    and its localCheckpoint blocks, with kg_cache_clear's cleaner wait)
    and require empty executor storage."""
    import __spark_entry__ as entry

    spark.catalog.clearCache()
    entry.kg_cache_clear(wait_cleanup_s=20.0)
    left = [
        f"{r.id()}:{r.name()}" for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ]
    p.check("cache_released", not left, left)


def main(argv: list[str]) -> int:
    with open(argv[0]) as f:
        spec = json.load(f)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    try:
        result = run(spec)
    except Exception:
        result = {"error": traceback.format_exc(limit=12)}
    with open(spec["result"], "w") as f:
        json.dump(result, f, default=str)
    return 0 if "error" not in result else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
