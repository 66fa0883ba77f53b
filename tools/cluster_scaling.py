"""N -> 4N scaling via REAL multi-JVM executors (local-cluster mode).

`local-cluster[n, cores, mem_mb]` is Spark's multi-process standalone
shim: it spawns n REAL executor JVMs with `cores` threads each, with
netty shuffle between them — the closest thing to "N executors" a single
box offers. N -> 4N is then 1 executor vs 4 executors at fixed
cores-per-executor. Each cell is a fresh process running the full
`run_pipeline` over a synthetic corpus; the result is one JSON line.

    python tools/cluster_scaling.py [small_pages] [big_pages] \
        [cores_per_exec] [mem_mb] [--out result.json]

`python tools/cluster_scaling.py 2000 4000 1 1024` compares
local-cluster[1,1,1024] against local-cluster[4,1,1024] and fits a
4-core host.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, os, sys, time
from serialization_agents_spark.session import get_spark
from serialization_agents_spark import synth
from serialization_agents_spark.plans.pipeline import run_pipeline

n_exec = int(os.environ["CLUSTER_EXECUTORS"])
cores = int(os.environ["CLUSTER_CORES"])
mem = int(os.environ["CLUSTER_MEM_MB"])
n_pages = int(os.environ["BENCH_PAGES"])
total_cores = n_exec * cores
spark = get_spark(
    app_name=f"cluster-scaling-{n_exec}x{cores}",
    master=f"local-cluster[{n_exec},{cores},{mem}]",
    shuffle_partitions=max(total_cores * 2, 8),
    extra_conf={
        "spark.driver.memory": "8g",
        "spark.executor.memory": f"{mem}m",
        # keep Arrow/pandas workers bounded per small executor
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    },
)
spark.range(10_000_000).selectExpr("sum(id)").collect()  # warm executors

pages = synth.synth_pages(
    spark, n_pages=n_pages, n_auth=2000,
    partitions=max(total_cores * 3, 16),
    html_kb=int(os.environ.get("BENCH_HTML_KB", "30")),
)
authority = synth.synth_authority(spark, n_auth=2000)
redirects = synth.synth_redirects(spark)
blacklist = synth.synth_blacklist(spark)

t0 = time.time()
res = run_pipeline(spark, pages, authority, redirects, blacklist)
n_triples = res.triples.count()
wall = time.time() - t0
n_entities = res.canonical.count()
print(json.dumps({
    "executors": n_exec, "cores_per_executor": cores, "n_pages": n_pages,
    "wall_sec": round(wall, 2),
    "docs_per_sec": round(n_pages / wall, 1),
    "triples_per_sec": round(n_triples / wall, 1),
    "n_triples": n_triples, "n_entities": n_entities,
    "cc_iterations": res.cc_iterations,
}))
spark.stop()
"""


def run_cluster(n_exec: int, cores: int, mem_mb: int, n_pages: int) -> dict:
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        CLUSTER_EXECUTORS=str(n_exec),
        CLUSTER_CORES=str(cores),
        CLUSTER_MEM_MB=str(mem_mb),
        BENCH_PAGES=str(n_pages),
    )
    out = subprocess.run(
        [sys.executable, "-c", WORKER], env=env, capture_output=True,
        text=True, timeout=3600,
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        print(out.stdout[-2000:], file=sys.stderr)
        print(out.stderr[-4000:], file=sys.stderr)
        raise RuntimeError(f"cluster worker {n_exec}x{cores} produced no JSON")
    return json.loads(lines[-1])


def main():
    """Marginal-cost measurement: fixed per-job costs (JVM/executor spin-up, plan build, dimension
    broadcast) dominate small corpora and make same-size throughput
    ratios meaningless, so each config runs TWO corpus sizes and the
    per-page marginal cost is compared:

        eff = (marginal_cost_1exec / marginal_cost_4exec) / 4
    """
    small = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    big = int(sys.argv[2]) if len(sys.argv) > 2 else 600_000
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    mem_mb = int(sys.argv[4]) if len(sys.argv) > 4 else 4096
    out_path = None
    for i, a in enumerate(sys.argv):
        if a == "--out":
            out_path = sys.argv[i + 1]

    cells = {}
    for n_exec in (4, 1):
        for pages in (small, big):
            r = run_cluster(n_exec, cores, mem_mb, pages)
            cells[(n_exec, pages)] = r
            print(f"{n_exec} exec x {cores} cores, {pages}: "
                  f"{r['wall_sec']}s ({r['triples_per_sec']} triples/s, "
                  f"{r['n_triples']} triples)", flush=True)

    m1 = (cells[(1, big)]["wall_sec"] - cells[(1, small)]["wall_sec"]) / (big - small)
    m4 = (cells[(4, big)]["wall_sec"] - cells[(4, small)]["wall_sec"]) / (big - small)
    eff = (m1 / m4) / 4
    fixed_ratio = (
        cells[(4, big)]["triples_per_sec"] / cells[(1, big)]["triples_per_sec"]
    )
    result = {
        "mode": f"local-cluster[N,{cores},{mem_mb}] (separate executor JVMs)",
        "small_pages": small, "big_pages": big,
        "cells_wall_sec": {f"{e}exec@{p}": cells[(e, p)]["wall_sec"]
                           for (e, p) in cells},
        "marginal_us_per_page": {"1exec": round(m1 * 1e6, 1),
                                 "4exec": round(m4 * 1e6, 1)},
        "marginal_scaling_efficiency_n_to_4n": round(eff, 3),
        "same_size_throughput_ratio_at_big": round(fixed_ratio, 3),
        "deterministic": len({cells[(e, big)]["n_triples"] for e in (1, 4)}) == 1
        and len({cells[(e, small)]["n_triples"] for e in (1, 4)}) == 1,
        "target": 0.8,
    }
    print(json.dumps(result))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
