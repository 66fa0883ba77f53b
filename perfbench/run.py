"""The repository's benchmark: the KG pipeline measured end to end, from
process start, and layer by layer.

    python3 perfbench/run.py --workload kg_corpus --seed 1 --seconds 10 --trace 0

Run it from the repository root. Workloads (see perfbench/README.md):

- ``kg_corpus``  in-memory ``run_pipeline(until="agents")`` over a seeded
  page corpus;
- ``kg_persist`` ``run_pipeline(out_dir=...)`` writing every stage, then
  a second call on the completed ``out_dir`` (resume).

A run generates the corpus for (seed, size) once, outside every timed
region (perfbench/corpus.py; it is kept under ``.perfbench/corpus`` and
reused by later runs with the same seed). It then starts measured
passes, each a fresh process (perfbench/measure.py), one after another
until ``--seconds`` have passed since the first began; every run makes
at least one. A pass runs without the session warm-up
(``SPARK_GRAFT_WARM=0``), except a traced ``kg_corpus`` pass, which
uses the program's default session (see perfbench/README.md, "Set-up").
Each metric is the median over the run's passes. While a
pass runs, the RSS of its whole process tree (python, JVM, python
workers) is sampled (reported by traced runs as ``process.peak_rss_mb``).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
also writes its spans to ``.perfbench/traces/``. Exit status is 0 only
when every operation and check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
PACKAGE = os.path.join(ROOT, "serialization_agents_spark")

WORKLOADS = ("kg_corpus", "kg_persist")
# One corpus for both workloads (perfbench/corpus.py): ~30 KB html pages,
# 2 000 authorities, a head entity in ~10 % of pages. Per-page work is a
# small share of a build at this size; a corpus large enough to make it
# dominate would not fit the time a run is given.
CORPUS = {"n_pages": 2000, "n_auth": 2000, "html_kb": 30}
RUN_DEADLINE_S = 160  # every run ends, with a result, within 180 s
PASS_TIMEOUT_S = 150

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "end_to_end_s": "s",
    "kg_build_s": "s",
    "pages_per_s": "pages/s",
}
LAYERS = [
    "session",
    "sources.pages",
    "operators.extract",
    "operators.mentions",
    "operators.linking",
    "operators.merge",
    "operators.merge.alt_forms",
    "operators.canonicalize",
    "operators.enumerate_ids",
    "operators.triples",
    "plans.errors",
    "plans.pipeline",
    "plans.pipeline.resume",
]
COUNTERS = {  # name -> unit
    "wall_s": "s",
    "jobs": "count",
    "shuffle_write_mb": "MB",
    "exec_run_s": "s",
}
PER_LAYER_EXTRA = {
    "process.peak_rss_mb": "MB",
    "operators.linking.resolved_ratio": "ratio",
    "operators.canonicalize.cc_iterations": "count",
    "plans.pipeline.write_amplification": "bytes/byte",
    "trace.end_to_end_s": "s",
}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def corpus_key(seed: int) -> str:
    """Cache key: seed, size, and the generators' source (a change to
    either must not reuse a stale corpus)."""
    h = hashlib.sha256()
    for path in (
        os.path.join(HERE, "corpus.py"),
        os.path.join(PACKAGE, "synth.py"),
        os.path.join(PACKAGE, "functions", "normalize.py"),
    ):
        with open(path, "rb") as f:
            h.update(f.read())
    c = CORPUS
    return (
        f"seed{seed}-p{c['n_pages']}-a{c['n_auth']}-k{c['html_kb']}-"
        f"{h.hexdigest()[:12]}"
    )


def child_env(work: str, warm: bool) -> dict:
    """Environment of a measured process whose scratch files (Spark local
    dirs, JVM and Python temp files) all go under `work`. Every
    SPARK_GRAFT_* knob is cleared, so the program runs with its defaults;
    unless `warm`, the session warm-up is switched off with the program's
    own SPARK_GRAFT_WARM=0 (see README "Set-up")."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        PYTHONPATH=os.pathsep.join(
            [ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
        ),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=" ".join(
            [env.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={tmp}"]
        ).strip(),
        PYSPARK_PYTHON=sys.executable,
    )
    if not warm:
        env["SPARK_GRAFT_WARM"] = "0"
    return env


class ProcessTree:
    """A child started in its own session; `wait` also ends and waits
    out every process left in that session (the JVM, python workers),
    and samples the tree's total RSS while the child runs."""

    def __init__(self, args: list[str], env: dict, log):
        self.peak_rss = 0
        self.proc = subprocess.Popen(
            args, cwd=ROOT, env=env, stdout=log, stderr=log, start_new_session=True
        )
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _members(self) -> list[int]:
        pids = []
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == self.proc.pid:  # session id
                pids.append(int(name))
        return pids

    def _sample(self) -> None:
        # membership is rescanned once a second, RSS read five times a second
        page = os.sysconf("SC_PAGE_SIZE")
        members: list[int] = []
        tick = 0
        while not self._stop.wait(0.2):
            if tick % 5 == 0:
                members = self._members()
            tick += 1
            total = 0
            for pid in members:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * page
                except OSError:
                    pass
            self.peak_rss = max(self.peak_rss, total)

    def wait(self, timeout: float) -> int | None:
        try:
            code = self.proc.wait(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            code = None
        self._stop.set()
        self._sampler.join()
        deadline = time.monotonic() + 10.0
        sig = signal.SIGTERM
        while True:
            try:
                os.killpg(self.proc.pid, 0)
            except ProcessLookupError:
                break
            if time.monotonic() > deadline:
                sig = signal.SIGKILL
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                break
            time.sleep(0.2)
        self.proc.wait()
        return code


def ensure_corpus(seed: int) -> str:
    dest = os.path.join(STATE, "corpus", corpus_key(seed))
    if not os.path.exists(os.path.join(dest, "manifest.json")):
        sys.path.insert(0, ROOT)
        import corpus

        os.makedirs(os.path.dirname(dest), exist_ok=True)
        corpus.write(dest, seed, **CORPUS)
    return dest


def measured_pass(spec: dict, work: str, log, deadline: float, warm: bool) -> dict:
    os.makedirs(work, exist_ok=True)
    spec = dict(spec, work=work, result=os.path.join(work, "result.json"))
    spec_path = os.path.join(work, "spec.json")
    spec["spawn_monotonic"] = time.monotonic()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tree = ProcessTree(
        [sys.executable, os.path.join(HERE, "measure.py"), spec_path],
        child_env(work, warm), log,
    )
    code = tree.wait(min(PASS_TIMEOUT_S, deadline - time.monotonic()))
    try:
        with open(spec["result"]) as f:
            result = json.load(f)
    except (OSError, ValueError):
        result = {"error": f"no result (exit {code}); see {log.name}"}
    # out_dir and the Spark local dirs go with the pass
    shutil.rmtree(work, ignore_errors=True)
    result["peak_rss_mb"] = tree.peak_rss / (1024.0 * 1024.0)
    return result


def record_checksums(key: str, workload: str, checksums: dict) -> dict:
    """Cross-workload agreement: each stage checksum of a corpus is
    recorded by the first run that computes it; every later run, of
    either workload, must match it."""
    path = os.path.join(STATE, "checksums", key + ".json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    ref = {}
    if os.path.exists(path):
        with open(path) as f:
            ref = json.load(f)
    bad = {
        stage: {"expected": ref[stage], "got": ck}
        for stage, ck in checksums.items()
        if stage in ref and ref[stage]["checksum"] != ck
    }
    new = {
        stage: {"checksum": ck, "workload": workload}
        for stage, ck in checksums.items() if stage not in ref
    }
    if new:
        with open(path, "w") as f:
            json.dump({**ref, **new}, f)
    return {"name": "checksums_match_other_runs", "ok": not bad, "detail": bad}


def end_to_end_metrics(passes: list[dict], n_pages: int) -> dict:
    def med(key):
        return statistics.median(p["timings"][key] for p in passes)

    return {
        "setup_s": med("setup_s"),
        "end_to_end_s": med("end_to_end_s"),
        "kg_build_s": med("kg_build_s"),
        "pages_per_s": statistics.median(
            n_pages / p["timings"]["kg_build_s"] for p in passes
        ),
    }


def layer_metrics(result: dict, pages_bytes: int) -> dict:
    """Per-layer metrics of one traced pass: each layer's first span (the
    first build; a resume's re-run layers stay in the trace file)."""
    first: dict[str, dict] = {}
    for s in result["spans"]:
        first.setdefault(s["name"], s)
    out = {"process.peak_rss_mb": result["peak_rss_mb"]}
    for layer in LAYERS:
        s = first.get(layer)
        c = s["counts"] if s else {}
        out[f"{layer}.wall_s"] = s["wall_s"] if s else 0.0
        for counter in ("jobs", "shuffle_write_mb", "exec_run_s"):
            out[f"{layer}.{counter}"] = c.get(counter, 0)
    attrs = first["plans.pipeline"]["attrs"]
    out["operators.linking.resolved_ratio"] = attrs["resolved"] / attrs["mentions"]
    out["operators.canonicalize.cc_iterations"] = attrs["cc_iterations"]
    out_bytes = result["values"].get("out_bytes", 0)
    out["plans.pipeline.write_amplification"] = out_bytes / pages_bytes
    out["trace.end_to_end_s"] = result["timings"].get("end_to_end_s", 0.0)
    return out


def untraced_history(workload: str, key: str) -> list[float]:
    path = os.path.join(STATE, "history", f"{workload}.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return [r["end_to_end_s"] for r in rows if r["corpus"] == key]


def append_history(workload: str, key: str, e2e: float) -> None:
    path = os.path.join(STATE, "history", f"{workload}.jsonl")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps({"corpus": key, "end_to_end_s": e2e}) + "\n")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PACKAGE):
        print(f"error: {PACKAGE} not found; run from a repository checkout",
              file=sys.stderr)
        return 2
    started = time.monotonic()
    deadline = started + RUN_DEADLINE_S
    os.makedirs(STATE, exist_ok=True)
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    log_path = os.path.join(STATE, f"last-{args.workload}.log")
    try:
        with open(log_path, "w") as log:
            key = corpus_key(args.seed)
            corpus = ensure_corpus(args.seed)
            with open(os.path.join(corpus, "manifest.json")) as f:
                manifest = json.load(f)
            spec = {
                "workload": args.workload,
                "seed": args.seed,
                "corpus": corpus,
                "trace": bool(args.trace),
                "cpus": cpu_count(),
            }
            # a traced kg_corpus pass runs the program's default session,
            # warm-up included, so the session layer shows what it costs
            warm = bool(args.trace) and args.workload == "kg_corpus"
            passes: list[dict] = []
            first = time.monotonic()
            while True:
                work = os.path.join(run_dir, f"pass{len(passes)}")
                passes.append(measured_pass(spec, work, log, deadline, warm))
                spent = time.monotonic() - first
                left = deadline - time.monotonic()
                if (
                    args.trace
                    or spent >= args.seconds
                    or "error" in passes[-1]
                    or left < 1.5 * spent / len(passes)
                ):
                    break
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = sum(p.get("attempted", 1) for p in passes)
    failed = sum(p.get("failed", 1) if "error" not in p else 1 for p in passes)
    checks = [c for p in passes for c in p.get("checks", [])]
    for p in passes:
        if "error" in p:
            print(p["error"], file=sys.stderr)
        elif "checksums" in p["values"]:
            attempted += 1
            c = record_checksums(key, args.workload, p["values"]["checksums"])
            checks.append(c)
            failed += 0 if c["ok"] else 1
    for i, p in enumerate(passes):
        print(f"pass {i}: " + " ".join(
            f"{k}={v:.3f}" for k, v in p.get("timings", {}).items()
        ) + f" peak_rss_mb={p['peak_rss_mb']:.0f}", file=sys.stderr)
    for c in checks:
        if not c["ok"]:
            print(f"check failed: {c['name']}: {c['detail']}", file=sys.stderr)

    ok = [p for p in passes if "error" not in p and p.get("failed") == 0]
    metrics: dict = {}
    if ok and args.trace:
        result = ok[0]
        values = layer_metrics(result, manifest["pages_bytes"])
        units = {f"{layer}.{c}": u for layer in LAYERS for c, u in COUNTERS.items()}
        units.update(PER_LAYER_EXTRA)
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
        history = untraced_history(args.workload, key)
        trace = {
            "workload": args.workload,
            "seed": args.seed,
            "session_warm_up": warm,
            "corpus": manifest,
            "spans": result["spans"],
            "per_layer": values,
            "untraced_end_to_end_s": history,
            # against untraced passes of the same session configuration only
            "overhead_s": (
                values["trace.end_to_end_s"] - statistics.median(history)
                if history and not warm else None
            ),
        }
        trace_dir = os.path.join(STATE, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump(trace, f, indent=1)
        print(f"trace: {trace_path} overhead_s={trace['overhead_s']}", file=sys.stderr)
    elif ok:
        values = end_to_end_metrics(ok, manifest["n_pages"])
        for p in ok:
            append_history(args.workload, key, p["timings"]["end_to_end_s"])
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        print(f"passes: {len(passes)} "
              + " ".join(f"{k}={v:.4g}" for k, v in values.items()), file=sys.stderr)

    print(json.dumps({
        "correct": failed == 0 and bool(ok),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 and ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
