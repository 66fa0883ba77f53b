"""End-to-end spark-submit deployment test (north rule: "deployed via
spark-submit --py-files").

Proves the real deployment path, not an import shim: the primary script
and the --py-files zip are copied/built into a scratch dir and submitted
from THERE, so `serialization_agents_spark` can only resolve from the
shipped artifact — a packaging slip (missing module, wrong zip layout)
fails this test, not the first cluster run."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

sys.path.insert(0, "/root/repo")

from serialization_agents_spark import synth  # noqa: E402


def _spark_submit() -> str:
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if not os.path.exists(cand):
        pytest.skip("spark-submit launcher not found in this environment")
    return cand


def test_runner_cli_parses_and_validates():
    from serialization_agents_spark.runner import build_arg_parser

    p = build_arg_parser()
    a = p.parse_args(
        ["--pages", "/p", "--authority", "/a", "--out-dir", "/o",
         "--dates", "2024-01-01", "2024-01-31", "--agents-table", "t"]
    )
    assert a.master == "inherit" and a.dates == ["2024-01-01", "2024-01-31"]
    with pytest.raises(SystemExit):
        p.parse_args(["--pages", "/p"])  # authority + out-dir required


def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    # Inputs written with the session fixture (cheap), consumed by a
    # SEPARATE spark-submit JVM below.
    pages_dir = str(tmp_path / "pages")
    auth_dir = str(tmp_path / "authority")
    synth.synth_pages(spark, n_pages=300, n_auth=60, partitions=4).write.parquet(
        pages_dir
    )
    synth.synth_authority(spark, n_auth=60).write.parquet(auth_dir)

    # Build the artifact and stage the launch dir OUTSIDE the repo.
    from tools.package_pyfiles import PACKAGE, build_zip

    launch = tmp_path / "launch"
    launch.mkdir()
    zip_path = str(launch / f"{PACKAGE}.zip")
    build_zip(zip_path)
    names = zipfile.ZipFile(zip_path).namelist()
    assert f"{PACKAGE}/runner.py" in names and f"{PACKAGE}/synth.py" in names
    shutil.copy(f"/root/repo/{PACKAGE}/runner.py", launch / "runner.py")

    out_dir = str(tmp_path / "out")
    env = {
        k: v for k, v in os.environ.items()
        if not k.startswith("SPARK_GRAFT")  # runner must not need them
    }
    proc = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            str(launch / "runner.py"),
            "--pages", pages_dir,
            "--authority", auth_dir,
            "--out-dir", out_dir,
            "--run-id", "submit-e2e",
        ],
        cwd=str(launch), env=env, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(
        [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert summary["n_triples"] > 0 and summary["n_entities"] > 0
    assert summary["stages_computed"] and not summary["stages_resumed"]

    # The stage outputs the summary reports must actually be on disk.
    got = spark.read.parquet(os.path.join(out_dir, "triples"))
    assert got.count() == summary["n_triples"]
    assert os.path.exists(os.path.join(out_dir, "_metrics"))

    # Re-submit with the same --out-dir: every stage resumes, and the
    # triple count is unchanged (checkpoint-resume, north-rule clause).
    proc2 = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            str(launch / "runner.py"),
            "--pages", pages_dir,
            "--authority", auth_dir,
            "--out-dir", out_dir,
            "--run-id", "submit-e2e",
        ],
        cwd=str(launch), env=env, capture_output=True, text=True, timeout=420,
    )
    assert proc2.returncode == 0, proc2.stderr[-3000:]
    summary2 = json.loads(
        [l for l in proc2.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert summary2["n_triples"] == summary["n_triples"]
    assert "triples" in summary2["stages_resumed"]


def test_runner_reports_metrics_rows_without_recounting(
    spark, tmp_path, monkeypatch, capsys
):
    """In-process: the summary's stage rows come from `<out>/_metrics`
    (computed and resumed stages alike), the runner itself runs no
    `DataFrame.count`, and a stage past --until reports None even though
    an earlier run left its row."""
    from serialization_agents_spark import runner
    from serialization_agents_spark.plans import pipeline

    pages_dir = str(tmp_path / "pages")
    auth_dir = str(tmp_path / "authority")
    synth.synth_pages(spark, n_pages=300, n_auth=60, partitions=4).write.parquet(
        pages_dir
    )
    synth.synth_authority(spark, n_auth=60).write.parquet(auth_dir)
    out_dir = str(tmp_path / "out")
    real_run_pipeline = pipeline.run_pipeline

    def no_count(self):
        raise AssertionError("the runner counted a frame")

    def run(*extra: str) -> dict:
        with monkeypatch.context() as m:

            def run_pipeline(*args, **kwargs):
                res = real_run_pipeline(*args, **kwargs)
                # the concrete frame class: it overrides DataFrame.count
                m.setattr(type(res.pages), "count", no_count)
                return res

            m.setattr(pipeline, "run_pipeline", run_pipeline)
            assert runner.main(
                ["--pages", pages_dir, "--authority", auth_dir,
                 "--out-dir", out_dir, "--master", "local[4]",
                 "--shuffle-partitions", "4", *extra]
            ) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    full = run()
    for key, stage in [("n_triples", "triples"), ("n_entities", "canonical"),
                       ("n_agents", "agents")]:
        assert full[key] == spark.read.parquet(os.path.join(out_dir, stage)).count(), key

    until = run("--until", "agents")
    assert until["stages_resumed"] == ["extract", "mentions", "linked", "agents"]
    assert until["n_triples"] is None and until["n_entities"] is None
    assert until["n_agents"] == full["n_agents"]


def test_get_spark_reuses_a_live_session_without_resetting_it(spark):
    """On a live session get_spark applies only the confs its caller
    passed: a bare call leaves the owner's settings alone."""
    from serialization_agents_spark.session import get_spark

    keys = ("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes")
    before = tuple(spark.conf.get(k) for k in keys)
    assert get_spark() is spark
    assert tuple(spark.conf.get(k) for k in keys) == before
    try:
        assert get_spark(shuffle_partitions=7) is spark
        assert tuple(spark.conf.get(k) for k in keys) == ("7", before[1])
    finally:
        spark.conf.set(keys[0], before[0])
