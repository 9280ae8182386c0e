"""Cluster-submission packaging smoke: the real ``spark-submit --py-files``
path ([B] north_rule) plus the log_show CLI against its warehouse."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_pyfiles_and_log_show(tmp_path):
    sys.path.insert(0, REPO)
    from jobs.package import build_zip

    z = build_zip(str(tmp_path / "abs_log_spark.zip"))
    wh = str(tmp_path / "wh")
    # cwd away from the repo + no PYTHONPATH: the zip must be the only way
    # the job finds the package (what a real cluster submit exercises).
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [
            "spark-submit", "--master", "local[2]", "--py-files", z,
            os.path.join(REPO, "jobs", "run_pipeline.py"),
            "--synth-rows", "2000", "--warehouse", wh,
            "--run-id", "submit1", "--buckets", "2",
        ],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path), env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    summary = json.loads(out.stdout.strip().splitlines()[-1])
    assert summary["buckets_processed"] == 2
    assert summary["rows_in"] == 2000

    for view, extra, must_have in (
        (["request"], [], ("uri_abs", "hits_pct")),
        (["detail"], ["--uri", "/search"], ("args_abs", "hits_pct")),
        (["ip"], [], ("source", "hits_pct")),
    ):
        show = subprocess.run(
            [
                sys.executable, os.path.join(REPO, "jobs", "log_show.py"),
                wh, "sink_a", *view, *extra, "--limit", "3", "--master", "local[2]",
            ],
            capture_output=True, text=True, timeout=600,
            env={**env, "PYTHONPATH": REPO},
        )
        assert show.returncode == 0, (view, show.stderr[-3000:])
        for token in must_have:
            assert token in show.stdout, (view, show.stdout[-500:])


def test_run_stream_job_feeds_log_show(spark, tmp_path):
    """``jobs/run_stream.py`` drains a 3-file input one file per micro-batch
    into a warehouse that ``log_show`` then serves like a cron warehouse."""
    from abs_log_spark.sources.synth import gen_sequences

    n = 3000
    input_dir = str(tmp_path / "input")
    gen_sequences(spark, n, invalid_every=100).repartition(3).write.parquet(input_dir)
    wh = str(tmp_path / "wh")
    env = {**os.environ, "PYTHONPATH": REPO}
    out = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "jobs", "run_stream.py"),
            "--input", input_dir, "--warehouse", wh, "--available-now",
            "--max-files-per-trigger", "1", "--master", "local[2]",
        ],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    summary = json.loads(out.stdout.strip().splitlines()[-1])
    assert summary["batches"] == 3
    assert sum(rows for _, rows in summary["rows_by_batch"]) == n

    show = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "jobs", "log_show.py"),
            wh, "sink_a", "request", "--limit", "3", "--master", "local[2]",
        ],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert show.returncode == 0, show.stderr[-3000:]
    lines = show.stdout.strip().splitlines()
    assert "uri_abs" in lines[0] and "hits_pct" in lines[0], show.stdout[-500:]
    assert len(lines) > 1, show.stdout[-500:]
