"""Every op of every workload, once, at tiny sizes, through the real CLI.

Each case starts a Spark session (about a minute apiece); run from the
repository root:  python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys

import pytest

from perfbench import harness

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(*args):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--size", "tiny", "--seed", "3", "--seconds", "1", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["codec_ingest", "analytics_churn"])
def test_untraced_run_is_correct_and_reports_every_end_to_end_metric(workload):
    detail, result = _run("--workload", workload, "--trace", "0")
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["errors"]
    assert list(result["metrics"]) == [n for n, _ in harness.END_TO_END]
    assert all(m["value"] > 0 for m in result["metrics"].values())
    # the prebuild and at least two timed passes: every op ran
    assert detail["context"]["passes"] >= harness.MIN_PASSES
    assert all(len(v) >= harness.MIN_PASSES for v in detail["latencies"].values())


def test_traced_run_reports_every_per_layer_metric():
    detail, result = _run("--workload", "codec_ingest", "--trace", "1")
    assert result["correct"], detail["errors"]
    assert list(result["metrics"]) == [n for n, _ in harness.PER_LAYER]
    m = {n: v["value"] for n, v in result["metrics"].items()}
    assert m["codec.py4j_cmds"] > 0 and m["spark.jobs"] > 0 and m["schema.count"] > 0
    assert m["spark.python_rows"] > 0  # the binary codec runs in Python workers
    assert m["sources.upsert_s"] == 0  # codec_ingest never touches a manifest table


def test_without_the_engine_it_exits_nonzero(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    (bench / "run.py").write_text(open(os.path.join(ROOT, "perfbench", "run.py")).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "codec_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""
