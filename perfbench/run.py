"""Benchmark entry point.

    python3 perfbench/run.py --workload codec_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository: the engine package
``anglerfish_spark`` is imported from the working directory.  Every file
the run writes (generated inputs, Spark's local dirs, temp files, the
event log) lives under ``.perfbench_work/`` in that directory and is
removed at the end; a traced run keeps its spans and event log in
``.perfbench_out/<workload>-<seed>/``.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the detail (machine context, input digest, latencies, errors).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ("codec_ingest", "analytics_churn")
#: k of the local[k] master, fixed for every run
CORES = min(4, os.cpu_count() or 1)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for the smoke test")
    return p.parse_args(argv)


def prepare_env(root: str, work: str, trace: bool) -> None:
    """Keep every file the run writes inside ``work``, and let Python
    workers import the engine from ``root``."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local"), os.path.join(work, "eventlog")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    submit = []
    if trace:
        submit = [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "anglerfish_spark")):
        print("perfbench: run from the repository root (no anglerfish_spark/ here)", file=sys.stderr)
        return 2
    # the engine reads its local[k] and shuffle partitions from here
    args.cores = CORES
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    args.work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(root, args.work, bool(args.trace))
    sys.path[0] = root  # not perfbench/: its module names must not shadow others
    from perfbench import harness

    workload = importlib.import_module(f"perfbench.{args.workload}")
    try:
        result = harness.run(workload, args, T_START)
        if args.trace:  # keep the spans and Spark's event log of a traced run
            out = os.path.join(root, ".perfbench_out", f"{args.workload}-{args.seed}")
            shutil.rmtree(out, ignore_errors=True)
            shutil.copytree(os.path.join(args.work, "eventlog"), os.path.join(out, "eventlog"))
            shutil.copy(os.path.join(args.work, "spans.json"), out)
    finally:
        harness.shutdown()
        shutil.rmtree(args.work, ignore_errors=True)
    harness.emit(result, correct=result["failed"] == 0)
    return 0


if __name__ == "__main__":
    sys.exit(main())
