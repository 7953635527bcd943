"""The closed loop every workload runs in, and the result it prints.

One Python process is the only client: it sends the next op only after
the previous one returned.  A run is

1. set-up: session start (while a thread generates the inputs), loading
   the inputs into the engine, one untimed prebuild pass (asset builds,
   JIT, first-touch caches);
2. the timed loop: whole passes over the workload's ops until
   ``--seconds`` have passed (at least ``MIN_PASSES``; a pass that
   starts before the deadline runs to its end);
3. the end-of-run checks and the result line.

In a traced run (``--trace 1``) passes alternate between traced and
untraced, so the same process measures the tracing overhead; per-layer
values come from the traced passes, counters from the first of them.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass

from . import tracing as tr

#: medians need more than one pass; a traced run alternates traced and
#: untraced passes
MIN_PASSES = 2

END_TO_END = [
    ("setup_s", "s"), ("pass_s", "s"), ("rows_per_s", "rows/s"),
    ("write_p50_s", "s"), ("write_tail_s", "s"), ("read_p50_s", "s"), ("read_tail_s", "s"),
    ("stored_bytes_per_user_byte", "ratio"),
]

#: per-layer metrics of a traced run, named after the engine's modules
#: (``spark.*``: Catalyst and execution); times in s or ms, counts of
#: the first traced pass otherwise
PER_LAYER = [
    ("session.start_s", "s"), ("setup.inputs_s", "s"), ("setup.prebuild_s", "s"),
    ("schema.parse_s", "s"), ("schema.convert_s", "s"), ("schema.count", "count"),
    ("codec.construct_s", "s"), ("codec.py4j_cmds", "count"),
    ("functions.construct_s", "s"), ("functions.py4j_cmds", "count"),
    ("operators.construct_s", "s"), ("operators.py4j_cmds", "count"),
    ("spark.plan_ms", "ms"), ("spark.action_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.exchanges", "count"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.sched_delay_s", "s"),
    ("spark.python_total_s", "s"), ("spark.python_boot_s", "s"),
    ("spark.python_rows", "count"), ("spark.python_bytes_sent", "bytes"),
    ("sources.upsert_s", "s"), ("sources.files_rewritten", "count"),
    ("sources.bytes_written", "bytes"), ("sources.write_amp", "ratio"),
    ("sources.delete_s", "s"), ("sources.compact_s", "s"), ("sources.delete_groups", "count"),
    ("sources.snapshot_s", "s"), ("sources.files_scanned", "count"), ("sources.changes_s", "s"),
    ("streaming.drain_s", "s"), ("streaming.batches", "count"), ("streaming.rows", "count"),
    ("trace.unattributed_s", "s"), ("trace.overhead_s", "s"),
]


@dataclass
class Op:
    """One operation of a pass.  ``fn`` returns the number of input rows
    it consumed and raises :class:`GateFailed` when its output is wrong.
    ``kind`` files its latency under the write or read percentiles."""

    name: str
    fn: object
    kind: str | None = None


class GateFailed(Exception):
    """An op returned, but its output did not match the expected value."""


@dataclass
class Context:
    spark: object
    tracer: tr.Tracer
    work: str
    seed: int
    size: str
    pass_no: int = -1

    def check(self, what: str, got, want) -> None:
        if got != want:
            raise GateFailed(f"{what}: got {got!r}, want {want!r}")

    def run_df(self, df, sink: str = "collect"):
        """Execute ``df`` as the op's action.  In a traced pass the plan
        is built first, so the analysis / optimization / planning phases
        of Spark's ``QueryPlanningTracker`` can be read (``spark.plan``)."""
        if self.tracer.enabled:
            with self.tracer.span("spark.plan") as s:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                s.attrs["plan_ms"] = sum(
                    phases.apply(p).durationMs()
                    for p in ("analysis", "optimization", "planning")
                    if phases.contains(p)
                )
        with self.tracer.span("spark.action"):
            if sink == "noop":
                df.write.format("noop").mode("overwrite").save()
                return None
            return df.collect()


def percentile_tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, by nearest rank; the median when n <= 20."""
    n = len(samples)
    s = sorted(samples)
    if n <= 20:
        return statistics.median(s), 50.0, n
    rank = n - 10  # ten samples lie above s[rank - 1]
    return s[rank - 1], round(100.0 * rank / n, 1), n


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def _timed_call(fn, out: dict) -> None:
    t = time.perf_counter()
    try:
        out["value"] = fn()
    except BaseException as exc:  # noqa: BLE001 - re-raised by the joining thread
        out["error"] = exc
    out["seconds"] = time.perf_counter() - t


def shutdown() -> None:
    """Stop the SparkContext if one is running, then the JVM the driver
    started, and wait for it to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def run(workload, args, t_start: float) -> dict:
    """Run ``workload`` (a module of this package) and return the result."""
    work = os.path.abspath(args.work)
    tracer = tr.Tracer(enabled=bool(args.trace))
    load_start = os.getloadavg()
    ctx = Context(spark=None, tracer=tracer, work=work, seed=args.seed, size=args.size)

    from anglerfish_spark.session import get_spark

    k = args.cores
    if args.trace:
        tracer.count_py4j()
    # inputs are generated (pure Python, no Spark) while the session starts
    wl = workload.Workload(ctx)
    setup_parts = {"before_session": time.perf_counter() - t_start}
    generated: dict = {}
    worker = threading.Thread(target=_timed_call, args=(wl.generate, generated))
    worker.start()
    t = time.perf_counter()
    with tracer.span("session.start"):
        ctx.spark = get_spark("perfbench", master=f"local[{k}]")
    setup_parts["session"] = time.perf_counter() - t
    worker.join()
    if "error" in generated:
        raise generated["error"]
    input_digest = generated["value"]
    t = time.perf_counter()
    wl.load()
    setup_parts["inputs"] = generated["seconds"] + time.perf_counter() - t
    setup_parts["inputs_overlapped"] = generated["seconds"]

    attempted = failed = 0
    errors: list[str] = []
    lat: dict[str, list[float]] = {}
    prebuild_lat: dict[str, list[float]] = {}
    kinds: dict[str, str | None] = {}
    rows_total = 0
    traced_passes: list[int] = []

    def one_pass(timed: bool) -> tuple[float, int]:
        nonlocal attempted, failed
        rows = 0
        t0 = time.perf_counter()
        for i, op in enumerate(wl.ops()):
            tracer.op = f"p{ctx.pass_no}:{i}:{op.name}"
            if args.trace:  # every pass, so no job keeps an earlier op's group
                ctx.spark.sparkContext.setJobGroup(tracer.op, op.name)
            attempted += 1
            t = time.perf_counter()
            try:
                with tracer.span(f"op.{op.name}"):
                    rows += op.fn()
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                failed += 1
                errors.append(f"pass {ctx.pass_no} {op.name}: {type(exc).__name__}: {exc}"[:500])
                traceback.print_exc(file=sys.stderr)
                continue
            (lat if timed else prebuild_lat).setdefault(op.name, []).append(time.perf_counter() - t)
            kinds[op.name] = op.kind
        tracer.op = None
        return time.perf_counter() - t0, rows

    t = time.perf_counter()
    with tracer.span("setup.prebuild"):
        one_pass(timed=False)
    t_first_op = time.perf_counter()
    setup_parts["prebuild"] = t_first_op - t
    setup_s = t_first_op - t_start

    pass_s: list[float] = []
    pass_traced: list[bool] = []
    while time.perf_counter() - t_first_op < args.seconds or len(pass_s) < MIN_PASSES:
        ctx.pass_no = len(pass_s)
        tracer.enabled = bool(args.trace) and ctx.pass_no % 2 == 0
        wall, rows = one_pass(timed=True)
        if tracer.enabled:
            traced_passes.append(ctx.pass_no)
        pass_s.append(wall)
        pass_traced.append(tracer.enabled)
        rows_total += rows
    timed_s = time.perf_counter() - t_first_op
    tracer.enabled = False
    if args.trace:
        ctx.spark.sparkContext.setJobGroup("final", "end-of-run checks")

    for what, exc in wl.final_checks():
        attempted += 1
        if exc is not None:
            failed += 1
            errors.append(f"final {what}: {exc}"[:500])

    sc = ctx.spark.sparkContext
    context = {
        "nproc": os.cpu_count(),
        "master": f"local[{k}]",
        "default_parallelism": sc.defaultParallelism,
        "spark_version": ctx.spark.version,
        "pyspark_version": __import__("pyspark").__version__,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "input_digest": input_digest,
        "seed": args.seed,
        "size": args.size,
        "passes": len(pass_s),
        "setup_parts_s": setup_parts,
        # VmHWM of the driver plus the JVM; detail only: the JVM's heap
        # growth makes it spread too much between runs to gate on
        "peak_rss_mb": vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid(ctx.spark) or -1),
    }
    extra = wl.end_metrics()
    app_id = sc.applicationId
    ctx.spark.stop()

    untraced = [p for p, t in zip(pass_s, pass_traced) if not t] or pass_s
    out = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors[:20],
        "context": context,
        "latencies": {n: sorted(v) for n, v in lat.items()},
        "prebuild_latencies": prebuild_lat,
    }
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(untraced), "s"),
            "rows_per_s": (rows_total / timed_s, "rows/s"),
        }
        for kind in ("write", "read"):
            samples = [x for n, v in lat.items() if kinds[n] == kind for x in v]
            # no samples: every op of the class failed, and the run says so
            p50 = statistics.median(samples) if samples else 0.0
            tail, pct, n = percentile_tail(samples) if samples else (0.0, 0.0, 0)
            metrics[f"{kind}_p50_s"] = (p50, "s")
            metrics[f"{kind}_tail_s"] = (tail, "s")
            context[f"{kind}_tail"] = {"percentile": pct, "n": n}
        tail, pct, n = percentile_tail(untraced)
        context["pass_s"] = {"n": n, "tail_percentile": pct, "tail_s": tail}
        metrics["stored_bytes_per_user_byte"] = (extra["stored_bytes_per_user_byte"], "ratio")
        out["metrics"] = {name: metrics[name] for name, _unit in END_TO_END}
        return out

    # ---- traced run: per-layer metrics ------------------------------------
    events = tr.read_event_log(_event_log_path(work, app_id))
    tracer.dump(os.path.join(work, "spans.json"))
    by_pass: dict[int, list[tr.Span]] = {}
    for s in tracer.spans:
        if s.op is not None:
            by_pass.setdefault(int(s.op[1:].split(":", 1)[0]), []).append(s)
    per_pass = []
    for p in traced_passes:
        secs, cmds = tr.layer_totals(by_pass[p])
        vals = {f"{name}_s": v for name, v in secs.items()}
        vals.update({f"{name.split('.')[0]}.py4j_cmds": v for name, v in cmds.items() if name.endswith(".construct")})
        vals["spark.plan_ms"] = sum(s.attrs.get("plan_ms", 0) for s in by_pass[p])
        vals["trace.unattributed_s"] = sum(v for n, v in secs.items() if n.startswith("op."))
        vals.update({f"spark.{k}": v for k, v in tr.spark_counters(events, f"p{p}:").items()})
        vals.update(wl.layer_counters(p))
        per_pass.append(vals)

    def total(name):
        return sum(s.end - s.start for s in tracer.spans if s.name == name)

    traced = [p for p, t in zip(pass_s, pass_traced) if t]
    once = {
        "session.start_s": total("session.start"),
        "setup.inputs_s": setup_parts["inputs"],
        "setup.prebuild_s": total("setup.prebuild"),
        "trace.overhead_s": statistics.median(traced) - statistics.median(untraced),
    }
    context["trace_overhead_s"] = once["trace.overhead_s"]
    m = {}
    for name, unit in PER_LAYER:
        if name in once:
            v = once[name]
        elif unit in ("s", "ms"):  # times: median over the traced passes
            v = statistics.median(pp.get(name, 0.0) for pp in per_pass)
        else:  # counts: the first traced pass, which repeats exactly
            v = per_pass[0].get(name, 0)
        m[name] = (v, unit)
    out["metrics"] = m
    return out


def _event_log_path(work: str, app_id: str) -> str:
    d = os.path.join(work, "eventlog")
    for cand in (f"eventlog_v2_{app_id}", app_id):
        if os.path.exists(os.path.join(d, cand)):
            return os.path.join(d, cand)
    raise FileNotFoundError(f"no event log for {app_id} under {d}")


def emit(result: dict, correct: bool) -> None:
    """The detail line, then the result line, which is always last."""
    detail = {k: v for k, v in result.items() if k != "metrics"}
    print(json.dumps({"detail": detail}, default=str))
    line = {
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in result["metrics"].items()},
    }
    print(json.dumps(line))
