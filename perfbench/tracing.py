"""Spans, self time, the py4j command counter and the event-log parser.

A :class:`Tracer` records spans around the benchmark's calls into each
layer of the engine; with ``enabled=False`` every method is a no-op, so
the untraced runs that give the end-to-end numbers pay nothing.  The
layer is the span name up to its first dot (``codec.construct`` belongs
to ``codec``).  Spark's own counters come from its event log, attributed
per job group: the harness tags every traced op with
``setJobGroup("p<pass>:<op index>:<op name>")``.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None
    start: float
    end: float = 0.0
    py4j: int = 0  # commands sent while the span was open, children included
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.py4j_cmds = 0
        self.op: str | None = None
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(
            id=len(self.spans),
            name=name,
            parent=self._stack[-1].id if self._stack else None,
            op=self.op,
            start=time.perf_counter(),
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        c0 = self.py4j_cmds
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.py4j = self.py4j_cmds - c0
            self._stack.pop()

    def count_py4j(self) -> None:
        """Count the commands the driver sends over py4j, by wrapping
        ``ClientServerConnection.send_command`` in this process.  The
        release of a garbage-collected Java reference is not counted: it
        is sent when Python's collector runs, so it would make the count
        differ between runs of the same code."""
        from py4j.clientserver import ClientServerConnection
        from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

        orig = ClientServerConnection.send_command
        release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
        tracer = self

        def send_command(conn, command, *args, **kwargs):
            if not command.startswith(release):
                tracer.py4j_cmds += 1
            return orig(conn, command, *args, **kwargs)

        ClientServerConnection.send_command = send_command

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.

    Children may overlap each other (they never do in this closed loop,
    but the arithmetic does not assume it): the covered part is the
    length of the union of the children's intervals clipped to the
    parent's."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def self_py4j(spans: list[Span]) -> dict[int, int]:
    """py4j commands a span sent itself, children's excluded."""
    out = {s.id: s.py4j for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.py4j
    return out


def layer_totals(spans: list[Span]) -> tuple[dict[str, float], dict[str, int]]:
    """Self seconds and self py4j commands summed per span name."""
    st, sp = self_times(spans), self_py4j(spans)
    secs: dict[str, float] = defaultdict(float)
    cmds: dict[str, int] = defaultdict(int)
    for s in spans:
        secs[s.name] += st[s.id]
        cmds[s.name] += sp[s.id]
    return dict(secs), dict(cmds)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_PY_TOTAL = "time to run Python workers"
_PY_BOOT = "time to start Python workers"
_PY_SENT = "data sent to Python workers"
_ROWS = "number of output rows"
_EXCHANGES = ("Exchange", "BroadcastExchange")


def read_event_log(path: str) -> list[dict]:
    """Events of one application; ``path`` is a plain log file or a
    rolling-log directory (``events_<n>_<app>`` parts)."""
    if os.path.isdir(path):
        parts = sorted(
            glob.glob(os.path.join(path, "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
    else:
        parts = [path]
    events = []
    for p in parts:
        with open(p) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _walk(node: dict):
    yield node
    for c in node.get("children", ()):
        yield from _walk(c)


def spark_counters(events: list[dict], group_prefix: str) -> dict[str, float]:
    """Spark's counters for the jobs whose group id starts with
    ``group_prefix``: jobs, stages, tasks, task run / CPU seconds,
    scheduler delay (task launch minus stage submission: the time work
    waited for a slot), shuffle bytes written, ``Exchange`` nodes in the
    final (post-AQE) plans, and the Python-worker SQL metrics."""
    jobs, stages, execs = set(), set(), set()
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if str(props.get("spark.jobGroup.id", "")).startswith(group_prefix):
                jobs.add(e["Job ID"])
                stages.update(e["Stage IDs"])
                if "spark.sql.execution.id" in props:
                    execs.add(int(props["spark.sql.execution.id"]))
    submitted: dict[int, int] = {}
    plans: dict[int, dict] = {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            if info["Stage ID"] in stages and "Submission Time" in info:
                submitted.setdefault(info["Stage ID"], info["Submission Time"])
        elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            if e["executionId"] in execs:
                plans[e["executionId"]] = e["sparkPlanInfo"]  # the last one is final
    # accumulator ids of the Python metrics, read from the plans
    py_ids: dict[int, tuple[str, str]] = {}
    exchanges = 0
    for plan in plans.values():
        for node in _walk(plan):
            if node["nodeName"] in _EXCHANGES:
                exchanges += 1
            metrics = {m["name"]: m for m in node.get("metrics", ())}
            if _PY_SENT in metrics:
                for name in (_PY_TOTAL, _PY_BOOT, _PY_SENT, _ROWS):
                    if name in metrics:
                        m = metrics[name]
                        py_ids[m["accumulatorId"]] = (name, m.get("metricType", ""))
    out = dict.fromkeys(("task_run_s", "task_cpu_s", "sched_delay_s", "python_total_s", "python_boot_s"), 0.0)
    out.update(dict.fromkeys(("tasks", "shuffle_write_bytes", "python_rows", "python_bytes_sent"), 0))
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stages:
            continue
        info, tm = e["Task Info"], e.get("Task Metrics") or {}
        out["tasks"] += 1
        out["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        out["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        out["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        sub = submitted.get(e["Stage ID"])
        if sub is not None:
            out["sched_delay_s"] += max(0, info["Launch Time"] - sub) / 1e3
        for acc in info.get("Accumulables", ()):
            hit = py_ids.get(acc.get("ID"))
            if hit is None:
                continue
            name, mtype = hit
            v = int(acc.get("Update", 0))
            if name in (_PY_TOTAL, _PY_BOOT):
                out["python_total_s" if name == _PY_TOTAL else "python_boot_s"] += (
                    v / 1e9 if mtype == "nsTiming" else v / 1e3
                )
            elif name == _PY_SENT:
                out["python_bytes_sent"] += v
            else:
                out["python_rows"] += v
    out["jobs"] = len(jobs)
    out["stages"] = len(submitted)  # skipped (reused) stages are never submitted
    out["exchanges"] = exchanges
    return out
