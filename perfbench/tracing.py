"""Outside-in tracing for the ``--trace 1`` run.

Nothing under ``zolo_spark/`` is edited: :class:`Tracer` wraps the
public functions of each module at run time and records a span per
call (name, start, end, parent, op id), counts py4j commands by
wrapping ``ClientServerConnection.send_command``, times Catalyst's
phases on a result frame, and tags every Spark job with the op that
launched it through its job group. :func:`parse_event_log` turns the
Spark event log (turned on only for traced runs) into per-op job,
stage, task, executor and shuffle numbers.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager

from metrics import driver_gap, self_times

JOB_GROUP_PREFIX = "perfbench-op-"


class Tracer:
    """In-memory span recorder. Spans are written out by :meth:`dump`."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.py4j_calls = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr`` (a module function or a class method)."""
        fn = getattr(owner, attr)
        if getattr(fn, "_perfbench_wrapped", False):
            return

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        traced._perfbench_wrapped = True
        setattr(owner, attr, traced)

    def count_py4j(self) -> None:
        from py4j.clientserver import ClientServerConnection

        send = ClientServerConnection.send_command
        tracer = self

        def counted(conn, command, *a, **kw):
            if tracer.enabled:
                tracer.py4j_calls += 1
            return send(conn, command, *a, **kw)

        ClientServerConnection.send_command = counted

    def dump(self, path: str) -> None:
        st = self_times([s for s in self.spans if s["end"] is not None])
        for s in self.spans:
            s["self"] = st.get(s["id"])
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)

    def totals(self, op_ids: set[int]) -> dict[str, tuple[float, int]]:
        """``{span name: (total seconds, calls)}`` over the given ops."""
        out: dict[str, tuple[float, int]] = {}
        for s in self.spans:
            if s["op"] in op_ids and s["end"] is not None:
                t, n = out.get(s["name"], (0.0, 0))
                out[s["name"]] = (t + s["end"] - s["start"], n + 1)
        return out


def catalyst_phases(df) -> tuple[float, float, float]:
    """Seconds to analyze, optimize and plan ``df``, forced one phase
    at a time on its (cached) QueryExecution, so the later action
    reuses the plans instead of building them again."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.analyzed()
    t1 = time.perf_counter()
    qe.optimizedPlan()
    t2 = time.perf_counter()
    qe.executedPlan()
    t3 = time.perf_counter()
    return t1 - t0, t2 - t1, t3 - t2


def event_log_file(log_dir: str) -> str | None:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")] if os.path.isdir(log_dir) else []
    return max(files, key=os.path.getsize) if files else None


def parse_event_log(path: str) -> dict[int, dict]:
    """Per-op numbers from an uncompressed, non-rolling event log.

    Jobs belong to the op whose job group (``perfbench-op-<id>``) they
    ran under. Returns ``{op id: {jobs, stages, tasks, job_intervals,
    run_s, cpu_s, gc_s, shuffle_read, shuffle_write, spill,
    task_skew}}``; times in seconds, intervals in epoch seconds."""
    job_op: dict[int, int] = {}
    job_iv: dict[int, list[float]] = {}
    stage_op: dict[int, int] = {}
    stage_tasks: dict[tuple[int, int], list[float]] = {}
    ops: dict[int, dict] = {}

    def op_rec(op: int) -> dict:
        return ops.setdefault(op, {
            "jobs": 0, "stages": 0, "tasks": 0, "job_intervals": [],
            "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read": 0,
            "shuffle_write": 0, "spill": 0, "task_skew": 0.0,
            "_stage_times": {}})

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                if not group.startswith(JOB_GROUP_PREFIX):
                    continue
                op = int(group[len(JOB_GROUP_PREFIX):])
                jid = ev["Job ID"]
                job_op[jid] = op
                job_iv[jid] = [ev["Submission Time"] / 1000.0, None]
                rec = op_rec(op)
                rec["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_op.setdefault(sid, op)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_iv:
                    job_iv[jid][1] = ev["Completion Time"] / 1000.0
                    op_rec(job_op[jid])["job_intervals"].append(tuple(job_iv[jid]))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                op = stage_op.get(info["Stage ID"])
                if op is not None:
                    op_rec(op)["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                op = stage_op.get(ev["Stage ID"])
                if op is None:
                    continue
                rec = op_rec(op)
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                rec["tasks"] += 1
                rec["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                sr = m.get("Shuffle Read Metrics") or {}
                rec["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                rec["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                rec["spill"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
                key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                stage_tasks.setdefault(key, []).append(
                    (info["Finish Time"] - info["Launch Time"]) / 1000.0)
                rec["_stage_times"][key] = stage_tasks[key]
    for rec in ops.values():
        stages = rec.pop("_stage_times")
        if stages:
            # skew of the op's longest stage (by summed task time)
            times = max(stages.values(), key=sum)
            med = statistics.median(times)
            rec["task_skew"] = max(times) / med if med > 0 else 1.0
    return ops


def op_gap(op_start: float, op_end: float, rec: dict | None) -> float:
    return driver_gap(op_start, op_end, rec["job_intervals"] if rec else [])
