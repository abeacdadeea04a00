"""Spans around the benchmark's calls into each layer, and the Spark
event log attributed to them.

Spans nest as run > setup > {start, load_tables, warmup}, then
pass > query > {build, action}, then check. They are kept in memory and
written out when the run ends. Spark jobs attach to a query span by job
group (the registry tags each query ``bss:<name>``) and time window; a
job submitted inside the build span is eager, one inside the action
span is terminal.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

EPS = 0.005   # event-log times are whole milliseconds
MB = 1e6


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = {"id": len(self.spans),
             "parent": self._open[-1]["id"] if self._open else None,
             "name": name, "t0": time.time(), "t1": None, **attrs}
        self.spans.append(s)
        self._open.append(s)
        try:
            yield s
        finally:
            s["t1"] = time.time()
            self._open.pop()

    def children(self, span: dict, name: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]
                and (name is None or s["name"] == name)]

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def dur(span: dict) -> float:
    return span["t1"] - span["t0"]


def query_time(tracer: Tracer, pass_span: dict) -> float:
    """A pass's time inside its queries, leaving out the releases."""
    return sum(dur(q) for q in tracer.children(pass_span, "query"))


def typical_pass_s(tracer: Tracer, passes: list[dict], measure=dur) -> float:
    """Each query's median ``measure`` (by default its wall time) over
    ``passes``, summed. A stall that hits one query in one pass moves
    this less than the median pass total: over ten seeds of an
    eight-query mix its spread was 0.15 of the median against 0.19."""
    times: dict[str, list[float]] = {}
    for p in passes:
        for q in tracer.children(p, "query"):
            times.setdefault(q["query"], []).append(measure(q))
    return sum(statistics.median(ts) for ts in times.values())


def cpu(query_span: dict) -> float:
    """CPU seconds the program spent during a query (``run.cpu_s``)."""
    return query_span["cpu_s"]


def self_time(tracer: Tracer, span: dict) -> float:
    """A span's duration minus the part its children cover."""
    return dur(span) - sum(dur(c) for c in tracer.children(span))


# -- Spark event log -------------------------------------------------------

_STAGE_FIELDS = ("tasks", "task_s", "task_cpu_s", "gc_s", "shuffle_write",
                 "shuffle_read", "fetch_wait_s", "spill", "peak_exec_mem",
                 "input")


def read_event_log(events_dir: str) -> tuple[list[dict], list[dict]]:
    """Jobs and stage attempts, each with its job group and submit time
    in seconds; stages also carry their task sums. Read from the one
    uncompressed event log in ``events_dir``."""
    (name,) = os.listdir(events_dir)
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    with open(os.path.join(events_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"], "group": _group(ev),
                    "t0": ev["Submission Time"] / 1000.0, "t1": None}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                si = ev["Stage Info"]
                stages[si["Stage ID"], si["Stage Attempt ID"]] = {
                    "group": _group(ev),
                    "t0": si["Submission Time"] / 1000.0,
                    **dict.fromkeys(_STAGE_FIELDS, 0)}
            elif kind == "SparkListenerTaskEnd":
                st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                if st is not None:
                    _add_task(st, ev)
    return (sorted(jobs.values(), key=lambda j: j["t0"]),
            sorted(stages.values(), key=lambda s: s["t0"]))


def _group(ev: dict) -> str | None:
    return (ev.get("Properties") or {}).get("spark.jobGroup.id")


def _add_task(st: dict, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    srm = tm.get("Shuffle Read Metrics") or {}
    swm = tm.get("Shuffle Write Metrics") or {}
    st["tasks"] += 1
    st["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
    st["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    st["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
    st["shuffle_write"] += swm.get("Shuffle Bytes Written", 0)
    st["shuffle_read"] += (srm.get("Remote Bytes Read", 0)
                           + srm.get("Local Bytes Read", 0))
    st["fetch_wait_s"] += srm.get("Fetch Wait Time", 0) / 1000.0
    st["spill"] += tm.get("Disk Bytes Spilled", 0)
    st["peak_exec_mem"] += tm.get("Peak Execution Memory", 0)
    st["input"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)


def _within(t: float, span: dict) -> bool:
    return span["t0"] - EPS <= t <= span["t1"] + EPS


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def query_record(tracer: Tracer, qspan: dict, jobs: list[dict],
                 stages: list[dict]) -> dict:
    """The per-layer numbers of one query execution."""
    build, = tracer.children(qspan, "build") or [None]
    action, = tracer.children(qspan, "action") or [None]
    tag = f"bss:{qspan['query']}"
    mine = [j for j in jobs if j["group"] == tag and _within(j["t0"], qspan)]
    rec = {
        "wall_s": dur(qspan),
        "build_s": dur(build) if build else 0.0,
        "action_s": dur(action) if action else 0.0,
        "jobs_eager": sum(1 for j in mine if build and _within(j["t0"], build)),
        "jobs_terminal": sum(1 for j in mine
                             if action and _within(j["t0"], action)),
        "driver_gap_s": dur(qspan) - _covered(
            [(j["t0"], j["t1"] or qspan["t1"]) for j in mine],
            qspan["t0"], qspan["t1"]),
    }
    ran = [st for st in stages
           if st["group"] == tag and _within(st["t0"], qspan)]
    rec["stages"] = len(ran)
    for k in _STAGE_FIELDS:
        if k != "peak_exec_mem":
            rec[k] = sum(st[k] for st in ran)
    # peak execution memory of the heaviest stage, summed over its tasks
    rec["peak_exec_mem"] = max((st["peak_exec_mem"] for st in ran),
                               default=0)
    return rec


def misattributed(tracer: Tracer, jobs: list[dict]) -> list[str]:
    """Self-test of attribution: every job submitted inside a query span
    carries that query's tag, and no job outside the query's spans does."""
    qspans = tracer.find("query")
    bad = []
    for j in jobs:
        inside = [q for q in qspans if _within(j["t0"], q)]
        tags = {f"bss:{q['query']}" for q in inside}
        if inside and j["group"] not in tags:
            bad.append(f"job {j['id']} tagged {j['group']!r} ran inside "
                       f"{sorted(tags)}")
        elif not inside and (j["group"] or "").startswith("bss:"):
            bad.append(f"job {j['id']} tagged {j['group']!r} ran outside "
                       "its query")
    return bad


def pass_metrics(tracer: Tracer, passes: list[dict], jobs: list[dict],
                 stages: list[dict]) -> dict[str, float]:
    """Per-layer metrics: each summed over a pass (peak memory: the
    pass maximum), then the median over ``passes``."""
    per_pass = []
    for p in passes:
        recs = [query_record(tracer, q, jobs, stages)
                for q in tracer.children(p, "query")]
        s = {k: sum(r[k] for r in recs) for k in recs[0]}
        s["peak_exec_mem"] = max(r["peak_exec_mem"] for r in recs)
        s["self_s"] = self_time(tracer, p)
        s["materialized"] = p["materialized"]
        per_pass.append(s)
    med = {k: statistics.median(s[k] for s in per_pass) for k in per_pass[0]}
    return {
        "queries.build_s": med["build_s"],
        "queries.action_s": med["action_s"],
        "checkpoint.materialized": med["materialized"],
        "spark.jobs_eager": med["jobs_eager"],
        "spark.jobs_terminal": med["jobs_terminal"],
        "spark.stages": med["stages"],
        "spark.tasks": med["tasks"],
        "spark.driver_gap_s": med["driver_gap_s"],
        "spark.task_s": med["task_s"],
        "spark.task_cpu_s": med["task_cpu_s"],
        "spark.gc_s": med["gc_s"],
        "spark.shuffle_write_mb": med["shuffle_write"] / MB,
        "spark.shuffle_read_mb": med["shuffle_read"] / MB,
        "spark.fetch_wait_s": med["fetch_wait_s"],
        "spark.spill_mb": med["spill"] / MB,
        "spark.peak_exec_mem_mb": med["peak_exec_mem"] / MB,
        "spark.input_mb": med["input"] / MB,
        "perfbench.pass_self_s": med["self_s"],
    }
