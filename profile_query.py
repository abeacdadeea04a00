"""Per-layer profiler for bench queries (guide §1: measure first).

Runs each named query through the bench harness (a session.get_spark
session plus an event log, bench.py's warmup, its timed build +
count()), then attributes the event log's jobs to queries by job group
(``bss:<name>``) and prints per query: eager jobs (submitted before the
build returned: materialize rounds, broadcast builds, collects) and
terminal jobs, each as count and seconds; driver-only time (build minus
the eager jobs); other groups' jobs inside the query's window (expect
0); and per job its stages' wall, tasks, task time, GC, input records,
shuffle bytes and spill.

    python profile_query.py lpa_communities [more names...]

Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py.
"""
from __future__ import annotations

import glob
import json
import os
import sys
import time

import bench
from bigslice_spark.session import get_spark


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def parse_event_log(lines) -> tuple[list[dict], dict[int, dict]]:
    """Jobs (id, group, submit/end seconds, stage ids) and stages (id ->
    wall, tasks, task time, GC, input records, shuffle bytes, spill) of
    an event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "name": "", "t0": 0.0, "t1": 0.0, "ntask": 0, "records": 0,
            "read": 0, "write": 0, "spill": 0, "tasktime": 0.0, "gc": 0.0})
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "group": (ev.get("Properties") or {})
                .get("spark.jobGroup.id") or "",
                "t0": ev["Submission Time"] / 1000.0,
                "t1": ev["Submission Time"] / 1000.0,
                "stages": [s["Stage ID"] for s in ev["Stage Infos"]]}
        elif e == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            stage(si["Stage ID"]).update(
                name=si["Stage Name"].split("\n")[0][:70],
                t0=si.get("Submission Time", 0) / 1000.0,
                t1=si.get("Completion Time", 0) / 1000.0,
                ntask=si["Number of Tasks"])
        elif e == "SparkListenerTaskEnd":
            # a stage's tasks end before the stage completes
            st = stage(ev["Stage ID"])
            tm = ev.get("Task Metrics") or {}
            st["tasktime"] += tm.get("Executor Run Time", 0) / 1000.0
            st["gc"] += tm.get("JVM GC Time", 0) / 1000.0
            st["records"] += (tm.get("Input Metrics") or {}) \
                .get("Records Read", 0)
            srm = tm.get("Shuffle Read Metrics") or {}
            st["read"] += (srm.get("Remote Bytes Read", 0)
                           + srm.get("Local Bytes Read", 0))
            st["write"] += (tm.get("Shuffle Write Metrics") or {}) \
                .get("Shuffle Bytes Written", 0)
            st["spill"] += tm.get("Disk Bytes Spilled", 0)
    return list(jobs.values()), stages


def job_layers(jobs: list[dict],
               marks: dict[str, tuple[float, float, float]]
               ) -> dict[str, dict]:
    """Per query in ``marks`` ({name: (start, build returned, end)},
    epoch seconds): its jobs, those of group ``bss:<name>``, split into
    eager (submitted before the build returned) and terminal, with
    seconds as the union of job intervals, and the driver-only rest of
    the build; ``other_jobs`` counts jobs of any other group submitted
    inside the query's window."""
    out = {}
    for name, (start, built, end) in marks.items():
        own = [j for j in jobs if j["group"] == f"bss:{name}"]
        eager = [j for j in own if j["t0"] < built]
        terminal = [j for j in own if j["t0"] >= built]
        eager_s = _union_s([(j["t0"], min(j["t1"], built)) for j in eager])
        out[name] = {
            "jobs": own,
            "wall_s": end - start,
            "build_s": built - start,
            "eager_jobs": len(eager),
            "eager_s": eager_s,
            "driver_s": built - start - eager_s,
            "terminal_jobs": len(terminal),
            "terminal_s": _union_s([(j["t0"], j["t1"]) for j in terminal]),
            "other_jobs": sum(1 for j in jobs
                              if j["group"] != f"bss:{name}"
                              and start <= j["t0"] <= end),
        }
    return out


def _fmt_b(b: float) -> str:
    for u in ("B", "KB", "MB", "GB"):
        if b < 1024 or u == "GB":
            return f"{b:.0f}{u}" if u == "B" else f"{b:.1f}{u}"
        b /= 1024


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = f"/tmp/spark-events-{os.getpid()}"
    os.makedirs(evdir, exist_ok=True)
    spark = get_spark("bigslice_spark_profile", conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": evdir})
    bench.warmup(spark, sf_dir)

    marks = {}
    for name in names:
        stamps = []

        def force(df):
            stamps.append(time.time())
            df.count()
            stamps.append(time.time())
        sec = bench.timed(spark, name, sf_dir, force)
        if sec >= 0:
            marks[name] = (stamps[1] - sec, stamps[0], stamps[1])
    spark.stop()

    path = max(glob.glob(os.path.join(evdir, "*")), key=os.path.getmtime)
    with open(path) as f:
        jobs, stages = parse_event_log(f)
    for name, r in job_layers(jobs, marks).items():
        print(f"\n### {name}: wall {r['wall_s']:.3f}s = build "
              f"{r['build_s']:.3f}s (eager jobs {r['eager_jobs']}, "
              f"{r['eager_s']:.3f}s; driver-only {r['driver_s']:.3f}s) "
              f"+ terminal jobs {r['terminal_jobs']}, "
              f"{r['terminal_s']:.3f}s; other-group jobs in window "
              f"{r['other_jobs']}")
        for j in r["jobs"]:
            kind = "eager" if j["t0"] < marks[name][1] else "terminal"
            print(f"  job {j['id']} ({kind}): {j['t1'] - j['t0']:.3f}s")
            for sid in sorted(j["stages"]):
                s = stages.get(sid)
                if s is None or not s["t1"]:
                    continue
                print(f"    stage {sid}: wall {s['t1'] - s['t0']:.3f}s "
                      f"tasks {s['ntask']} tasktime {s['tasktime']:.2f}s "
                      f"gc {s['gc']:.2f}s in {s['records']} rows "
                      f"read {_fmt_b(s['read'])} "
                      f"write {_fmt_b(s['write'])} "
                      f"spill {_fmt_b(s['spill'])} | {s['name']}")
    print(f"\nevent log: {path}")


if __name__ == "__main__":
    main()
