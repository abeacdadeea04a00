"""The repo's benchmark: one seeded workload of registry queries in a
fresh driver, checked against the DuckDB oracles.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 30 --trace 0

The driver is what library users get: ``bigslice_spark.session.get_spark``
on ``local[nproc]`` with ``nproc`` shuffle partitions and a heap sized
to the box. Inputs are the source tables in a seeded physical layout
(``inputs.py``); the program sees only those files.

A run is closed-loop, one client: set-up, one cold pass, ``SETTLE``
warm passes, then measured passes until ``--seconds`` have passed and
at least ``MIN_STEADY`` have run. A pass runs each query of the
workload as ``QUERIES[name](spark, dir)`` followed by a terminal
``count()``; between queries, untimed, the run frees what the query
left persisted and, in measured passes, reads the live heap after a
full collection. The cold pass also collects each output, untimed, for
the oracle check made after the driver stops.

A pass is measured both in wall time and in the CPU seconds the program
spends in its queries (JVM, Python workers and this driver process).
The bounded metric is the CPU time: on a shared host, other tenants'
load moved whole runs' wall time by up to half, their CPU time by a
fifth. The wall time is in the detail line and the traced run.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on the
Spark event log and prints the per-layer ones (``spans.py``). Either
way the last stdout line is the result JSON and the line before it
labels the run with the box, versions, seed and input sizes.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from dataclasses import dataclass

import inputs
import oracle
import spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")

# The JIT compiles through the first warm passes: a pass's CPU time
# falls by half over about eight of them, wall time by a third. They
# are counted, not timed, so that a slow host does not shift the
# measured passes back into that ramp.
SETTLE = 8
# Measured passes: at least MIN_STEADY, whatever --seconds says; past
# those, none starts that would end later than RUN_BUDGET_S into the run.
MIN_STEADY = 6
RUN_BUDGET_S = 60
QUERY_TIMEOUT_S = 100   # a query still running then is cancelled, failed


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    tables: tuple[str, ...]     # the input a pass reads, for input_mb_per_cpu_s


WORKLOADS = {
    # The native Column path: shuffle-, aggregation- and codegen-bound,
    # no eager jobs and no Python workers. Loop or UDF work should not
    # move it. A pass is three queries, one per operator family (hash
    # aggregation, join then top-k, window): with the eight-query mix
    # each query's code ran too rarely for the JIT to settle within a
    # run, and pass_s spread by a quarter from run to run.
    "relational": Workload(
        ("q1_pricing_summary", "q3_shipping_priority", "window_rank"),
        ("lineitem", "orders", "customer")),
    # Latency per round, not data: nearly all time is eager
    # materialize() rounds inside the query call. Shuffle-volume work
    # should not move it.
    "iterative": Workload(("k_core",), ("lineitem", "orders")),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def heap_mb() -> int:
    """An eighth of the box's memory, between 1 and 4 GiB: the whole heap
    is resident from the start (see ``Bench._conf``), and the machine may
    be shared."""
    return max(1024, min(4096, ram_mb() // 8))


# -- processes ---------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's resident-set high-water mark (VmHWM)."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds of the processes ``pids``. The kernel
    leaves time stolen by the hypervisor out of it."""
    ticks = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float = 20.0) -> None:
    deadline = time.time() + timeout
    while any(map(_alive, pids)) and time.time() < deadline:
        time.sleep(0.05)
    for p in filter(_alive, pids):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# -- the run -----------------------------------------------------------------

class Bench:
    def __init__(self, workload: str, sf_dir: str, run_dir: str,
                 seed: int, seconds: int, traced: bool) -> None:
        self.name, self.wl = workload, WORKLOADS[workload]
        self.sf_dir, self.run_dir = sf_dir, run_dir
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.tr = spans.Tracer()
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.outputs: dict[str, tuple] = {}
        self.plans: dict[str, dict] = {}
        self.persisted_at_setup: set[int] = set()
        self.jvm_pid = 0
        self.t_begin = time.time()

    def _dir(self, name: str) -> str:
        path = os.path.join(self.run_dir, name)
        os.makedirs(path, exist_ok=True)
        return path

    def _conf(self) -> dict[str, str]:
        n, heap = str(nproc()), heap_mb()
        # The heap is fixed and pre-touched, on huge pages, so that the
        # page faults of heap growth stay out of the timed passes: with
        # a heap G1 grows lazily, whole runs had every query a third
        # slower than others. Memory is therefore not read from the
        # resident set, which holds the whole heap from the start, but
        # from the JVM's own accounting (``_peak_mem_mb``).
        conf = {
            "spark.sql.shuffle.partitions": n,
            "spark.driver.memory": f"{heap}m",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self._dir('tmp')} -Xms{heap}m "
                "-XX:+AlwaysPreTouch -XX:+UseTransparentHugePages",
            "spark.sql.warehouse.dir": self._dir("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false",
                         "spark.eventLog.dir": self._dir("events")})
        return conf

    def run(self) -> tuple[dict, dict]:
        """Returns the run's labels and details, and its result."""
        # Everything the run leaves on disk goes under run_dir; the
        # Python workers import the package from the checkout, whatever
        # the working directory.
        os.environ["TMPDIR"] = self._dir("tmp")
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = self._dir("local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        tr = self.tr
        with tr.span("run"):
            with tr.span("setup"):
                spark, jvm_pid = self._setup()
            try:
                self._passes(spark)
                mem = self._peak_mem_mb(spark, jvm_pid)
                labels = self._labels(spark)
            finally:
                self._stop(spark, jvm_pid)
            with tr.span("check"):
                mismatches = self._check()
        return self._result(mem, labels, mismatches)

    def _setup(self):
        with self.tr.span("start"):
            from bigslice_spark.session import get_spark, load_tables
            import bigslice_spark.queries  # noqa: F401
            spark = get_spark("perfbench", master=f"local[{nproc()}]",
                              conf=self._conf())
            spark.sparkContext.setCheckpointDir(self._dir("ckpt"))
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.jvm_pid = jvm_pid
        try:
            with self.tr.span("load_tables"):
                load_tables(spark, self.sf_dir)
            with self.tr.span("warmup"):
                self._warmup(spark)
            self.persisted_at_setup = _persisted(spark)
            for pool in _non_heap_pools(spark):
                pool.resetPeakUsage()
        except BaseException:
            self._stop(spark, jvm_pid)
            raise
        return spark, jvm_pid

    @staticmethod
    def _warmup(spark) -> None:
        """First job, whole-stage codegen, hash aggregation and a
        broadcast join; Python workers are left to the cold pass."""
        from pyspark.sql import functions as F
        sc = spark.sparkContext
        sc.setJobGroup("perfbench:warmup", "warmup")
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        base = spark.range(100_000).withColumn("k", F.col("id") % 7)
        base.groupBy("k").count().collect()
        small = spark.range(7).withColumnRenamed("id", "k")
        base.join(F.broadcast(small), "k").count()
        _clear_group(sc)

    def _passes(self, spark) -> None:
        self._pass(spark, 0, cold=True)
        for i in range(SETTLE):
            self._pass(spark, i + 1, cold=False)
        t0, steady = time.time(), []
        while len(steady) < MIN_STEADY or time.time() - t0 < self.seconds:
            if len(steady) >= MIN_STEADY and (
                    time.time() - self.t_begin + spans.dur(steady[-1])
                    > RUN_BUDGET_S):
                break
            steady.append(self._pass(spark, SETTLE + len(steady) + 1,
                                     cold=False, steady=True))

    def _pass(self, spark, index: int, cold: bool,
              steady: bool = False) -> dict:
        with self.tr.span("pass", index=index, cold=cold,
                          steady=steady) as p:
            p["materialized"], p["live_heap_mb"] = 0, 0.0
            for name in self.wl.queries:
                df = self._query(spark, name)
                if df is not None and cold:
                    self._keep_output(spark, name, df)
                if steady:      # a full collection, so only where measured
                    p["live_heap_mb"] = max(p["live_heap_mb"],
                                            _live_heap_mb(spark))
                p["materialized"] += self._release(spark)
        return p

    def _release(self, spark) -> int:
        """Free what the last query left persisted and return how many
        RDDs that was. ``release_all()`` frees the materialized frames
        whose handles are still alive; the rest (a frame whose handle
        went out of scope inside the query, a plain ``persist()``) is
        unpersisted here, so each query starts from the same storage."""
        from bigslice_spark.checkpoint import release_all
        left = _persisted(spark) - self.persisted_at_setup
        release_all(spark)
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        for i in left:
            r = rdds.get(i)
            if r is not None:
                r.unpersist(False)
        return len(left)

    def _query(self, spark, name: str):
        from bigslice_spark.queries import QUERIES
        sc = spark.sparkContext
        self.attempted += 1
        timer = threading.Timer(QUERY_TIMEOUT_S, sc.cancelAllJobs)
        timer.daemon = True
        timer.start()
        cpu0, q = self._cpu_s(), None
        try:
            with self.tr.span("query", query=name) as q:
                with self.tr.span("build"):
                    df = QUERIES[name](spark, self.sf_dir)
                with self.tr.span("action"):
                    df.count()
            return df
        except Exception as e:  # a failing query must not end the run
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return None
        finally:
            if q is not None:
                q["cpu_s"] = self._cpu_s() - cpu0
            timer.cancel()
            _clear_group(sc)

    def _cpu_s(self) -> float:
        """CPU seconds so far of the JVM, the Python workers it started
        and this process, whose pyspark calls drive the queries."""
        t = os.times()
        return cpu_s(process_tree(self.jvm_pid)) + t.user + t.system

    def _keep_output(self, spark, name: str, df) -> None:
        sc = spark.sparkContext
        sc.setJobGroup("perfbench:check", f"check {name}")
        try:
            self.outputs[name] = (df.columns, df.collect())
            if self.traced:
                from bigslice_spark.plans import plan_report
                # plan_report's own codegen_fraction reads the plan
                # before adaptive execution, whose lines it misses
                self.plans[name] = dict(
                    plan_report(df),
                    codegen_fraction=codegen_fraction(final_plan(df)))
        except Exception as e:
            self.errors.append(f"{name} check: {type(e).__name__}: "
                               f"{str(e)[:300]}")
        finally:
            _clear_group(sc)

    def _peak_mem_mb(self, spark, jvm_pid: int) -> float:
        """Memory the program holds at its peak: the live heap at the end
        of each query, before its leftovers are freed, as its maximum
        over a measured pass and the median over them; the peak of the
        JVM's non-heap pools (classes, generated and compiled code)
        since set-up; and the resident high-water mark of the Python
        workers the JVM started. Neither the heap in use after a young
        collection nor the live heap once, after the last pass, repeats
        from run to run: the first jumped by 200 MB in some runs, the
        second spread by a third."""
        steady = [p for p in self.tr.find("pass") if p["steady"]]
        heap = statistics.median(p["live_heap_mb"] for p in steady)
        non_heap = sum(p.getPeakUsage().getUsed()
                       for p in _non_heap_pools(spark)) / 2**20
        workers = peak_rss_mb(process_tree(jvm_pid)[1:])
        return heap + non_heap + workers

    def _stop(self, spark, jvm_pid: int) -> None:
        """Stop the session and the JVM, and wait until the JVM and every
        Python worker it started have exited."""
        from pyspark import SparkContext
        tree = process_tree(jvm_pid)
        gateway = SparkContext._gateway
        spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()   # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        wait_gone(tree)

    def _check(self) -> dict[str, str]:
        """Oracle mismatches by query; a query with no collected output
        counts as one."""
        from bigslice_spark.queries import ORACLE
        con = oracle.connect(self.sf_dir, inputs.TABLES, nproc())
        out = {}
        try:
            for name in self.wl.queries:
                if name not in self.outputs:
                    out[name] = "no output"
                    continue
                cols, rows = self.outputs[name]
                rel = con.sql(ORACLE[name])
                why = oracle.compare(cols, rows, list(rel.columns),
                                     rel.fetchall())
                if why:
                    out[name] = why
        finally:
            con.close()
        return out

    def _labels(self, spark) -> dict:
        jvm = spark._jvm
        return {
            "workload": self.name, "seed": self.seed,
            "queries": list(self.wl.queries), "run_seconds": self.seconds,
            "nproc": nproc(), "ram_mb": ram_mb(),
            "driver_heap_mb": jvm.java.lang.Runtime.getRuntime().maxMemory()
            // 2**20,
            "spark": spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "commit": _commit(),
            "package_sha256": _package_digest(),
            "input_bytes": inputs.table_bytes(self.sf_dir),
        }

    # -- reporting -------------------------------------------------------

    def _result(self, mem: float, labels: dict,
                mismatches: dict[str, str]) -> tuple[dict, dict]:
        tr = self.tr
        passes = tr.find("pass")
        cold, warm = passes[0], passes[1:]
        steady = [p for p in warm if p["steady"]]
        warm_s = [spans.query_time(tr, p) for p in warm]
        pass_s = spans.typical_pass_s(tr, steady)
        pass_cpu_s = spans.typical_pass_s(tr, steady, spans.cpu)
        input_mb = sum(labels["input_bytes"][t] for t in self.wl.tables) / 1e6
        detail = {
            "labels": labels,
            "pass_s": pass_s, "input_mb_per_s": input_mb / pass_s,
            "pass_samples": len(steady), "pass_all_s": warm_s,
            "pass_cpu_all_s": [sum(q["cpu_s"] for q in tr.children(p, "query"))
                               for p in warm],
            "pass_tail": _tail(warm_s[SETTLE:]),
            "live_heap_mb": [p["live_heap_mb"] for p in passes],
            "cold_pass_s": spans.query_time(tr, cold),
            "pass_query_s": [[spans.dur(q) for q in tr.children(p, "query")]
                             for p in passes],
            "per_query": self._per_query(steady),
            "failed_frac": self.failed / self.attempted,
            "oracle_mismatch": len(mismatches), "mismatches": mismatches,
            "errors": self.errors,
        }
        correct = not mismatches
        if self.traced:
            jobs, stages = spans.read_event_log(
                os.path.join(self.run_dir, "events"))
            detail["misattributed"] = spans.misattributed(tr, jobs)
            correct = correct and not detail["misattributed"]
            metrics = self._layer_metrics(cold, steady, jobs, stages,
                                          len(detail["misattributed"]))
            detail["trace_file"] = self._write_trace(detail, jobs, stages)
            metrics = {k: _metric(k, v) for k, v in metrics.items()}
        else:
            metrics = {
                "setup_s": _metric("setup_s", spans.dur(tr.find("setup")[0])),
                "pass_cpu_s": _metric("pass_cpu_s", pass_cpu_s),
                "input_mb_per_cpu_s": _metric("input_mb_per_cpu_s",
                                              input_mb / pass_cpu_s),
                "peak_mem_mb": _metric("peak_mem_mb", mem),
            }
        final = {"correct": correct, "attempted": self.attempted,
                 "failed": self.failed, "metrics": metrics}
        return detail, final

    def _per_query(self, steady: list[dict]) -> dict[str, dict]:
        """Median build and action seconds of each query's steady runs."""
        out: dict[str, dict] = {}
        for name in self.wl.queries:
            qs = [q for p in steady for q in self.tr.children(p, "query")
                  if q["query"] == name]
            out[name] = {}
            for part in ("build", "action"):
                ds = [spans.dur(c) for q in qs
                      for c in self.tr.children(q, part)]
                out[name][f"{part}_s"] = statistics.median(ds) if ds else None
        return out

    def _layer_metrics(self, cold: dict, steady: list[dict], jobs: list[dict],
                       stages: list[dict],
                       misattributed: int) -> dict[str, float]:
        tr = self.tr
        m = {f"session.{s}_s": spans.dur(tr.find(s)[0])
             for s in ("start", "load_tables", "warmup")}
        m.update(spans.pass_metrics(tr, steady, jobs, stages))
        reports = list(self.plans.values())
        m["plans.exchanges"] = sum(r["n_exchanges"] for r in reports)
        m["plans.scans"] = sum(r["n_scans"] for r in reports)
        m["plans.codegen_fraction"] = (
            statistics.mean(r["codegen_fraction"] for r in reports)
            if reports else 0.0)
        m["perfbench.misattributed_jobs"] = misattributed
        # The first pass pays codegen, JIT and the Python-worker fork; it
        # repeats only within about 15%, too loosely to bound.
        m["perfbench.cold_pass_s"] = spans.query_time(tr, cold)
        m["perfbench.traced_pass_s"] = spans.typical_pass_s(tr, steady)
        return m

    def _write_trace(self, detail: dict, jobs: list[dict],
                     stages: list[dict]) -> str:
        """The spans and the per-query layer records, kept after the run."""
        records = [dict(spans.query_record(self.tr, q, jobs, stages),
                        query=q["query"], span=q["id"])
                   for q in self.tr.find("query")]
        out_dir = os.path.join(WORK, "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.name}-seed{self.seed}-"
                                     f"{int(self.t_begin)}.json")
        with open(path, "w") as f:
            json.dump({"labels": detail["labels"], "spans": self.tr.spans,
                       "queries": records, "plans": self.plans}, f,
                      default=str)
        return os.path.relpath(path, ROOT)


_UNITS = {"setup_s": "s", "pass_cpu_s": "s", "input_mb_per_cpu_s": "MB/cpu-s",
          "peak_mem_mb": "MB"}


def _tail(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples above it, if the
    sample has one at or above the median."""
    n = len(samples)
    if n < 20:
        return {"samples": n, "percentile": None, "value_s": None}
    p = int(100 * (1 - 10 / n))
    return {"samples": n, "percentile": p,
            "value_s": statistics.quantiles(samples, n=100)[p - 1]}


def _metric(name: str, value: float) -> dict:
    if name in _UNITS:
        unit = _UNITS[name]
    elif name.endswith("_s"):
        unit = "s"
    elif name.endswith("_mb"):
        unit = "MB"
    elif name.endswith("_fraction"):
        unit = "fraction"
    else:
        unit = "count"
    return {"value": value, "unit": unit}


def _non_heap_pools(spark) -> list:
    """The JVM's memory pools for classes and for generated and compiled
    code."""
    jvm = spark._jvm.java.lang.management
    return [p for p in jvm.ManagementFactory.getMemoryPoolMXBeans()
            if p.getType().equals(jvm.MemoryType.NON_HEAP)]


def _live_heap_mb(spark) -> float:
    """The heap still in use after a full collection. The collection
    runs between queries, outside their timed spans."""
    jvm = spark._jvm.java.lang
    jvm.System.gc()
    return (jvm.management.ManagementFactory.getMemoryMXBean()
            .getHeapMemoryUsage().getUsed() / 2**20)


def _persisted(spark) -> set[int]:
    """Ids of the RDDs the driver holds persisted."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs()}


def final_plan(df) -> str:
    """The executed plan tree; under adaptive execution, the final plan."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


def codegen_fraction(tree: str) -> float:
    """Share of the plan's nodes inside whole-stage codegen, which the
    tree marks ``*(<stage>)``."""
    nodes = [n for n in (ln.lstrip(" :+-") for ln in tree.splitlines()) if n]
    return sum(n.startswith("*(") for n in nodes) / len(nodes) if nodes else 0.0


def _clear_group(sc) -> None:
    """Unset the job group the registry leaves set after a query."""
    for key in ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def _commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                         capture_output=True, text=True)
    return out.stdout.strip() or None


def _package_digest() -> str:
    """Identifies the benchmarked code where there is no git commit."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "bigslice_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), pkg).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bigslice_spark")):
        print(f"perfbench: no bigslice_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    try:
        src = inputs.source_dir(ROOT)
    except (OSError, RuntimeError) as e:
        print(f"perfbench: no source tables: {e}", file=sys.stderr)
        return 2
    sf_dir = inputs.prepare(src, os.path.join(WORK, "inputs"), args.seed)
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(WORK, "runs"))
    try:
        detail, final = Bench(args.workload, sf_dir, run_dir, args.seed,
                              args.seconds, bool(args.trace)).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
