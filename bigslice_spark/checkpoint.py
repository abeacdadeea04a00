"""Materialization policy: cut lineage / force one-shot computation.

Iterative and multi-reference plans (connected components, LSH signature
reuse, inverted-index self-joins) need an explicit materialization point:
without one, Spark re-executes the shared subtree once per reference and
the lineage doubles per iteration. Two mechanisms with different safety:

- ``localCheckpoint`` (eager): blocks live on their executors' local
  storage — fast, but a lost executor loses the blocks AND the lineage,
  killing the job. Safe only where executor loss implies job loss anyway
  (single-JVM ``local[*]``).
- reliable ``checkpoint`` (eager): blocks are written to the
  SparkContext checkpoint directory (HDFS/object store on a cluster) and
  survive executor loss.

``materialize`` alone picks, from the master: a single-JVM local
master → localCheckpoint, anything else → reliable checkpoint, which
needs a shared checkpoint dir (call ``sc.setCheckpointDir`` on an HDFS
or object-store path first). Operators take no storage option: where
an intermediate lives is the runtime's decision, as in the reference.

Reference analog: bigslice's iterative workloads persist a computed
``*Result`` between invocations (reference exec/session.go:34-37,
exec/compile.go:226-261 task reuse); its shuffle store is always
disk-backed, so the reliable path is the faithful one on clusters.
"""

from __future__ import annotations

import re
import threading
import weakref

from pyspark.sql import DataFrame

# df -> (SparkContext, [rdd ids persisted by its materialize call]).
# Weak keys: an un-released materialized frame falls back to the
# GC -> py4j -> ContextCleaner path, exactly as before release existed.
_TRACKED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_TRACK_LOCK = threading.Lock()


def _single_jvm(master: str) -> bool:
    # Strict: "local" / "local[...]" only. "local-cluster[...]" runs
    # separate executor JVMs whose localCheckpoint blocks CAN be lost
    # with an executor — exactly what the reliable path exists to avoid.
    return master == "local" or re.match(r"local\[", master) is not None


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly compute ``df`` once and return a lineage-free handle:
    localCheckpoint under a single-JVM ``local[...]`` master, reliable
    checkpoint otherwise (including ``local-cluster[...]``). See module
    docstring.
    """
    spark = df.sparkSession
    if _single_jvm(spark.conf.get("spark.master", "local")):
        # Track the persisted-RDD id this checkpoint creates so
        # release() can free superseded rounds of an iterative loop
        # promptly: localCheckpoint blocks otherwise live until the
        # Python handle is GC'd and the ContextCleaner notices —
        # measured as multi-x inflation of late queries in a
        # long-lived JVM (PERFORMANCE.md round 10). Attribution is
        # DIRECT: Dataset.localCheckpoint returns a LogicalRDD
        # wrapping exactly the RDD it persisted, so we read its id
        # off the analyzed plan — no getPersistentRDDs diff, no lock
        # held across the eager job, and a concurrent persist can
        # never be misattributed. The lock now only guards the
        # _TRACKED dict itself.
        out = df.localCheckpoint()
        try:
            ids = [int(out._jdf.queryExecution().analyzed().rdd().id())]
        except Exception:
            # plan shape changed in a future Spark: fall back to
            # tracking nothing (GC + ContextCleaner path, the
            # behavior before release() existed) rather than guess
            ids = []
        with _TRACK_LOCK:
            _TRACKED[out] = (spark.sparkContext, ids)
        return out
    if spark.sparkContext.getCheckpointDir() is None:
        # a driver-local temp dir is NOT reliable on a real cluster
        # (executors can't read it back) — fail loudly up front
        # instead of mid-job far from the cause
        raise RuntimeError(
            "materialize on a cluster needs a shared checkpoint dir: "
            "call spark.sparkContext.setCheckpointDir"
            "('hdfs://... or s3a://...') first")
    return df.checkpoint()


def release(df: DataFrame) -> bool:
    """Free the executor blocks a previous ``materialize`` persisted
    for ``df`` (localCheckpoint path only; reliable checkpoints are
    files under the checkpoint dir and are left for the caller's
    retention policy). Safe to call on any DataFrame — returns False
    when there is nothing tracked to free.

    Use in iterative loops: after round N+1 is materialized (eager),
    round N's blocks are dead weight — releasing them keeps a k-round
    loop's storage footprint at one round instead of k, which is the
    difference between a flat and a degrading long-lived JVM. Never
    release the round you are about to return to the caller."""
    with _TRACK_LOCK:
        sc, ids = _TRACKED.pop(df, (None, ()))
    if sc is None or not ids:
        return False
    m = sc._jsc.getPersistentRDDs()
    freed = False
    for i in ids:
        r = m.get(i)
        if r is not None:
            r.unpersist(False)
            freed = True
    return freed


def release_all(spark=None) -> int:
    """Free the blocks of EVERY tracked materialized frame (optionally
    only those belonging to ``spark``'s context) and return how many
    RDDs were unpersisted.

    This is the between-queries hygiene hook for long-lived sessions:
    a pipeline that runs query after query in one JVM accumulates each
    query's materialized intermediates until Python GC + the JVM
    ContextCleaner happen to notice — measured as multi-× inflation of
    late queries in a 39-query sequence (PERFORMANCE.md round 10).
    Call it only at a point where no returned DataFrame will be
    re-collected: a released frame's lineage is truncated, so a later
    action on one raises instead of silently recomputing."""
    with _TRACK_LOCK:
        items = [(df, sc_ids) for df, sc_ids in _TRACKED.items()
                 if spark is None or sc_ids[0] is spark.sparkContext]
        for df, _ in items:
            del _TRACKED[df]
    n = 0
    for _, (sc, ids) in items:
        m = sc._jsc.getPersistentRDDs()
        for i in ids:
            r = m.get(i)
            if r is not None:
                r.unpersist(False)
                n += 1
    return n
