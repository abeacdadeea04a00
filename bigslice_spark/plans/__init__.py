"""Plan inspection & partitioning policy: the tooling for keeping every
operator honest at 100TB.

- explain_str:              capture the formatted physical plan.
- assert_pushed_filters:    the parquet scan actually received the filter.
- assert_broadcast / assert_no_shuffle_before_partial_agg: join/agg
                            strategy checks used by the plan tests.
- broadcast_scans:          the tables each broadcast build side reads.
- advise_shuffle_partitions: bigslice's nshard ↔ shuffle-partition policy
                            (reference docs/parallelism.md:19-105): size
                            partitions by input bytes, not a constant.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def scans_with_pushed_filters(df: DataFrame) -> list[tuple[str, str]]:
    """(ReadSchema, PushedFilters) per parquet scan in the plan."""
    txt = explain_str(df)
    pushed = re.findall(r"PushedFilters: \[(.*?)\]", txt)
    schemas = re.findall(r"ReadSchema: (\S+)", txt)
    return list(zip(schemas, pushed + [""] * (len(schemas) - len(pushed))))


def assert_pushed_filters(df: DataFrame, fragment: str) -> None:
    txt = explain_str(df)
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", txt)
    assert any(fragment in f for f in m), \
        f"no pushed filter containing {fragment!r}; scans: {m}"


def assert_broadcast_join(df: DataFrame) -> None:
    txt = explain_str(df)
    assert "BroadcastHashJoin" in txt or "BroadcastNestedLoopJoin" in txt, \
        f"no broadcast join in plan:\n{txt[:2000]}"


def assert_partial_aggregation(df: DataFrame) -> None:
    """Partial (map-side) aggregate before the exchange — the Catalyst
    equivalent of the reference's Combiner (reduce.go:58,71)."""
    txt = explain_str(df)
    assert re.search(r"HashAggregate.*\n(.|\n)*?Exchange", txt) or \
        "partial" in txt.lower(), \
        f"no partial aggregation before exchange:\n{txt[:2000]}"


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (excluding
    broadcast exchanges and AQE reuse)."""
    txt = explain_str(df)
    # formatted mode: shuffle exchanges appear as "(N) Exchange" detail
    # blocks; broadcast ones as "(N) BroadcastExchange".
    return len(re.findall(r"^\(\d+\) Exchange\b", txt, re.MULTILINE))


def count_scans(df: DataFrame, source: str = "parquet") -> int:
    """Number of file-scan nodes over ``source`` in the physical plan —
    the how-many-times-do-we-read-the-corpus gate (each detail block
    ``(N) Scan <source>`` is one physical scan node)."""
    txt = explain_str(df)
    return len(re.findall(rf"^\(\d+\) Scan {source}", txt, re.MULTILINE))


def codegen_fraction(df: DataFrame) -> float | None:
    """Fraction of plan nodes inside WholeStageCodegen spans, which the
    tree marks ``*(<stage>)`` — widen them (low fraction ⇒ interpreted
    operators in the hot path). Under adaptive execution the codegen
    stages exist only once the plan has run, so this reads the final
    adaptive plan and returns None until an action on ``df`` has run."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        if plan.simpleString(0).endswith("isFinalPlan=false"):
            return None
        plan = plan.executedPlan()
    nodes = [n for n in (ln.lstrip(" :+-")
                         for ln in plan.toString().splitlines()) if n]
    return sum(n.startswith("*(") for n in nodes) / len(nodes)


# -- partition policy ----------------------------------------------------

def advise_shuffle_partitions(input_bytes: int,
                              target_partition_bytes: int = 128 << 20,
                              min_partitions: int = 16,
                              max_partitions: int = 200_000) -> int:
    """bigslice nshard policy, Spark-shaped: one shuffle partition per
    ~128MB of input, clamped. At 100TB this yields ~800k→clamped 200k
    partitions; with AQE coalescing enabled the advisory size matters
    more than the count (the reference's fixed per-op nshard has no
    runtime re-plan — AQE strictly dominates it)."""
    n = max(min_partitions, input_bytes // target_partition_bytes + 1)
    return int(min(n, max_partitions))


def plan_report(df: DataFrame) -> dict:
    """One-call plan audit for a query under development: the numbers
    every 100 TB readiness review asks for, as a dict —

    - n_exchanges / n_scans: shuffle and scan counts;
    - broadcast: whether any broadcast join planned;
    - cartesian: True is almost always a bug at scale;
    - partial_agg: map-side combine present;
    - codegen_fraction: share of plan nodes inside WholeStageCodegen
      (interpreted fallbacks — e.g. an expression past the 64 KB JVM
      method limit — drag this down); None under adaptive execution
      until an action on ``df`` has run;
    - n_expands: Expand nodes — grouping sets plan one by design, but
      an UNEXPECTED Expand usually means a DISTINCT aggregate got
      mixed into a multi-aggregate (Catalyst's distinct rewrite runs
      every other buffer over multiplied rows: the approx_distinct
      finding, 13.6s -> 0.7s once split);
    - n_python: ArrowEvalPython/BatchEvalPython/MapInPandas nodes —
      Python in the plan; fine over vocab-scale relations, a red flag
      directly over a corpus-scale scan;
    - duplicated_python_udf: the SAME python UDF name appears in more
      than one eval node — the classic symptom of Catalyst pushing a
      filter on a DETERMINISTIC pandas-UDF column below the aggregate
      or projection it was written above, evaluating the UDF twice
      and queueing the (possibly wide) upstream rows through the
      python runner's rejoin buffer. Fix: udf.asNondeterministic()
      pins the node where written (the r9c bloom_probe finding:
      81s -> 5s-equivalent at 16x);
    - pushed_scans: (read_schema, pushed_filters) per parquet scan;
    - broadcast_scans: per BroadcastExchange, the (table, aggregated)
      pairs of the scans its build side reads, ``aggregated`` True
      when an aggregate sits between the scan and the exchange. A
      fact table broadcast raw (``("lineitem", False)``) is the star
      join built on the wrong side: Catalyst sizes a join's output as
      the product of its inputs, so a dimension composite can look
      bigger than the filtered fact scan (the q3 finding).

    The same predicates the tests/test_plans.py gates assert, exposed
    for interactive use; feed the dict to your own thresholds.
    """
    txt = explain_str(df)
    tree = _tree(df)  # stringified once; one line per node (the
    # formatted text names every node twice — tree + detail section)
    return {
        "n_exchanges": count_exchanges(df),
        "n_scans": count_scans(df),
        "broadcast": "BroadcastHashJoin" in txt
        or "BroadcastNestedLoopJoin" in txt,
        "cartesian": "CartesianProduct" in txt,
        "partial_agg": "partial_" in txt or "Partial" in txt,
        "codegen_fraction": codegen_fraction(df),
        "n_expands": tree.count("Expand"),
        "n_python": sum(tree.count(m) for m in
                        ("ArrowEvalPython", "BatchEvalPython",
                         "MapInPandas", "FlatMapGroupsInPandas")),
        "duplicated_python_udf": _duplicated_python_udf(tree),
        "pushed_scans": scans_with_pushed_filters(df),
        "broadcast_scans": broadcast_scans(df),
    }


def broadcast_scans(df: DataFrame) -> list[list[tuple[str, bool]]]:
    """One entry per BroadcastExchange in the physical plan (the final
    adaptive plan once ``df`` has run): the ``(table, aggregated)``
    pair of every parquet scan its build side reads, in plan order.
    ``table`` is the scanned path's base name less ``.parquet``;
    ``aggregated`` is True when an aggregate sits between the scan and
    the exchange."""
    out: list = []

    def walk(node, builds: tuple) -> None:
        kind = node.getClass().getSimpleName()
        if kind.endswith("QueryStageExec"):     # adaptive stage
            return walk(node.plan(), builds)
        if kind == "BroadcastExchangeExec":
            out.append([])
            builds += ((out[-1], False),)
        elif kind.endswith("AggregateExec"):
            builds = tuple((scans, True) for scans, _ in builds)
        elif kind == "FileSourceScanExec":
            path = node.relation().location().rootPaths().apply(0)
            table = path.getName().removesuffix(".parquet")
            for scans, aggregated in builds:
                scans.append((table, aggregated))
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i), builds)

    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    walk(plan, ())
    return out


def _duplicated_python_udf(tree: str) -> bool:
    """True when one python UDF name is evaluated by more than one
    Arrow/Batch eval node (the determinism-pushdown symptom)."""
    import re
    names: list = []
    for ln in tree.splitlines():
        if "ArrowEvalPython" in ln or "BatchEvalPython" in ln:
            names.extend(re.findall(r"\[(\w+)\(", ln))
    return len(names) != len(set(names))


def _tree(df: DataFrame) -> str:
    """Physical plan as the one-line-per-node simple tree."""
    return df._jdf.queryExecution().executedPlan().toString()
