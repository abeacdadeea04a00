"""Self-tests of the benchmark's own logic; no Spark needed.

    python3 -m pytest perfbench -q
"""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

import inputs
import oracle
import spans


def test_doubles_match_within_relative_tolerance():
    cols = ["sum_charge", "flag"]
    spark_rows = [(11313503229.736528, "A"), (1.0, "B")]
    duck_rows = [("B", 1.0), ("A", 11313503229.736526)]
    assert oracle.compare(cols, spark_rows, ["flag", "sum_charge"],
                          duck_rows) is None
    assert oracle.compare(cols, [(1.0001, "B"), (2.0, "A")],
                          ["flag", "sum_charge"],
                          [("B", 1.0), ("A", 2.0)]) is not None


def test_compare_reports_shape_differences():
    assert "row count" in oracle.compare(["a"], [(1,), (1,)], ["a"], [(1,)])
    assert "columns" in oracle.compare(["a"], [(1,)], ["b"], [(1,)])
    nan = float("nan")
    assert oracle.compare(["a"], [(None,), (nan,)], ["a"],
                          [(nan,), (None,)]) is None
    assert "row" in oracle.compare(["a"], [(None,), (nan,)], ["a"],
                                   [(None,), (None,)])


def _tracer_with(queries):
    """Spans for back-to-back queries: [(name, t0, t_build_end, t1)]."""
    tr = spans.Tracer()
    tr.spans = []
    for name, t0, tb, t1 in queries:
        q = {"id": len(tr.spans), "parent": None, "name": "query",
             "query": name, "t0": t0, "t1": t1}
        tr.spans.append(q)
        tr.spans.append({"id": len(tr.spans), "parent": q["id"],
                         "name": "build", "t0": t0, "t1": tb})
        tr.spans.append({"id": len(tr.spans), "parent": q["id"],
                         "name": "action", "t0": tb, "t1": t1})
    return tr


def test_attribution_flags_jobs_carrying_another_querys_tag():
    tr = _tracer_with([("a", 10.0, 11.0, 12.0), ("b", 13.0, 14.0, 15.0)])
    jobs = [
        {"id": 0, "group": "perfbench:warmup", "t0": 5.0, "t1": 6.0},
        {"id": 1, "group": "bss:a", "t0": 10.5, "t1": 10.9},
        {"id": 2, "group": "bss:a", "t0": 11.5, "t1": 11.9},
        {"id": 3, "group": "perfbench:check", "t0": 12.5, "t1": 12.6},
        {"id": 4, "group": "bss:b", "t0": 14.2, "t1": 14.8},
    ]
    assert spans.misattributed(tr, jobs) == []
    stale = dict(jobs[4], group="bss:a")      # b's job under a's tag
    assert len(spans.misattributed(tr, jobs[:4] + [stale])) == 1
    leaked = dict(jobs[3], group="bss:a")     # a's tag left set after a
    assert len(spans.misattributed(tr, jobs[:3] + [leaked])) == 1


def test_query_record_splits_eager_and_terminal_jobs():
    tr = _tracer_with([("a", 10.0, 12.0, 13.0)])
    jobs = [{"id": 0, "group": "bss:a", "t0": 10.5, "t1": 11.0},
            {"id": 1, "group": "bss:a", "t0": 10.8, "t1": 11.5},
            {"id": 2, "group": "bss:a", "t0": 12.2, "t1": 12.9}]
    rec = spans.query_record(tr, tr.spans[0], jobs, [])
    assert (rec["jobs_eager"], rec["jobs_terminal"]) == (2, 1)
    # 3 s of query wall, jobs cover [10.5, 11.5] and [12.2, 12.9]
    assert abs(rec["driver_gap_s"] - 1.3) < 1e-9


def test_read_event_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 10_500, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "bss:a"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0,
                        "Submission Time": 10_510},
         "Properties": {"spark.jobGroup.id": "bss:a"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Stage Attempt ID": 0,
         "Task Metrics": {"Executor Run Time": 250,
                          "Input Metrics": {"Bytes Read": 7},
                          "Shuffle Write Metrics":
                              {"Shuffle Bytes Written": 2_000_000}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 11_000},
    ]
    (tmp_path / "local-1").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    jobs, stages = spans.read_event_log(str(tmp_path))
    assert jobs == [{"id": 0, "group": "bss:a", "t0": 10.5, "t1": 11.0}]
    (st,) = stages
    assert (st["tasks"], st["task_s"], st["input"],
            st["shuffle_write"]) == (1, 0.25, 7, 2_000_000)


def test_layouts_are_seeded_and_keep_the_rows(tmp_path, monkeypatch):
    src = tmp_path / "src"
    src.mkdir()
    for i, t in enumerate(inputs.TABLES):
        n = 120_000 if t == "lineitem" else 10 + i
        pq.write_table(pa.table({"k": list(range(n))}),
                       str(src / f"{t}.parquet"))
    monkeypatch.setattr(inputs, "KEEP", 2)
    cache = str(tmp_path / "cache")

    def rows(seed):
        d = inputs.prepare(str(src), cache, seed)
        tdir = os.path.join(d, "lineitem.parquet")
        parts = sorted(os.listdir(tdir))
        return parts, [r for p in parts for r in
                       pq.read_table(os.path.join(tdir, p))["k"].to_pylist()]

    parts1, a = rows(1)
    assert inputs.MIN_FILES <= len(parts1) <= inputs.MAX_FILES
    assert rows(1)[1] == a                      # same seed, same layout
    _, b = rows(2)
    assert b != a and sorted(b) == sorted(a) == list(range(120_000))
    rows(3)
    assert len(os.listdir(cache)) == 2          # only KEEP layouts stay


def test_printed_metrics_match_benchmark_json():
    import run
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert run._UNITS == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)

    b = run.Bench("iterative", "sf", "run", seed=1, seconds=1, traced=True)
    tr = b.tr
    for name in ("start", "load_tables", "warmup"):
        with tr.span(name):
            pass
    passes = []
    for i in range(3):
        with tr.span("pass", index=i, cold=i == 0) as p:
            p["materialized"] = 0
            with tr.span("query", query="k_core"):
                for part in ("build", "action"):
                    with tr.span(part):
                        pass
        passes.append(p)
    b.plans["k_core"] = {"n_exchanges": 2, "n_scans": 1,
                         "codegen_fraction": 1.0}
    layer = b._layer_metrics(passes[0], passes[1:], [], [], 0)
    assert ({k: run._metric(k, v)["unit"] for k, v in layer.items()}
            == {m["name"]: m["unit"] for m in spec["per_layer"]})


def test_typical_pass_sums_each_querys_median():
    tr = spans.Tracer()
    passes = []
    for i, (a, b) in enumerate([(1.0, 2.0), (1.2, 9.0), (1.1, 2.2)]):
        p = {"id": len(tr.spans), "parent": None, "name": "pass"}
        tr.spans.append(p)
        t = 10.0 * i
        for name, d in (("a", a), ("b", b)):
            tr.spans.append({"id": len(tr.spans), "parent": p["id"],
                             "name": "query", "query": name,
                             "t0": t, "t1": t + d, "cpu_s": 2 * d})
            t += d
        passes.append(p)
    # a's median is 1.1 and b's 2.2; the stalled pass does not count
    assert abs(spans.typical_pass_s(tr, passes) - 3.3) < 1e-9
    assert abs(spans.typical_pass_s(tr, passes, spans.cpu) - 6.6) < 1e-9


def test_cpu_s_reads_process_times():
    import run
    t0 = run.cpu_s([os.getpid()])
    sum(i * i for i in range(3_000_000))
    assert run.cpu_s([os.getpid()]) > t0
    assert run.cpu_s([2**22 + 1]) == 0.0        # a process that is gone


def test_codegen_fraction_counts_starred_nodes_of_the_final_plan():
    import run
    tree = """*(3) Sort [k#1 ASC NULLS FIRST], true, 0
+- AQEShuffleRead coalesced
   +- ShuffleQueryStage 1
      +- Exchange rangepartitioning(k#1 ASC NULLS FIRST, 4)
         +- *(2) HashAggregate(keys=[k#1], functions=[count(1)])
            +- AQEShuffleRead coalesced
               +- ShuffleQueryStage 0
                  +- Exchange hashpartitioning(k#1, 4)
                     +- *(1) HashAggregate(keys=[k#1], functions=[partial_count(1)])
                        +- *(1) ColumnarToRow
                           +- FileScan parquet [k#1] Batched: true
"""
    assert run.codegen_fraction(tree) == 4 / 11
    assert run.codegen_fraction("") == 0.0
