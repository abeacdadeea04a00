"""The bench's driver contract, with a stub subset runner in place of the
fresh-JVM subprocesses and ``tmp_path`` as the artifact directory."""

from __future__ import annotations

import json

import pytest

import bench

CONTRACT_KEYS = {"metric", "value", "unit", "queries", "sf",
                 "baseline_subset_inseq_total", "vs_r", "prev_fresh_round",
                 "movers_vs_prev"}


def _orchestrate(capsys, tmp_path, times, reruns=None):
    """Run the protocol over ``times`` ({name: sec}, 1.0 for names not
    given); ``reruns`` answers a query's second single-name run. Returns
    the printed line and every single-name run's query."""
    calls = []

    def run(names):
        calls.append(list(names))
        if len(names) == 1 and calls.count([names[0]]) > 1:
            return {names[0]: (reruns or {})[names[0]]}
        return {n: times.get(n, 1.0) for n in names}

    bench.orchestrate("/data/sf0.1", 0.1, run=run, artifact_dir=str(tmp_path))
    line = capsys.readouterr().out.strip().splitlines()[-1]
    return line, [c[0] for c in calls if len(c) == 1]


def _write_prev(tmp_path, rnd, queries, name=None):
    path = tmp_path / (name or f"BENCH_r{rnd}.json")
    path.write_text(json.dumps({"parsed": {"queries": queries}}))


def test_line_keys_and_failed_query(capsys, tmp_path):
    line, singles = _orchestrate(capsys, tmp_path,
                                 {"trigram_index_grep": -1.0})
    out = json.loads(line)
    assert set(out) == CONTRACT_KEYS | {"complete", "failed"}
    assert out["complete"] is False
    assert out["failed"] == ["trigram_index_grep"]
    assert singles == bench.HEADLINE
    assert out["value"] == len(bench.HEADLINE) - 1
    # no previous artifact: the gate still runs and records no movers
    assert out["movers_vs_prev"] == {} and out["vs_r"] == 0
    full = json.loads((tmp_path / "bench_full.json").read_text())
    assert full["baseline_subset_inseq"]["queries"] == {
        n: 1.0 for n in bench.HEADLINE[:20]}


def test_all_passed_line_has_no_failure_keys(capsys, tmp_path):
    _write_prev(tmp_path, 15, {n: 1.0 for n in bench.HEADLINE})
    out = json.loads(_orchestrate(capsys, tmp_path, {})[0])
    assert set(out) == CONTRACT_KEYS
    assert out["movers_vs_prev"] == {} and out["prev_fresh_round"] == 15


def test_mover_gate_reruns_once_and_skips_tiny_prev(capsys, tmp_path):
    _write_prev(tmp_path, 15, {"q1_pricing_summary": 1.0,
                               "q3_shipping_priority": 0.25,
                               "word_count": 1.0})
    line, singles = _orchestrate(
        capsys, tmp_path,
        {"q1_pricing_summary": 1.6, "q3_shipping_priority": 5.0,
         "word_count": 1.5},
        reruns={"q1_pricing_summary": 1.1})
    out = json.loads(line)
    assert out["movers_vs_prev"] == {"q1_pricing_summary": [1.0, 1.6, 1.1]}
    assert singles.count("q1_pricing_summary") == 2
    assert singles.count("q3_shipping_priority") == 1
    assert singles.count("word_count") == 1


def test_shrink_ladder_keeps_line_parseable(capsys, tmp_path):
    _write_prev(tmp_path, 15, {n: 1.0 for n in bench.HEADLINE})
    slow = {n: 2.0 for n in bench.HEADLINE}
    line, _ = _orchestrate(capsys, tmp_path, slow,
                           reruns={n: 2.0 for n in bench.HEADLINE})
    out = json.loads(line)
    assert len(line) <= 1900
    assert out["movers_vs_prev"] == {"see": "bench_full.json"}
    assert out["queries"] == slow
    full = json.loads((tmp_path / "bench_full.json").read_text())
    assert len(full["movers_vs_prev"]) == len(bench.HEADLINE)

    long = {n: 2.000000000000001 for n in bench.HEADLINE}
    line, _ = _orchestrate(capsys, tmp_path, long,
                           reruns={n: 2.0 for n in bench.HEADLINE})
    out = json.loads(line)
    assert len(line) <= 1900
    assert out["queries"] == {"see": "bench_full.json"}


def test_prev_fresh_times_skips_core_count_runs_and_old_rounds(tmp_path):
    assert bench._prev_fresh_times(str(tmp_path)) == (0, {})
    _write_prev(tmp_path, 11, {"word_count": 3.0})
    assert bench._prev_fresh_times(str(tmp_path)) == (0, {})
    _write_prev(tmp_path, 13, {"word_count": 2.0})
    _write_prev(tmp_path, 14, {"word_count": 9.0},
                name="BENCH_r14_c8.json")
    assert bench._prev_fresh_times(str(tmp_path)) == (
        13, {"word_count": 2.0})
    # an unparsed artifact falls back to the stdout tail, cut before the
    # in-sequence cohort
    (tmp_path / "BENCH_r14.json").write_text(json.dumps({
        "parsed": None,
        "tail": '{"queries":{"word_count":1.5,"op_fold":0.0},'
                '"baseline_subset_inseq":{"word_count":0.9}}'}))
    assert bench._prev_fresh_times(str(tmp_path)) == (
        14, {"word_count": 1.5})


def _bench_only(monkeypatch, only):
    """bench.main's in-process path for SPARK_GRAFT_BENCH_ONLY=``only``,
    with a stub run_here; returns the names it was asked to run."""
    ran = []

    def run_here(app, names, sf_dir):
        ran.extend(names)
        return {n: 1.0 for n in names}
    monkeypatch.setattr(bench, "run_here", run_here)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ONLY", only)
    bench.main()
    return ran


def test_bench_only_runs_registry_entries_outside_headline(
        monkeypatch, capsys):
    ran = _bench_only(monkeypatch,
                      "q4_order_priority,word_count,q1_pricing_summary")
    # headline names in HEADLINE order, then the rest as given
    assert ran == ["q1_pricing_summary", "word_count", "q4_order_priority"]
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["queries"] == {n: 1.0 for n in ran}


def test_bench_only_typo_exits(monkeypatch):
    with pytest.raises(SystemExit, match="q4_order_prority"):
        _bench_only(monkeypatch, "q4_order_priority,q4_order_prority")
