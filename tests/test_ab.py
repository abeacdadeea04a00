"""The A/B loop's protocol, with a stub runner in place of bench.py."""

from __future__ import annotations

import ab


def test_ab_alternates_first_tree_and_drops_failed_runs():
    calls = []
    times = {("/a", "q1"): [1.0, 3.0, 2.0], ("/b", "q1"): [4.0, -1.0, 6.0],
             ("/a", "q2"): [-1.0, -1.0, -1.0], ("/b", "q2"): [5.0, 5.0, 7.0]}

    def run(tree, query):
        calls.append((tree, query))
        return times[tree, query][sum(c == (tree, query) for c in calls) - 1]

    trees = [("base", "/a"), ("head", "/b")]
    runs = ab.ab(trees, ["q1", "q2"], 3, run=run)
    assert calls == [("/a", "q1"), ("/b", "q1"), ("/a", "q2"), ("/b", "q2"),
                     ("/b", "q1"), ("/a", "q1"), ("/b", "q2"), ("/a", "q2"),
                     ("/a", "q1"), ("/b", "q1"), ("/a", "q2"), ("/b", "q2")]
    assert runs["q1"] == {"base": [1.0, 3.0, 2.0], "head": [4.0, -1.0, 6.0]}
    assert ab.summarize(runs, ["base", "head"]) == {
        "q1": {"base_median": 2.0, "head_median": 5.0,
               "head_over_base": 2.5},
        "q2": {"base_median": None, "head_median": 5.0,
               "head_over_base": None},
    }


def test_sf1_gate_retries_until_a_rerun_is_back_inside(tmp_path):
    import json

    import bench

    for rnd, t in ((12, 1.0), (13, 2.0), (14, 9.0)):
        (tmp_path / f"BENCH_sf1_r{rnd}.json").write_text(
            json.dumps({"bench_sf1": {"queries": {"q": t, "r": 1.0}}}))
    # the artifact being adjudicated (r14) is not its own "prev"
    prev_round, prev = bench.prev_artifact(
        str(tmp_path), "BENCH_sf1_", lambda d: d["bench_sf1"]["queries"],
        below=14)
    assert (prev_round, prev) == (13, {"q": 2.0, "r": 1.0})
    reruns = iter([3.5, 3.2, -1.0, 2.9])
    moved = bench.movers({"q": 4.0, "r": 1.4}, prev,
                         lambda name: next(reruns), tries=3)
    assert moved == {"q": [2.0, 4.0, 3.5, 3.2, -1.0]}
    assert bench.movers({"q": 4.0}, prev, lambda name: 2.5,
                        tries=3) == {"q": [2.0, 4.0, 2.5]}
