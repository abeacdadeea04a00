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
