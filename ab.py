"""Interleaved same-box A/B of two source trees, one query at a time.

Each run is a fresh-JVM ``bench.py`` in the tree under test with
``SPARK_GRAFT_BENCH_ONLY=<query>``; the rest of the environment (e.g.
``SPARK_GRAFT_SF_DIR`` for an sf1 A/B) passes through unchanged. Every
iteration runs each query once per tree, back to back, and the tree
that goes first alternates from one iteration to the next so drift on
the box cannot favour one side. A run that times out or reports no
time records -1 and is left out of the medians.

    python ab.py --tree base=/path/to/parent --tree head=. --iters 5 \\
        --out ab_results.json q3_shipping_priority dedup_simhash
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
from collections.abc import Callable

import bench


def ab(trees: list[tuple[str, str]], queries: list[str], iters: int,
       run: Callable[[str, str], float] = lambda tree, q:
       bench.run_fresh([q], tree).get(q, -1.0)
       ) -> dict[str, dict[str, list[float]]]:
    """``runs[query][tree name]``: the seconds ``run(tree, query)`` took
    in each iteration (by default a fresh ``bench.py`` under ``tree``)."""
    runs = {q: {name: [] for name, _ in trees} for q in queries}
    for it in range(iters):
        order = trees if it % 2 == 0 else trees[::-1]
        for q in queries:
            for name, path in order:
                runs[q][name].append(run(path, q))
                print(f"iter {it} {q} [{name}]: {runs[q][name][-1]}s",
                      flush=True)
    return runs


def summarize(runs: dict[str, dict[str, list[float]]],
              names: list[str]) -> dict[str, dict]:
    """Per query: each tree's median over its timed runs, and the
    second tree's over the first's (None where a side has none)."""
    a, b = names
    out = {}
    for q, by_tree in runs.items():
        med = {}
        for n in names:
            timed = [v for v in by_tree[n] if v > 0]
            med[n] = statistics.median(timed) if timed else None
        ratio = round(med[b] / med[a], 3) if med[a] and med[b] else None
        out[q] = {f"{a}_median": med[a], f"{b}_median": med[b],
                  f"{b}_over_{a}": ratio}
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--tree", action="append", required=True,
                    metavar="NAME=PATH", help="given twice: A, then B")
    ap.add_argument("--iters", type=int, default=5)
    ap.add_argument("--out", default="ab_results.json")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    trees = [t.partition("=")[::2] for t in args.tree]
    if len(trees) != 2 or trees[0][0] == trees[1][0] \
            or not all(name and path for name, path in trees):
        ap.error("give --tree NAME=PATH exactly twice, with two names")
    # bench.py runs with its tree as the working directory
    trees = [(name, os.path.abspath(path)) for name, path in trees]
    runs = ab(trees, args.queries, args.iters)
    summary = summarize(runs, [name for name, _ in trees])
    with open(args.out, "w") as f:
        json.dump({"iters": args.iters, "trees": dict(trees),
                   "runs": runs, "summary": summary}, f, indent=1)
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
