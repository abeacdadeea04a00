"""Registry sweeps, each entry forced through the noop sink.

    python sweep.py [round_number] [sf_dir]

runs EVERY registry entry at sf_dir (default $SPARK_GRAFT_SF_DIR, else
/root/testdata/sf0.1) in one JVM, in registry order; with a round it
writes SWEEP_r{N}.json ({"sf", "entries": {name: sec}, "failed": [...]})
so a scale cliff in the non-headline tail can't hide behind the bench.

    python sweep.py NAME [NAME ...]

runs each named entry in its own fresh JVM at $SPARK_GRAFT_SF_DIR (this
script re-entered with SPARK_GRAFT_BENCH_ONLY=<name>) and prints
{"sf_dir": ..., "entries": {name: sec}}.

The noop-sink write (fixed at r6) computes every output column JVM-side;
a bare count() would let Catalyst prune computed columns out of pure
projections (the ADVICE r5 gopher_rules finding). Each JVM runs the
bench warmup first, and entries run through bench.timed, so an entry
with a bench variant is timed as the bench times it.
"""

from __future__ import annotations

import json
import os
import sys

import bench


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        print(json.dumps({"queries": bench.run_here(
            "bss_sweep", only.split(","), sf_dir, bench.noop_write)}))
        return

    from bigslice_spark.queries import QUERIES
    if args and not args[0].isdigit():
        unknown = [n for n in args if n not in QUERIES]
        if unknown:
            raise SystemExit(f"not registry entries: {unknown}")
        times = bench.fresh_each(
            args, lambda n: bench.run_fresh(n, script="sweep.py"))
        print(json.dumps({"sf_dir": sf_dir, "entries": times}))
        return

    rnd = int(args[0]) if args else 0
    sf_dir = args[1] if len(args) > 1 else sf_dir
    times = bench.run_here("bss_sweep", list(QUERIES), sf_dir,
                           bench.noop_write)
    entries = {n: t for n, t in times.items() if t >= 0}
    failed = sorted(n for n, t in times.items() if t < 0)
    out = {"sf": sf_dir, "n_entries": len(entries),
           "n_failed": len(failed),
           "total_sec": round(sum(entries.values()), 1),
           "entries": entries, "failed": failed}
    if rnd:
        path = os.path.join(bench.HERE, f"SWEEP_r{rnd:02d}.json")
        with open(path, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"wrote {path}", file=sys.stderr)
    print(json.dumps({"metric": "full_registry_sweep_total_wall",
                      "value": out["total_sec"], "unit": "sec",
                      "n": len(entries), "failed": len(failed)}))


if __name__ == "__main__":
    main()
