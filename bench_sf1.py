"""Fresh-JVM-per-query sf1 bench (VERDICT r10 task 2).

The r10 sf1 artifact was recorded as one 42-query in-sequence JVM run;
its tail queries absorbed the whole sequence's JVM pressure
(ts_anomaly 12.6s in-sequence vs 4.47s fresh — PERFORMANCE.md r10
close), so as recorded it could not serve as a per-query scaling
ratchet. This harness runs EVERY headline query in its own subprocess
JVM (bench.run_fresh): each number is a fresh-JVM measurement,
reproducible within box noise by construction, at the cost of paying
JVM+Python-worker warmup per query (bench.py's untimed warmup runs in
each subprocess, so warmup cost stays OUT of the recorded times).

Run:  python bench_sf1.py [--adjudicate] SF_DIR OUT.json
e.g. /tmp/spark_graft_sf1.0 BENCH_sf1_r16.json; the round is read from
OUT's _r<N> suffix. --adjudicate only re-runs the mover gate of OUT.
Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_DRIVER_MEM (default 24g here).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import time

import bench


def zstd_decode_probe() -> dict:
    """zstd-Avro read throughput as a recorded measurement. Decodes
    the COMMITTED multi-megabyte zstd-Avro fixture (bench_fixtures/ —
    blocks compressed by the REFERENCE zstd binary at level 3, i.e.
    frames a real Avro writer would produce) single-threaded through
    read_avro_blob, best of 3: pyarrow's libzstd block decode plus the
    pure-Python Avro row parse."""
    fix = os.path.join(bench.HERE, "bench_fixtures", "zstd_avro_bench.avro")
    from bigslice_spark.sources.avro import read_avro_blob
    blob = open(fix, "rb").read()
    best = float("inf")
    rows = []
    for _ in range(3):
        t0 = time.time()
        _, rows = read_avro_blob(blob)
        best = min(best, time.time() - t0)
    raw_bytes = 6_470_312            # builder-reported decoded size
    return {
        "fixture": "bench_fixtures/zstd_avro_bench.avro",
        "frames": "reference zstd 1.5.7, level 3 (per Avro block)",
        "compressed_bytes": len(blob),
        "raw_bytes": raw_bytes,
        "rows": len(rows),
        "sec_best_of_3": round(best, 3),
        "mb_per_s_per_core": round(raw_bytes / 1e6 / best, 2),
        "note": ("single-core read_avro_blob: libzstd block decode "
                 "(pyarrow) + pure-Python Avro row parse"),
    }


def adjudicate(out_path: str, env: dict) -> None:
    """In-band >1.5x mover adjudication vs the newest PRIOR sf1
    artifact (the bench.py gate extended to sf1 — VERDICT r13 task 8):
    each mover re-runs up to three standalone fresh-JVM trials; the
    artifact records {name: [prev, now, rerun...]}."""
    doc = json.load(open(out_path))
    prev_round, prev = bench.prev_artifact(
        os.path.dirname(os.path.abspath(out_path)), "BENCH_sf1_",
        lambda d: d["bench_sf1"]["queries"],
        below=doc.get("round", 1 << 30))
    doc["prev_sf1_round"] = prev_round
    # {} = gate ran, no movers
    doc["movers_vs_prev"] = bench.movers(
        doc["bench_sf1"]["queries"], prev,
        lambda n: bench.run_fresh([n], env=env).get(n, -1.0), tries=3)
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--adjudicate", action="store_true",
                    help="only re-run the mover gate of an existing OUT")
    ap.add_argument("sf_dir", help="e.g. /tmp/spark_graft_sf1.0")
    ap.add_argument("out", help="artifact, e.g. BENCH_sf1_r16.json")
    args = ap.parse_args()
    sf_dir, out_path = args.sf_dir, args.out
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_DRIVER_MEM=mem)
    if args.adjudicate:
        adjudicate(out_path, env)
        return
    times = bench.fresh_each(bench.HEADLINE,
                             lambda n: bench.run_fresh(n, env=env))
    total = round(sum(v for v in times.values() if v > 0), 3)
    m = re.search(r"_r(\d+)", out_path)
    doc = {
        "round": int(m.group(1)) if m else -1,
        "sf": 1.0,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()),
        "driver_mem": mem,
        "protocol": ("fresh JVM per query (bench.py subprocess with "
                     "SPARK_GRAFT_BENCH_ONLY=<name>); bench.py's "
                     "untimed warmup runs per subprocess, so no query "
                     "absorbs another's JVM pressure — every number "
                     "reproduces standalone by construction "
                     "(VERDICT r10 task 2)"),
        "data": ("make_sf1.py: FK-consistent 10x amplification of "
                 "/root/testdata/sf0.1 (lineitem 6,000,000 rows; "
                 "document text vowel-rotated and embeddings "
                 "coordinate-rotated per replica so dedup/ANN measure "
                 "candidate generation, not an all-dup corner)"),
        "bench_sf1": {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": times,
            "sf": 1.0,
        },
        "zstd_decode_throughput": zstd_decode_probe(),
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    adjudicate(out_path, env)
    print(json.dumps({"metric": "sf1_fresh_jvm_total", "value": total,
                      "unit": "sec", "n": len(times)}))


if __name__ == "__main__":
    main()
