"""Dump .explain('formatted') for bench queries to plans/<tag>/<name>_<suffix>.txt.

Usage: python dump_plans.py <tag> <suffix> [names...]   (default: all HEADLINE)

Each plan is the one the bench times (bench.query_fn: a query's bench
variant where it has one). Queries with internal materialize() points
execute their upstream legs eagerly at plan-build time; the dump then
shows the final leg over the materialized scans (noted in the file
header).
"""
from __future__ import annotations

import contextlib
import io
import os
import sys

import bench
from bigslice_spark.session import get_spark


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or bench.HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join(bench.HERE, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("bigslice_spark_plandump")
    from bigslice_spark.checkpoint import release_all

    for name in names:
        try:
            df = bench.query_fn(name)(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            txt = buf.getvalue()
        except Exception as ex:
            txt = f"ERROR building {name}: {ex}\n"
        hdr = (f"# {name} @ {sf_dir} {spark.sparkContext.master} "
               f"— {suffix}\n"
               f"# NOTE: legs upstream of materialize() points execute "
               f"eagerly at build time and appear here as Scan "
               f"ExistingRDD.\n\n")
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(hdr + txt)
        print(f"dumped {name} ({len(txt)} bytes)", flush=True)
        release_all(spark)
    spark.stop()


if __name__ == "__main__":
    main()
