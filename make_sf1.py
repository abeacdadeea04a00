"""Generate an sf1.0-shaped dataset by FK-consistent 10x amplification
of /root/testdata/sf0.1 (the driver ships sf <= 0.1; the scale-proof
above that is ours to build — VERDICT r7/r8 task 2).

Replica i shifts every key family by i * a fixed per-family offset, so
foreign keys stay consistent WITHIN a replica (orders still join their
customers, lineitems their orders/parts/suppliers) and replicas never
collide. Dimension tables (region, nation) are fixed-size in TPC-H and
stay as-is. Non-key content is perturbed only where replication would
otherwise create artificial near-duplicates: document text gets a
per-replica vowel rotation (every shingle changes — dedup measures
candidate generation, not an all-dup corner) and embeddings get a
per-replica coordinate rotation (norms preserved, different cells).
stress_scale.py amplifies in memory with the same ``amplify``; this
script materializes to parquet so the full bench harness runs
unmodified: SPARK_GRAFT_SF_DIR=<out> bench.py.

Run: python make_sf1.py [out_dir] [src_dir]   (default out
/tmp/spark_graft_sf1.0 — the 'sf1.0' suffix is what bench.py's sf regex
reports; the session is session.get_spark's, on local[$SPARK_GRAFT_CPUS])
"""

import os
import sys
import time

from pyspark.sql import functions as F


AMP = 10
KEY_OFF = 10**9        # orderkey/custkey/partkey/suppkey/event_id
USER_OFF = 10**7       # user_id / doc_id / vec_id (small-cardinality keys)
SHIFTS = {
    "customer": {"c_custkey": KEY_OFF},
    "supplier": {"s_suppkey": KEY_OFF},
    "part": {"p_partkey": KEY_OFF},
    "orders": {"o_orderkey": KEY_OFF, "o_custkey": KEY_OFF},
    "lineitem": {"l_orderkey": KEY_OFF, "l_partkey": KEY_OFF,
                 "l_suppkey": KEY_OFF},
    "events": {"event_id": KEY_OFF, "user_id": USER_OFF},
    "documents": {"doc_id": USER_OFF},
    "embeddings": {"vec_id": USER_OFF},
}
DIM = 64


def replica(df, name: str, i: int):
    """Replica ``i`` of table ``name`` (replica 0 is the table)."""
    if i == 0:
        return df
    cols = {c: F.col(c) + i * off for c, off in SHIFTS[name].items()}
    if name == "documents":
        rot = "aeiou"[i % 5:] + "aeiou"[:i % 5]
        cols["text"] = F.translate("text", "aeiou", rot)
    if name == "embeddings" and i % DIM:
        r = i % DIM
        cols["embedding"] = F.concat(F.slice("embedding", r + 1, DIM - r),
                                     F.slice("embedding", 1, r))
    return df.withColumns(cols)


def amplify(df, name: str, amp: int):
    """``amp`` replicas of table ``name``; dimension tables stay as-is."""
    out = df
    for i in range(1, amp if name in SHIFTS else 1):
        out = out.unionByName(replica(df, name, i))
    return out


def main() -> None:
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf1.0"
    from bigslice_spark.session import get_spark, load_tables
    spark = get_spark("bss_make_sf1")
    t = load_tables(spark, src)

    os.makedirs(out, exist_ok=True)
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents",
                 "embeddings"):
        t0 = time.time()
        # file sizing: big facts get parallel files, dims stay single
        nfiles = {"lineitem": 32, "orders": 16, "events": 16,
                  "customer": 8, "part": 8, "documents": 8,
                  "embeddings": 4}.get(name, 1)
        (amplify(t[name], name, AMP).repartition(nfiles)
         .write.mode("overwrite")
         .parquet(os.path.join(out, f"{name}.parquet")))
        print(f"{name}: {time.time() - t0:.1f}s", flush=True)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
