"""The mutable serving-table story, end to end on this engine:

  create a partitioned snapshot table → incremental partition-pruned
  MERGE (updates + deletes) → additive schema evolution → time travel
  → CDC diff between versions → small-file compaction → a concurrent
  writer losing the atomic-rename race (fail-fast, no corruption) →
  vacuum (referenced partition data survives, debris goes).

Every stage is one of the audited operators (the same machinery the
upsert_merge / upsert_partitioned / snapshot_diff / scd2 registry
entries oracle-check); this script is the runnable journey with a
one-line check per stage.

Run: python examples/serving_table.py [sf_dir]
"""
import sys
import tempfile

sys.path.insert(0, __file__.rsplit("/", 2)[0])

import pyspark.sql.functions as F

from bigslice_spark import Session


def main(tmp: str) -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sess = Session()
    spark = sess.spark
    from bigslice_spark.operators.upsert import (
        ConcurrentWriteError, compact_partitions, read_latest,
        read_version, snapshot_diff, upsert, vacuum, _write_committed)

    path = tmp + "/customers"
    cust = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .select("c_custkey", "c_name", "c_acctbal",
                    F.col("c_mktsegment").alias("segment")))

    # v1: initial load, Hive-partitioned by market segment
    v = upsert(spark, path, cust, ["c_custkey"],
               partition_by=["segment"])
    n0 = read_latest(spark, path).count()
    print(f"v{v}\tinitial load: {n0} rows")

    # v2: a batch touching ONE segment — balance bump + one delete;
    # every other partition carries forward by manifest reference
    seg = cust.select("segment").first()["segment"]
    batch = (cust.filter(F.col("segment") == seg).limit(10)
             .withColumn("c_acctbal", F.col("c_acctbal") + 100.0))
    victim = batch.select("c_custkey").limit(1)
    batch = batch.withColumn(
        "__deleted__",
        F.col("c_custkey").isin(
            [r["c_custkey"] for r in victim.collect()]))
    v = upsert(spark, path, batch, ["c_custkey"])
    n1 = read_latest(spark, path).count()
    print(f"v{v}\tpruned merge: {n0 - n1} deleted, segment {seg!r}")

    # v3: additive schema evolution — a new column arrives NULL for
    # every untouched row
    enriched = (cust.filter(F.col("segment") == seg).limit(5)
                .withColumn("tier", F.lit("gold")))
    v = upsert(spark, path, enriched, ["c_custkey"])
    tiers = (read_latest(spark, path)
             .groupBy("tier").count().collect())
    print(f"v{v}\tschema evolution: tiers {sorted((str(r['tier']), r['count']) for r in tiers)}")

    # time travel + CDC diff v2 -> v3
    diff = snapshot_diff(spark, path, 2, 3, ["c_custkey"])
    kinds = {r["change"]: r["n"] for r in
             diff.groupBy("change").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    old_rows = read_version(spark, path, 1).count()
    print(f"diff\tv2->v3 changes {sorted(kinds.items())}, v1 still {old_rows} rows")

    # compaction: small files coalesce, untouched partitions by reference
    v = compact_partitions(spark, path, min_files=1)
    print(f"v{v}\tcompacted: {read_latest(spark, path).count()} rows intact")

    # a concurrent writer that raced on the SAME version loses the
    # atomic rename and fails fast — the committed table is untouched
    try:
        _write_committed(cust.limit(1), f"{path}/v={v}", None, None)
        print("race\tUNEXPECTED: second writer committed")
    except ConcurrentWriteError:
        print(f"race\tconcurrent writer on v={v} failed fast, "
              f"{read_latest(spark, path).count()} rows intact")

    # vacuum: old committed versions demote/go, referenced data stays
    removed = vacuum(spark, path, keep_last=2)
    n_final = read_latest(spark, path).count()
    print(f"vacuum\tremoved versions {removed}, latest reads {n_final}")


if __name__ == "__main__":
    with tempfile.TemporaryDirectory(prefix="serving_tbl_") as tmp:
        main(tmp)
