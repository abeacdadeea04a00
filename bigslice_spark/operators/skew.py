"""Skew-mitigation operators.

Hot keys are the classic 100TB failure mode: one reducer gets a
key with 10^9 rows while the other 999 executors idle. Two tools:

- salted_join: spread each key of the big side over `nsalts` shuffle
  partitions by appending a salt to the join key; the other side is
  replicated nsalts×. Join output is IDENTICAL to the unsalted join
  (oracle-checkable) but the heaviest reducer shrinks by ~nsalts.
  Use when the small side is too big to broadcast AND keys are skewed;
  otherwise prefer broadcast() or AQE skew-join splitting
  (spark.sql.adaptive.skewJoin, on by Spark default).

- two-stage salted aggregation lives as a pattern in
  queries.op_salted_agg: groupBy(key, salt) partial → groupBy(key)
  merge — the manual analog of Catalyst's partial aggregation when the
  FINAL aggregate itself is the hot spot.

The reference has no skew handling at all (its murmur3 hash partition
is static, exec/compile.go:20-24); this module is part of the
beyond-reference scale surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(big: DataFrame, small: DataFrame, on: list[str],
                nsalts: int = 16, how: str = "inner") -> DataFrame:
    """Equi-join `big` ⋈ `small` on `on`, salted against key skew.

    `big` rows get a uniform salt in [0, nsalts); `small` is replicated
    once per salt value (explode of a literal range — nsalts× the small
    side's bytes, the price of the trick). The join key becomes
    (on..., salt), so one hot key fans out over nsalts reducers.
    Supports inner/left joins (right/full would need the salt on the
    other side's null-extension; not provided)."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how}")
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()),
                  F.lit(nsalts)).cast("int")
    b = big.withColumn("__salt", salt)
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(nsalts - 1))))
    return b.join(s, on=on + ["__salt"], how=how).drop("__salt")


def key_skew_report(df: DataFrame, key_cols: list[str],
                    top_n: int = 20) -> DataFrame:
    """Skew diagnostics: the report to read BEFORE tuning a join/agg.

    Top-N heaviest keys with exact counts and their share of total
    rows, plus each key's multiple of the mean key load ("a perfectly
    even partitioning would give every key load 1.0×; this key is
    840×"). One hash aggregation over the input + a tiny top-k — no
    second pass; the total and distinct-key count ride along as a
    1-row broadcast (the q11 scalar pattern, no driver collect).

    All doubles derive from exact integers with one division each, so
    the report is engine-reproducible (oracle-checkable)."""
    per = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    tot = per.agg(F.sum("n_rows").alias("tot"),
                  F.count(F.lit(1)).alias("n_keys"))
    j = per.crossJoin(F.broadcast(tot))
    share = F.col("n_rows").cast("double") / F.col("tot").cast("double")
    # load multiple vs the mean key: n / (tot / n_keys), same operand
    # order in the oracle
    hot = (F.col("n_rows").cast("double")
           / (F.col("tot").cast("double")
              / F.col("n_keys").cast("double")))
    return (j.select(*key_cols, "n_rows", share.alias("share"),
                     hot.alias("x_mean"))
            .orderBy(F.desc("n_rows"), *key_cols)
            .limit(top_n))
