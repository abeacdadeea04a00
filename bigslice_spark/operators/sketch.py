"""Sketch-based operators: exact-by-default, one-pass approximate opt-in.

heavy_hitters: find every token whose frequency is ≥ phi·N without a
full-vocabulary shuffle — the φ-heavy-hitters problem at corpus scale.

Two phases, the classic sketch-then-verify shape:

1. CANDIDATES — per-partition Misra-Gries summaries with
   k = ceil(2/phi) counters, via mapInPandas (pandas value_counts,
   trimmed to the top k). Merging MG summaries preserves the
   deficiency bound: any item with true count ≥ N/(k+1) survives in at
   least one partition summary, so the union of per-partition outputs
   is a SUPERSET of the φ-heavy hitters (k ≥ 2/φ gives margin). The
   candidate set is bounded by partitions × k rows — thousands, not
   the vocabulary. Each partition also emits its token total on a
   NULL-token sentinel row, so N arrives from the SAME pass (no
   separate count scan); the tiny summary rides one exchange and the
   global total attaches via a window over the aggregated candidates.
2. VERIFY (``exact=True``, default) — broadcast the candidate set,
   filter the token stream to candidates, count EXACTLY, keep
   count ≥ phi·N (N carried on the broadcast rows). The output is
   exact and independent of partitioning — the sketch only bounds the
   work, never the answer — which is what makes the operator
   oracle-checkable (HAVING count >= phi*N) unlike a raw sketch.

``exact=False`` skips phase 2 entirely: ONE pass over the corpus,
returning merged Misra-Gries counters as bounds
``n_lo ≤ true ≤ n_hi = n_lo + floor(N/(k+1))`` for every token that
could still be a φ-heavy hitter (``n_hi ≥ phi·N`` — no true heavy
hitter is ever missed; some sub-threshold tokens may appear). The
bounds are sound under any partitioning, but the concrete counter
values DEPEND on partitioning, so this mode is property-tested, not
oracle-compared.

Scan economics at 100 TB: exact mode reads the source twice (candidate
pass + recount) — both map-side-pruned, linear, and cheaper than
caching a corpus-sized token explosion, so the tokens are never
cached. ``exact=False`` is the one-scan point on the same trade-off
curve.
"""

from __future__ import annotations

import math
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .text import tokens


def heavy_hitters(df: DataFrame, phi: float = 0.01,
                  text_col: str = "text", exact: bool = True) -> DataFrame:
    """Tokens with frequency ≥ phi of the total token count.

    ``exact=True`` (default): (token, n, freq) with EXACT counts;
    freq = n/N double, engine-exact from two integers.
    ``exact=False``: (token, n_lo, n_hi, n_total) count BOUNDS from a
    single Misra-Gries pass — n_lo ≤ true n ≤ n_hi, every φ-heavy
    hitter present, error ≤ floor(N/(k+1)) with k = ceil(2/phi)."""
    if not 0.0 < phi <= 1.0:
        raise ValueError(f"phi out of (0,1]: {phi}")
    k = int(math.ceil(2.0 / phi))

    toks = df.select(F.explode(tokens(text_col)).alias("tok"))

    def mg_partial(batches: Iterator["object"]) -> Iterator["object"]:
        # Batched Misra-Gries via the mergeable-summaries combine
        # (Agarwal et al.): each Arrow batch's exact value_counts is
        # itself a summary; merge = add counts, then subtract the
        # (k+1)-th largest count from all and trim to k. Work per batch
        # is O(unique tokens) vectorized pandas, never O(rows) Python —
        # the map-only pass stays fast at any batch size. The combine
        # keeps total deficiency ≤ N_p/(k+1), so the candidate
        # guarantee is unchanged. The NULL-token sentinel row carries
        # the partition's token total (tokens() never yields NULL, so
        # the sentinel cannot collide with data).
        import pandas as pd
        acc = pd.Series(dtype="int64")
        total = 0
        for pdf in batches:
            total += len(pdf)
            acc = acc.add(pdf["tok"].value_counts(), fill_value=0)
            if len(acc) > k:
                acc = acc.sort_values(ascending=False)
                acc = (acc - acc.iloc[k]).iloc[:k]
                acc = acc[acc > 0]
        yield pd.concat([
            pd.DataFrame({"tok": acc.index.astype(str),
                          "n": acc.values.astype("int64")}),
            pd.DataFrame({"tok": [None], "n": [total]}),
        ], ignore_index=True)

    parts = toks.mapInPandas(mg_partial, schema="tok string, n long")
    # one tiny exchange: merge per-partition counters AND attach the
    # global token total (the sentinel rows' sum) via a global window
    # over the O(parts·k)-row summary — the candidate subtree is
    # evaluated exactly once, no second corpus scan for N
    summary = parts.groupBy("tok").agg(F.sum("n").alias("n_lo"))
    cand = (summary
            .withColumn("n_total", F.max(
                F.when(F.col("tok").isNull(), F.col("n_lo")))
                .over(Window.partitionBy(F.lit(1))))
            .filter(F.col("tok").isNotNull()))

    if not exact:
        n_hi = (F.col("n_lo")
                + F.floor(F.col("n_total") / F.lit(k + 1))).alias("n_hi")
        return (cand.select("tok", "n_lo", n_hi, "n_total")
                .filter(F.col("n_hi").cast("double")
                        >= F.lit(phi) * F.col("n_total").cast("double")))

    return (toks
            .join(F.broadcast(cand.select("tok", "n_total")), on="tok")
            .groupBy("tok", "n_total")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n").cast("double")
                    >= F.lit(phi) * F.col("n_total").cast("double"))
            .select(F.col("tok"), F.col("n"),
                    (F.col("n").cast("double")
                     / F.col("n_total").cast("double")).alias("freq")))
