"""Product quantization (PQ) — compressed-domain ANN, the IVF+PQ
standard (Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011).

At 100 TB the raw float vectors are the cost: 1B × 64-dim float64 =
512 GB scanned per query batch. PQ splits each (L2-normalized) vector
into ``m`` subvectors and replaces each with the id of its nearest
per-subspace centroid: 64 dims × 8 bytes → m one-byte codes (64×
compression at m=8), and query scoring never touches floats — it sums
m table lookups per candidate (ADC, asymmetric distance computation).

Spark-first shape, reusing the engine's deterministic pieces:

  - TRAIN: per-subspace k-means via clustering.kmeans_train on sliced
    subvectors (bitwise-reproducible: seeded data-independent init,
    exact-decimal means). Codebooks are m × ksub × (dim/m) floats —
    KBs, a plan literal.
  - ENCODE: broadcast the m*ksub centroids onto the exploded
    (vector, subspace) rows and keep, per subspace, the code of least
    ||c||^2 - 2<x_j, c> (ties to the smaller code) — one grouped pass,
    one exchange, no Python.
  - SEARCH (ADC): the query's m×ksub inner-product table is built
    driver-side (queries are metadata-scale by contract, like k-means
    centroids) and broadcast; each corpus row's score is m
    element_at lookups, unrolled into one codegen expression. Exact
    re-rank of the ADC shortlist (oversample×k) restores true cosine
    on the final k — the standard two-stage serving layout.

Reference: no analog in bigslice (no vector ops at all); part of the
similarity surface beside brute-force/LSH/IVF (similarity.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..local_rows import local_df


def _seq_dot(a, b) -> float:
    """Left-associative 0.0-seeded dot product — the driver-side twin
    of the _fold_dot_literal/_dot_wide fold, same IEEE result."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc

from .clustering import seed_centroids
from .similarity import (_QUERY, _as_double_vec, _dim_of, _prep,
                         _rerank, _sq_l2)


def _normed(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    p = _prep(df, vec_col, id_col)
    unit = F.transform("v", lambda x: x / F.col("nrm"))
    return p.select("nid", unit.alias("v"))


def pq_train(df: DataFrame, m: int = 8, ksub: int = 16,
             vec_col: str = "embedding", id_col: str = "vec_id",
             dim: int | None = None, iters: int = 4,
             seed: int = 7, scale: int = 12,
             sample_mod: int | None = None) -> list:
    """Train m per-subspace codebooks of ksub centroids each over the
    L2-normalized corpus. Returns [m][ksub][dim/m] floats.

    All m subspaces train JOINTLY: each Lloyd iteration is ONE job —
    explode every vector into its m (subspace, subvector) rows once
    (cached across iterations), broadcast-join the m*ksub current
    centroids, argmin per (vector, subspace), then a single
    (subspace, cell) aggregation with decimal-exact means. Per
    iteration at any scale: one pass over the cached rows + one
    compact shuffle + a m*ksub-row collect — versus m separate
    kmeans_train loops (m*iters jobs), bitwise-identical codebooks
    (same seeded per-subspace init, same fold distances, same
    (d, cell) tie-break, same exact-decimal means; empty cells keep
    their previous centroid). Parity is test-pinned against the
    per-subspace clustering.kmeans_train path.

    ``sample_mod`` is the 100 TB knob: train on the deterministic
    hash-sample xxhash64(id) % sample_mod == 0 of the corpus instead
    of all of it — codebook quality needs thousands of vectors per
    subspace, not billions, and the sample keeps the cached training
    rows bounded. Encoding/search always cover the full corpus."""
    dim = dim or _dim_of(df, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    spark = df.sparkSession
    src = df
    if sample_mod and sample_mod > 1:
        src = df.filter(
            F.pmod(F.xxhash64(F.col(id_col)), sample_mod) == 0)
    unit = _normed(src, vec_col, id_col)
    sub_structs = [F.struct(F.lit(j).alias("j"),
                            F.slice("v", j * dsub + 1, dsub)
                            .alias("sub")) for j in range(m)]
    rows = (unit.select(
        "nid", F.explode(F.array(*sub_structs)).alias("s"))
        .select("nid", "s.j", "s.sub"))
    if iters > 1:          # a single round reads the rows once anyway
        rows = rows.persist()
    try:
        books = [seed_centroids(ksub, dsub, seed=seed + j)
                 for j in range(m)]
        d = _sq_l2("sub", "c")
        # min(struct(d, cell, sub)): 'sub' is constant within the
        # (vector, subspace) group, so the tie-break is still (d, cell)
        # — carried only so the winning subvector feeds the mean.
        best = F.min(F.struct(F.col("__d").alias("d"), F.col("cell"),
                              F.col("sub").alias("sub")))
        aggs = [F.count(F.lit(1)).alias("n")]
        for t in range(dsub):
            aggs.append(
                (F.sum(F.col("b.sub")[t].cast(f"decimal(38,{scale})"))
                 .cast("double") / F.count(F.lit(1))).alias(f"m{t}"))
        for _ in range(iters):
            cents = local_df(
                spark, [(j, c, books[j][c]) for j in range(m)
                        for c in range(ksub)],
                "j int, cell int, c array<double>")
            upd = (rows.join(F.broadcast(cents), "j")
                   .withColumn("__d", d)
                   .groupBy("nid", "j")
                   .agg(best.alias("b"))
                   .groupBy("j", F.col("b.cell").alias("cell"))
                   .agg(*aggs))
            got = {(r["j"], r["cell"]): r for r in upd.collect()}
            books = [[[got[(j, c)][f"m{t}"] for t in range(dsub)]
                      if (j, c) in got else books[j][c]
                      for c in range(ksub)] for j in range(m)]
        return books
    finally:
        if iters > 1:
            rows.unpersist()


def pq_encode(df: DataFrame, codebooks: list,
              vec_col: str = "embedding", id_col: str = "vec_id",
              dim: int | None = None) -> DataFrame:
    """(nid, codes array<int>) — vectors are L2-normalized before
    encoding (cosine regime). Broadcast the m*ksub centroids onto
    exploded (vector, subspace, subvector) rows; per subspace the code
    is argmin_c ||x_j - c||^2 = argmin_c (||c||^2 - 2<x_j, c>), ties to
    the smaller code, as m conditional min(struct(d, code)) aggregates
    of one grouped pass: one exchange of n m-entry groups, tiny
    expressions, no generated-code limit at any m*ksub."""
    dim = dim or _dim_of(df, vec_col)
    m = len(codebooks)
    dsub = dim // m
    ksub = len(codebooks[0])
    unit = _normed(df, vec_col, id_col)
    spark = df.sparkSession
    cents = local_df(
        spark, [(j, c, [float(x) for x in codebooks[j][c]],
                 float(sum(x * x for x in codebooks[j][c])))
                for j in range(m) for c in range(ksub)],
        "j int, cell int, c array<double>, c_norm double")
    sub_structs = [F.struct(F.lit(j).alias("j"),
                            F.slice("v", j * dsub + 1, dsub)
                            .alias("sub")) for j in range(m)]
    rows = (unit.select(
        "nid", F.explode(F.array(*sub_structs)).alias("s"))
        .select("nid", "s.j", "s.sub"))
    # argmin objective ||c||^2 - 2<x_j, c>
    d = F.col("c_norm") - F.lit(2.0) * F.aggregate(
        F.zip_with("sub", "c", lambda x, y: x * y),
        F.lit(0.0), lambda acc, t: acc + t)
    # ONE exchange: the m per-subspace argmins are m conditional min
    # aggregates of the same grouped pass (min ignores the rows of
    # the other subspaces via when()); partial aggregation collapses
    # the n*m*ksub joined rows to n rows map-side.
    aggs = [F.min(F.when(F.col("j") == j,
                         F.struct(F.col("__d").alias("d"),
                                  F.col("cell")))).alias(f"__b{j}")
            for j in range(m)]
    return (rows.join(F.broadcast(cents), "j")
            .withColumn("__d", d)
            .groupBy("nid").agg(*aggs)
            .select("nid", F.array(*[F.col(f"__b{j}.cell")
                                     for j in range(m)])
                    .alias("codes")))


def pq_topk(df: DataFrame, queries: DataFrame, codebooks: list,
            k: int = 10, vec_col: str = "embedding",
            id_col: str = "vec_id", dim: int | None = None,
            oversample: int = 4) -> DataFrame:
    """Two-stage PQ search: ADC shortlist of oversample*k candidates
    per query from the codes alone, then exact cosine re-rank of the
    shortlist against the raw vectors. Output matches the other ANN
    ops: (qid, nid, cosine, rank), cosine exact on the returned k.

    Queries are collected driver-side to build the m×ksub ADC tables
    (queries are metadata-scale by contract; the corpus never is)."""
    dim = dim or _dim_of(df, vec_col)
    m = len(codebooks)
    dsub = dim // m
    ksub = len(codebooks[0])
    spark = df.sparkSession

    # queries are metadata-scale by contract: collect them raw and
    # normalize driver-side (index-ordered sums, same arithmetic as
    # _normed) — one fewer Spark plan to analyze/compile per call.
    qraw = queries.select(
        F.col(id_col).alias("nid"),
        _as_double_vec(F.col(vec_col)).alias("v")).collect()
    tabs = []
    for r in qraw:
        qv = list(r["v"])
        nrm = math.sqrt(_seq_dot(qv, qv))
        if nrm <= 0:
            continue
        qv = [x / nrm for x in qv]
        tab = [_seq_dot(qv[j * dsub:(j + 1) * dsub], cent)
               for j in range(m) for cent in codebooks[j]]
        tabs.append((r["nid"], tab))
    qdf = local_df(spark, tabs, "qid long, tab array<double>")

    encoded = pq_encode(df, codebooks, vec_col, id_col, dim)
    # ADC score: sum of m table lookups, unrolled (codegen, no HOF)
    score = None
    for j in range(m):
        term = F.element_at(
            "tab", (F.lit(j * ksub)
                    + F.element_at("codes", j + 1) + 1).cast("int"))
        score = term if score is None else score + term
    shortlist = (encoded.join(F.broadcast(qdf),
                              F.col("nid") != F.col("qid"))
                 .withColumn("adc", score))
    wq = W.partitionBy("qid").orderBy(F.desc("adc"), "nid")
    cand = (shortlist.withColumn("r", F.row_number().over(wq))
            .filter(F.col("r") <= oversample * k)
            .select("qid", "nid"))
    # exact re-rank of the shortlist against raw vectors; the
    # shortlist (queries x oversample*k rows) broadcasts so the
    # corpus side never shuffles for it
    corpus = _prep(df, vec_col, id_col)
    qs = _prep(queries, vec_col, id_col, names=_QUERY)
    return _rerank(corpus.join(F.broadcast(cand), "nid")
                   .join(F.broadcast(qs), "qid"), k)
