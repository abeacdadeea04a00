"""Deterministic distributed clustering primitives.

similarity.ivf_topk already uses pyspark.ml KMeans for index cells; its
oracle is necessarily a weak recall bound (ml's float accumulation is
not engine-reproducible). This module provides the complementary piece:
a SINGLE Lloyd iteration built from deterministic literal centroids and
exact arithmetic, so the full assign→update step is value-checkable
bit-for-bit against a SQL oracle — and composable into an iterative
driver loop (collect k·d doubles per iteration, nothing else).

Scale shape: assignment broadcasts the k centroids, folds one squared
L2 per (vector, centroid) with similarity._sq_l2 and keeps
min(struct(d, cell)) per vector — the partial aggregate collapses the k
candidates map-side, so the only assignment exchange is n 1-row
groups; the update is one hash aggregation on the cell id. Means use
decimal-exact sums (queries.py float conventions) so results don't
depend on partial-aggregation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..local_rows import local_df
from .similarity import _as_double_vec, _hyperplanes, _lit_vec, _sq_l2


def seed_centroids(k: int, dim: int, seed: int = 7,
                   scale: float = 0.125) -> list[list[float]]:
    """Deterministic pseudo-random centroids in [-scale, scale]^dim (the
    LCG hyperplane family): data-independent, so no driver-side sample
    or collect is needed to start the loop. The default scale suits
    unit-normalized embeddings (coords ~±0.1): centroid norms land near
    the data shell, so the initial Voronoi cells actually partition the
    cloud instead of funneling it into one corner cell."""
    return [[x * scale for x in row] for row in _hyperplanes(dim, k, seed=seed)]


def _vecs(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    return df.select(F.col(id_col),
                     _as_double_vec(F.col(vec_col)).alias("__v__"))


def _nearest(v: DataFrame, cents: DataFrame, id_col: str,
             on: str | None = None) -> DataFrame:
    """(id, cell, dist) of the nearest centroid per vector: broadcast
    the centroid table (cell, c, [on]) onto the (id, __v__) rows, one
    _sq_l2 fold per candidate, min(struct(d, cell)) per id — ties go
    to the lower cell, and the partial aggregation collapses the
    candidate rows map-side, so the only exchange is n 1-row groups."""
    best = F.min(F.struct(F.col("__d").alias("d"), "cell"))
    return (v.join(F.broadcast(cents), on=on)
            .withColumn("__d", _sq_l2("__v__", "c"))
            .groupBy(id_col)
            .agg(best.alias("__best"))
            .select(id_col,
                    F.col("__best.cell").cast("int").alias("cell"),
                    F.col("__best.d").alias("dist")))


def kmeans_assign(df: DataFrame, centroids: list[list[float]],
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Assign each vector to its nearest centroid (squared L2, argmin;
    ties break toward the lower cell id) → (id, cell, dist).

    The k centroids are a broadcast table; each distance is one
    index-ordered _sq_l2 fold (the left-associative sum the oracles
    replay, bitwise), and min(struct(d, cell)) per vector is partially
    aggregated map-side, so the only exchange is n 1-row groups. No
    generated-code width limit at any k·dim."""
    cents = local_df(
        df.sparkSession, [(ci, c) for ci, c in enumerate(centroids)],
        "cell int, c array<double>")
    return _nearest(_vecs(df, vec_col, id_col), cents, id_col)


def coarse_membership(centroids: list[list[float]],
                      coarse: list[list[float]]) -> list[int]:
    """Group index of each centroid: argmin squared-L2 to the coarse
    seeds, ties toward the lower group id. Pure driver-side arithmetic
    over k × k_coarse floats — metadata-scale, deterministic, and
    replayed identically when an oracle builder calls it to inline the
    membership as literals."""
    def d2(a: list[float], b: list[float]) -> float:
        s = 0.0
        for x, y in zip(a, b):
            s += (x - y) * (x - y)
        return s
    return [min(range(len(coarse)),
                key=lambda c: (d2(cent, coarse[c]), c))
            for cent in centroids]


def kmeans_assign_ivf(df: DataFrame, centroids: list[list[float]],
                      vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      nprobe: int = 2,
                      coarse: list[list[float]] | None = None,
                      k_coarse: int | None = None,
                      coarse_seed: int = 101) -> DataFrame:
    """Two-level (IVF-style) nearest-centroid assignment → (id, cell,
    dist): each vector finds its ``nprobe`` nearest COARSE groups
    (~√k data-independent seeds), then argmins over only those
    groups' member centroids.

    This is the hierarchical-assignment scale path the flat
    kmeans_assign cannot provide: flat assignment is O(k) per vector,
    and with the IVF sizing k ~ N/cell_target that makes index build
    O(N²/cell_target) — the quadratic cliff _auto_ncells documents.
    Here per-vector work is O(√k + nprobe·k/√k) = O(√k): at sf1.0
    (600k vectors, k=2344) candidate rows drop 1.4B → 58M.

    APPROXIMATE by contract: the true nearest centroid is found iff it
    belongs to one of the probed groups (the standard IVF guarantee).
    Everything is deterministic — seeded coarse cells, left-assoc
    distance folds, (d, id) tie-breaks at both levels — so a fixed
    (centroids, coarse, nprobe) replays bitwise in SQL. Vectors whose
    probed groups are all empty of members are dropped (possible only
    when k_coarse is absurdly oversized for k).

    Scale shape: one narrow projection computing the k_coarse struct
    array of _sq_l2 folds + native array_sort (no shuffle), explode to
    nprobe rows, then kmeans_assign's broadcast fold (_nearest) joined
    on the group id (k·(dim+2) doubles) — the only exchange is n 1-row
    groups."""
    k, dim = len(centroids), len(centroids[0])
    if coarse is None:
        if k_coarse is None:
            import math
            k_coarse = max(2, math.isqrt(k))
        coarse = seed_centroids(k_coarse, dim, seed=coarse_seed)
    member = coarse_membership(centroids, coarse)
    v = _vecs(df, vec_col, id_col)
    # stage 1: struct(d, g) per coarse seed; array_sort orders by the
    # struct fields (d, then g) — the tie-break — and slice keeps the
    # nprobe nearest groups
    cds = F.array(*[F.struct(_sq_l2("__v__", _lit_vec(c)).alias("d"),
                             F.lit(g).alias("g"))
                    for g, c in enumerate(coarse)])
    pv = (v.select(id_col, "__v__",
                   F.explode(F.slice(F.array_sort(cds), 1, nprobe))
                   .alias("__p__"))
          .select(id_col, "__v__", F.col("__p__.g").alias("g")))
    # stage 2: candidates = member centroids of the probed groups
    cents = local_df(
        df.sparkSession,
        [(ci, member[ci], c) for ci, c in enumerate(centroids)],
        "cell int, g int, c array<double>")
    return _nearest(pv, cents, id_col, on="g")


def kmeans_update(df: DataFrame, centroids: list[list[float]],
                  vec_col: str = "embedding",
                  id_col: str = "vec_id",
                  mean_dims: int = 4,
                  scale: int = 12) -> DataFrame:
    """One Lloyd update: per-cell count + exact-decimal means of the
    first ``mean_dims`` coordinates as scalar columns m0..mK (full-width
    means work identically; the registry entry keeps the output narrow
    for the driver's hash compare). Input floats are exact in ≤7
    significant digits, so decimal(38,scale) sums are exact and the
    mean double = exact_sum / count is bitwise engine-neutral. A
    projection of :func:`kmeans_means`; column pruning drops the sums
    of the unselected coordinates."""
    return kmeans_means(df, centroids, vec_col, id_col, scale).select(
        "cell", "n", *[f"m{m}" for m in range(mean_dims)])


def kmeans_means(df: DataFrame, centroids: list[list[float]],
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 scale: int = 12) -> DataFrame:
    """Full-width Lloyd update: (cell, n, m0..m{dim-1}) per non-empty
    cell, means decimal-exact (order-independent, engine-bitwise).
    Assignment is kmeans_assign's broadcast fold, joined back to the
    vectors on ``id_col`` before the per-cell aggregation."""
    dim = len(centroids[0])
    aggs = [F.count(F.lit(1)).alias("n")]
    for m in range(dim):
        aggs.append(
            (F.sum(F.col("__v__")[m].cast(f"decimal(38,{scale})"))
             .cast("double") / F.count(F.lit(1))).alias(f"m{m}"))
    cells = kmeans_assign(df, centroids, vec_col, id_col) \
        .select(id_col, "cell")
    return (_vecs(df, vec_col, id_col).join(cells, on=id_col)
            .groupBy("cell").agg(*aggs))


def kmeans_train(df: DataFrame, k: int = 8, dim: int = 64,
                 iters: int = 5, vec_col: str = "embedding",
                 id_col: str = "vec_id", seed: int = 7,
                 scale: int = 12) -> list[list[float]]:
    """Iterative Lloyd k-means with deterministic everything: seeded
    data-independent init, exact-decimal means, (d, cell) tie-break —
    the same run on any engine/partitioning yields bitwise-identical
    centroids. Cells that go empty keep their previous centroid.

    Driver traffic per iteration is k·dim doubles (the new centroids);
    the corpus-side cost is one scan + one k-row shuffle per iteration
    — the canonical distributed k-means loop, preferred over
    pyspark.ml when reproducibility matters (ml's float accumulation
    is partition-order dependent; see similarity_ivf's weak oracle).
    """
    cents = seed_centroids(k, dim, seed=seed)
    for _ in range(iters):
        rows = {r["cell"]: r
                for r in kmeans_means(df, cents, vec_col, id_col,
                                      scale).collect()}
        cents = [[rows[c][f"m{j}"] for j in range(dim)]
                 if c in rows else cents[c] for c in range(k)]
    return cents
