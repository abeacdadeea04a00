"""Approximate-nearest-neighbor search over embedding columns.

Three tiers, same output shape (qid, nid, cosine, rank):

- brute_force_topk:  exact baseline — broadcast the (small) query set,
                     codegen'd wide dot products, per-query top-k via
                     window. Cost O(N·Q·d), embarrassingly parallel, no
                     shuffle until the final top-k.
- lsh_topk:          random-hyperplane LSH — b sign-bits bucket the corpus;
                     queries probe their own bucket (+ optional multiprobe
                     by flipping bits); exact rerank inside buckets. The
                     100TB path: candidate generation is an equi-join on
                     bucket id.
- ivf_topk:          IVF — KMeans centroids (pyspark.ml, trained on a
                     sample), assign each vector to its cell, probe the
                     nprobe nearest cells per query, exact rerank inside.

Each tier keeps only its candidate stage. Corpus and queries go through
one normalize step (_prep) and every candidate pair through one verify
step (_rerank: the _cosine score, then the per-query top k), which
pq.pq_topk shares; dedup's embedding_cosine_pairs and semantic_dedup
use the same _prep and _cosine.

All distance math is an index-ordered array fold seeded with 0.0 —
_dot_wide for dot products, _sq_l2 for squared L2: the same
left-associative sum (a[0]*b[0] + a[1]*b[1] + ...) the DuckDB oracles
write out term by term, so results are bitwise-reproducible, with none
of the codegen width cliff of the unrolled expression text (see
_dot_wide). Hyperplanes are a deterministic seeded family so results
replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..local_rows import local_df


def _as_double_vec(col) -> "F.Column":
    return F.transform(col, lambda x: x.cast("double"))


def _dot_wide(a: str, b: str) -> "F.Column":
    # Index-ordered dot product as ONE array fold (one F.expr parse —
    # building expressions operator-by-operator costs a py4j round trip
    # each, measured ~8s of driver time for the 6-plane LSH plan).
    #
    # Why a fold and not the unrolled "a[0]*b[0] + ..." string this
    # used to be: Spark 4.1 whole-stage codegen silently bails on the
    # wide chained expression and the stage runs INTERPRETED — measured
    # on this box at dim=64: 17.3s vs 4.8s for this fold over 6.4M rows
    # x 32 threads, with a 36x per-row cliff between 32 and 64 unrolled
    # terms (0.35µs -> 12.8µs/row). The fold loops inside ArrayData
    # with no per-term expression-tree overhead and has no width cliff.
    #
    # Bitwise: same left-associative sum, seeded 0.0 — (0.0 + t) == t
    # for every double except -0.0 (normalized to +0.0, equal-comparing
    # and only reachable when every partial sum is a signed zero), so
    # values still match the unrolled sums the DuckDB oracles replay.
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)")


def _sq_l2(a, b) -> "F.Column":
    """Squared L2 distance of two double arrays (column names or
    Columns, e.g. an F.array of literal centroid coordinates) as one
    index-ordered fold seeded with 0.0: the same left-associative sum
    the DuckDB oracles write out term by term ((0.0 + t) == t for every
    t >= 0). The one Spark-side distance kernel of clustering,
    similarity and pq, the role _dot_wide plays for dot products."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, t: acc + t)


def _lit_vec(c) -> "F.Column":
    """A literal double array (one centroid) for _sq_l2."""
    return F.array(*[F.lit(float(x)) for x in c])


def _fold_dot_literal(vec: str, coeffs) -> str:
    """The SAME fold template as _dot_wide, against a LITERAL
    coefficient array — the ONE definition of the exactness-critical
    SQL string (the DuckDB oracles replay its left-associative
    0.0-seeded sums bitwise), shared by random_projection and the LSH
    plane projections so the two can never drift apart."""
    return ("aggregate(zip_with(" + vec + ", array("
            + ", ".join(repr(float(c)) for c in coeffs)
            + "), (x, y) -> x * y), CAST(0.0 AS DOUBLE), "
            "(acc, t) -> acc + t)")


def _dim_of(df: DataFrame, vec_col: str) -> int:
    row = df.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(f"cannot infer dim: {vec_col} has no rows")
    return len(row[0])


_QUERY = ("qid", "qv", "qnrm")


def _prep(df: DataFrame, vec_col: str, id_col: str, *keep,
          names: tuple = ("nid", "v", "nrm"),
          nonzero: bool = True) -> DataFrame:
    """The one normalize step of every vector operator, corpus side and
    query side (``names=_QUERY``): (id, *keep, v, nrm) under ``names``,
    ``v`` the vector cast to double and ``nrm`` its L2 norm, keeping
    only rows with nrm > 0 (NULL and all-zero vectors have no cosine).
    ``nonzero=False`` keeps them, for callers that still return those
    rows."""
    nid, v, nrm = names
    out = df.select(F.col(id_col).alias(nid), *keep,
                    _as_double_vec(F.col(vec_col)).alias(v))
    out = out.withColumn(nrm, F.sqrt(_dot_wide(v, v)))
    return out.filter(F.col(nrm) > 0) if nonzero else out


def _cosine(a: str = "v", b: str = "qv", na: str = "nrm",
            nb: str = "qnrm") -> "F.Column":
    """Cosine of two prepped vectors: the one exact score of every
    operator's verify step."""
    return _dot_wide(a, b) / (F.col(na) * F.col(nb))


def _rerank(cands: DataFrame, k: int) -> DataFrame:
    """The verify step of the top-k operators: score each candidate
    (corpus, query) pair with _cosine and keep the k best per query,
    rank ties broken by neighbor id."""
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), "nid")
    return (cands.withColumn("cosine", _cosine())
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "nid", "cosine", "rank"))


def brute_force_topk(df: DataFrame, queries: DataFrame, k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     q_vec_col: str | None = None,
                     q_id_col: str | None = None) -> DataFrame:
    """Exact cosine top-k: broadcast queries × corpus scan, window top-k.
    Rank ties broken by neighbor id for determinism."""
    corpus = _prep(df, vec_col, id_col)
    qs = _prep(queries, q_vec_col or vec_col, q_id_col or id_col,
               names=_QUERY)
    return _rerank(corpus.join(F.broadcast(qs),
                               F.col("nid") != F.col("qid")), k)


def _hyperplanes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG, no numpy RNG state)."""
    planes = []
    state = seed
    for _ in range(nbits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) \
                % (1 << 64)
            row.append(((state >> 33) / float(1 << 31)) - 1.0)
        planes.append(row)
    return planes


def _bucket_expr(vec: str, planes: list[list[float]]) -> "F.Column":
    """Sign-bit bucket id from a fixed hyperplane family: bit_i =
    (Σ_j v[j] * p_i[j]) > 0. Each projection is one array fold against
    the literal plane (same left-assoc sums as the old unrolled
    strings, bitwise-equal, none of the wide-expression interpretation
    cliff — see _dot_wide), all in ONE F.expr parse (driver-latency);
    bits are disjoint so summing the CASEs equals OR-ing them."""
    terms = []
    for i, p in enumerate(planes):
        proj = _fold_dot_literal(vec, p)
        terms.append(f"(CASE WHEN ({proj}) > 0 THEN {1 << i} ELSE 0 END)")
    return F.expr(" + ".join(terms))


def lsh_topk(df: DataFrame, queries: DataFrame, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             nbits: int = 8, dim: int | None = None,
             multiprobe: int = 1) -> DataFrame:
    """Random-hyperplane LSH ANN: equi-join on bucket id, exact rerank
    inside buckets. multiprobe=m additionally probes buckets at hamming
    distance 1 for the first m bit positions (recall knob)."""
    planes = _hyperplanes(dim or _dim_of(df, vec_col), nbits)
    corpus = _prep(df, vec_col, id_col) \
        .withColumn("bk", _bucket_expr("v", planes))
    qs = _prep(queries, vec_col, id_col, names=_QUERY) \
        .withColumn("bk0", _bucket_expr("qv", planes))
    probes = [F.col("bk0")]
    for i in range(max(0, multiprobe - 1)):
        probes.append(F.col("bk0").bitwiseXOR(F.lit(1 << i)))
    qs = qs.withColumn("bk", F.explode(F.array(*probes)))
    return _rerank(corpus.join(qs, on="bk")
                   .filter(F.col("nid") != F.col("qid")), k)


def _auto_ncells(n: int, cell_target: int) -> int:
    """~N/cell_target cells with a floor of 16 and two CAPS, because
    cell count trades three costs against each other:

    - too FEW cells (a fixed small ncells): each probe scans N/ncells
      vectors and the cell equi-join key has engineered skew — the
      reason auto-sizing exists;
    - too MANY cells: assignment work is O(ncells) PER VECTOR (every
      vector computes a distance to every centroid), so ~N/cell_target
      uncapped makes index build O(N²/cell_target) — a quadratic
      cliff; the 4·√N cap keeps build work at the standard IVF
      O(N^1.5) (the FAISS sizing rule);
    - the hard 65 536 cap bounds the broadcast centroid table
      (≤ ~34 MB at dim 64) and the per-vector fold. Corpora big
      enough to hit it (≳270 M vectors at the default cell_target)
      are past what a flat coarse quantizer should index anyway —
      train centers offline (or hierarchically) and pass ``centers=``,
      accepting candidate sets above cell_target per probe."""
    import math
    cells = -(-n // cell_target)
    sqrt_cap = 4 * max(1, math.isqrt(n))
    return max(16, min(cells, max(16, sqrt_cap), 65536))


def ivf_topk(df: DataFrame, queries: DataFrame, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             ncells: int | None = None, nprobe: int = 4,
             sample_fraction: float = 1.0, seed: int = 42,
             dim: int | None = None,
             centers: list[list[float]] | None = None,
             max_iter: int = 8, cell_target: int = 4096) -> DataFrame:
    """IVF ANN: KMeans cells (pyspark.ml), probe nprobe nearest cells.
    Trains on a sample; assignment + rerank are expression-level.
    Pass ``centers=`` (k×dim floats, e.g. a previous call's training
    or clustering.kmeans_train output) to SKIP the MLlib fit entirely —
    the production shape: train the coarse quantizer once per corpus
    snapshot, reuse it for every query batch. ``dim`` only validates
    ``centers=`` (when omitted, one driver-side ``.first()`` reads it
    off the corpus). With EXPLICIT ncells and no centers, the fit runs
    over sample_fraction of the corpus (default 1.0 — kept for
    backward-compatible determinism): on a large corpus pass
    ``sample_fraction≈256·ncells/N`` yourself, the standard
    points-per-centroid rule the auto path applies for you.

    ``ncells=None`` (the default) AUTO-SIZES to ~N/``cell_target``
    (floor 16, capped at 4·√N and 65 536 — see ``_auto_ncells`` for
    the three-way cost trade): a fixed cell count is a local-scale
    constant — at corpus scale it makes the cell equi-join key a
    16-value skew machine and each probe scans N/16 vectors.
    Auto-sizing keeps the per-probe candidate set ~``cell_target``
    until the caps bind (one column-pruned count() when neither
    ncells nor centers is given).

    The corpus is assigned with clustering.kmeans_assign — broadcast
    the centroid table, one _sq_l2 fold per (vector, cell),
    min(struct(d, cell)) per vector (map-side partial agg, no cliff at
    any ncells) — and each query takes its nprobe nearest cells with
    the same broadcast and a small window. Callers that assign cells
    themselves (clustering.kmeans_assign_ivf, O(√ncells) per vector)
    use semantic_dedup(cell_col=) or their own equi-join."""
    n_corpus = None
    if ncells is None:
        if centers is not None:
            ncells = len(centers)
        else:
            n_corpus = df.count()
            ncells = _auto_ncells(n_corpus, cell_target)
            # the corpus size is in hand only on this auto path, so
            # also bound the FIT: ~256 training points per centroid
            # (the standard coarse-quantizer rule) — fitting k-means
            # on the FULL corpus is the other half of the quadratic
            # cliff the ncells caps close
            if sample_fraction >= 1.0:
                target = 256 * ncells
                if n_corpus > target:
                    sample_fraction = target / n_corpus
    corpus = _prep(df, vec_col, id_col)
    if centers is None:
        try:
            from pyspark.ml.clustering import KMeans
            from pyspark.ml.functions import array_to_vector
        except ImportError as ex:  # pragma: no cover
            raise NotImplementedError(f"pyspark.ml unavailable: {ex}")
        train = corpus if sample_fraction >= 1.0 else \
            corpus.sample(fraction=sample_fraction, seed=seed)
        # a COARSE quantizer does not need convergence — cells only
        # partition the corpus for probing, and recall comes from
        # nprobe, so a few Lloyd rounds past kmeans|| init suffice
        # (MLlib's default 20 rounds is mostly per-job overhead here)
        km = KMeans(k=ncells, seed=seed, featuresCol="feat",
                    maxIter=max_iter)
        model = km.fit(train.withColumn("feat", array_to_vector("v")))
        centers = [[float(x) for x in c] for c in model.clusterCenters()]
    else:
        if not centers:
            raise ValueError("centers must be a non-empty list")
        dim = dim or _dim_of(df, vec_col)
        bad = [len(c) for c in centers if len(c) != dim]
        if bad:
            raise ValueError(
                f"every center must have dim={dim}; got vector(s) of "
                f"length {sorted(set(bad))}")
        # nprobe > len(centers) degrades gracefully (the probe slice
        # just returns every cell), exactly like the trained path with
        # nprobe > ncells — train-once/reuse parity

    from .clustering import kmeans_assign
    qs = _prep(queries, vec_col, id_col, names=_QUERY)
    # corpus: broadcast-join argmin (map-side partial agg — the only
    # exchange hashes nid, never the 16-value cell id); queries: same
    # broadcast with a per-qid window for the nprobe-nearest cells —
    # query sets are small by contract
    cells = kmeans_assign(df, centers, vec_col, id_col) \
        .select(F.col(id_col).alias("nid"), "cell")
    assigned = corpus.join(cells, on="nid")
    cents = local_df(
        df.sparkSession, [(ci, c) for ci, c in enumerate(centers)],
        "cell int, c array<double>")
    wq = W.partitionBy("qid").orderBy("__qd", "cell")
    qs = (qs.join(F.broadcast(cents))
          .withColumn("__qd", _sq_l2("qv", "c"))
          .withColumn("__pr", F.row_number().over(wq))
          .filter(F.col("__pr") <= nprobe)
          .drop("c", "__qd", "__pr"))
    return _rerank(assigned.join(qs, on="cell")
                   .filter(F.col("nid") != F.col("qid")), k)
