"""Parity reference for the nearest-centroid operators: the unrolled
expression-text argmins that clustering.kmeans_assign/kmeans_means,
similarity.ivf_topk and pq.pq_encode used to generate — one
``(v[j] - c_j) * (v[j] - c_j)`` term per coordinate, array_min over
``named_struct('d', ..., 'cell', ...)`` entries. The operators now fold
every distance with similarity._sq_l2; tests pin the fold against this
text bit for bit."""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigslice_spark.operators.similarity import (_QUERY, _as_double_vec,
                                                 _fold_dot_literal, _prep,
                                                 _rerank)


def cell_dists(centroids: list[list[float]], v_col: str) -> F.Column:
    """array<struct<d, cell>> of squared L2 from ``v_col`` to each
    centroid, written out term by term in one expression."""
    dim = len(centroids[0])
    entries = []
    for ci, c in enumerate(centroids):
        d = " + ".join(
            f"({v_col}[{j}] - ({c[j]!r})) * ({v_col}[{j}] - ({c[j]!r}))"
            for j in range(dim))
        entries.append(f"named_struct('d', ({d}), 'cell', {ci})")
    return F.expr("array(" + ", ".join(entries) + ")")


def kmeans_assign_unrolled(df: DataFrame, centroids: list[list[float]],
                           vec_col: str = "embedding",
                           id_col: str = "vec_id") -> DataFrame:
    v = df.select(F.col(id_col),
                  _as_double_vec(F.col(vec_col)).alias("__v__"))
    arg = F.array_min(cell_dists(centroids, "__v__"))
    return v.select(id_col, arg["cell"].cast("int").alias("cell"),
                    arg["d"].alias("dist"))


def kmeans_means_unrolled(df: DataFrame, centroids: list[list[float]],
                          vec_col: str = "embedding",
                          scale: int = 12) -> DataFrame:
    aggs = [F.count(F.lit(1)).alias("n")]
    for m in range(len(centroids[0])):
        aggs.append(
            (F.sum(F.col("__v__")[m].cast(f"decimal(38,{scale})"))
             .cast("double") / F.count(F.lit(1))).alias(f"m{m}"))
    v = df.select(_as_double_vec(F.col(vec_col)).alias("__v__"))
    arg = F.array_min(cell_dists(centroids, "__v__"))
    return (v.select(arg["cell"].cast("int").alias("cell"), "__v__")
            .groupBy("cell").agg(*aggs))


def ivf_topk_unrolled(df: DataFrame, queries: DataFrame,
                      centers: list[list[float]], k: int, nprobe: int,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """ivf_topk with the corpus cells and the query probe lists taken
    from the unrolled distance array (array_min / array_sort)."""
    corpus = _prep(df, vec_col, id_col)
    qs = _prep(queries, vec_col, id_col, names=_QUERY)
    assigned = corpus.withColumn(
        "cell", F.array_min(cell_dists(centers, "v"))["cell"])
    qs = (qs.withColumn("cells", F.slice(
              F.array_sort(cell_dists(centers, "qv")), 1, nprobe))
          .withColumn("cell", F.explode(
              F.transform("cells", lambda s: s["cell"])))
          .drop("cells"))
    return _rerank(assigned.join(qs, on="cell")
                   .filter(F.col("nid") != F.col("qid")), k)


def pq_encode_unrolled(df: DataFrame, codebooks: list, dim: int,
                       vec_col: str = "embedding",
                       id_col: str = "vec_id") -> DataFrame:
    """(nid, codes): per subspace, least() over (||c||^2 - 2<x_j, c>,
    code) structs — ties to the smaller code."""
    from bigslice_spark.operators.pq import _normed
    m = len(codebooks)
    dsub = dim // m

    def code(j: int, book) -> F.Column:
        sl = f"slice(v, {j * dsub + 1}, {dsub})"
        cands = []
        for c, cent in enumerate(book):
            d = (F.expr(_fold_dot_literal(sl, cent)) * F.lit(-2.0)
                 + F.lit(float(sum(x * x for x in cent))))
            cands.append(F.struct(d.alias("d"), F.lit(c).alias("c")))
        return F.least(*cands).getField("c")

    unit = _normed(df, vec_col, id_col)
    return unit.select("nid", F.array(*[code(j, codebooks[j])
                                        for j in range(m)])
                       .alias("codes"))
