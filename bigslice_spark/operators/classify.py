"""Linear model scoring over hashed bag-of-words features — the
fasttext-style quality-classifier pass every LLM data pipeline runs
(score each document with a trained linear model, filter on the
score). Training happens offline; this operator is the 100 TB
INFERENCE path. ``nb_train``/``nb_classify`` below add the IN-ENGINE
training leg: a multinomial Naive Bayes text classifier whose train
pass is one explode + two aggregations and whose math is
exactly-specified (the lm_quality contract), so the full
train→classify loop is DuckDB-oracle-able.

Shape: explode tokens → feature id = hash(token) mod dim → broadcast
hash join against the (feature, weight) model → per-document sum +
count → score = bias + Σw / n_tokens (mean pooling, fasttext's
default). The model is a few thousand rows and ALWAYS broadcasts; the
corpus meets it map-side, so the operator's only exchange is the final
per-document aggregation — and map-side partial aggregation collapses
that to ~one row per document before the shuffle (gated in
tests/test_plans.py).

Everything is codegen: the token hash is the same xxhash64 /
md5-portable pair as the dedup family, so with ``portable=True`` the
whole scoring pass replays bit-identically in ANSI SQL. (For the
oracle, exactness also needs order-independent double sums — give the
model dyadic-rational weights, e.g. k/1024, and Σw is exact in IEEE
double regardless of reduction order; see the ``classify_score``
registry entry.)

Reference: no analog in bigslice; part of the LLM-pipeline surface
this engine adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _tok_hash31
from .text import tokens


def hashed_features(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", dim: int = 1024,
                    portable: bool = False) -> DataFrame:
    """(id_col, feature): one row per token OCCURRENCE (bag semantics —
    a token appearing 3× contributes its feature 3×)."""
    toks = df.select(F.col(id_col),
                     F.explode(tokens(text_col)).alias("tok"))
    return toks.select(id_col,
                       F.pmod(_tok_hash31(portable), F.lit(dim))
                       .cast("long").alias("feature"))


def score_documents(df: DataFrame, weights: DataFrame,
                    text_col: str = "text", id_col: str = "doc_id",
                    dim: int = 1024, bias: float = 0.0,
                    link: str | None = None,
                    portable: bool = False) -> DataFrame:
    """(id_col, n_tokens, score): mean-pooled linear score per document.

    ``weights`` is a (feature: long, weight: double) model — broadcast,
    never shuffled. Tokens hashing to a feature absent from the model
    contribute weight 0 but still count toward ``n_tokens`` (mean
    pooling divides by ALL tokens, matching fasttext). ``link`` None
    returns the raw logit; ``"logistic"`` applies the sigmoid (keep
    None when replaying against an oracle — transcendental libm calls
    are not bit-stable across engines)."""
    feats = hashed_features(df, text_col, id_col, dim, portable)
    w = F.broadcast(weights.select(F.col("feature"),
                                   F.col("weight").cast("double")))
    per = (feats.join(w, on="feature", how="left")
           .groupBy(id_col)
           .agg(F.sum(F.coalesce(F.col("weight"), F.lit(0.0)))
                .alias("__sw"),
                F.count(F.lit(1)).alias("n_tokens")))
    score = F.lit(float(bias)) + F.col("__sw") / F.col("n_tokens")
    if link == "logistic":
        score = F.lit(1.0) / (F.lit(1.0) + F.exp(-score))
    elif link is not None:
        raise ValueError(f"unknown link: {link}")
    return per.select(id_col, "n_tokens", score.alias("score"))


def nb_train(df: DataFrame, label_col: str = "label",
             text_col: str = "text"):
    """Multinomial Naive Bayes trainer — the in-engine analog of
    training the corpus quality/domain classifier (CCNet-style: label
    a seed set, train, score everything). Fully distributed and
    integer-exact: one token explode feeds two map-side-combined
    aggregations; every output is counts.

    Returns three DataFrames (never collected — model stays cluster-
    side at any vocabulary size):
      word_counts  (label, w, cnt)        per-class token counts
      class_stats  (label, n_docs, n_tokens)
      globals      (N, V) 1 row           corpus docs + train vocab
    """
    tok = df.select(F.col(label_col).alias("label"),
                    F.explode(tokens(text_col)).alias("w"))
    wc = (tok.groupBy("label", "w")
          .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    cls = (df.groupBy(F.col(label_col).alias("label"))
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    ctok = (tok.groupBy("label")
            .agg(F.count(F.lit(1)).cast("long").alias("n_tokens")))
    class_stats = (cls.join(ctok, on="label", how="left")
                   .na.fill({"n_tokens": 0}))
    glob = (df.agg(F.count(F.lit(1)).cast("long").alias("N"))
            .crossJoin(tok.agg(F.count_distinct("w").cast("long")
                               .alias("V"))))
    return wc, class_stats, glob


def nb_classify(df: DataFrame, word_counts: DataFrame,
                class_stats: DataFrame, glob: DataFrame,
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(id_col, pred, n_words) for every document with ≥1 token:
    argmax_c [ ln(n_docs_c / N)
               + Σ_w cnt_dw · ln((cnt_cw + 1) / (n_tokens_c + V)) ]
    — add-one-smoothed multinomial NB. Exactly-specified (the
    lm_quality contract): every ``ln`` argument is an exact rational
    of integer counts, per-term addends are ``decimal(38,12)``-cast
    so per-class sums are order-independent, and the argmax breaks
    ties toward the smallest label — bit-replayable in ANSI SQL.

    Scale shape: the corpus aggregates to (doc, w, cnt_dw) with
    map-side combine, then ONE equi-join on the word key against the
    per-word class-count MAP (vocab-scale, one row per word —
    map_from_entries over word_counts), and only AFTER that join
    fans out x C classes via a broadcast of class_stats: the shuffle
    never carries the xC expansion. The argmax window partitions by
    document over exactly C rows — no skew at any corpus size.

    Training and classifying the same corpus composes as
    ``nb_classify(df, *nb_train(df))``: its four token explodes share
    no work, yet with the codegen whitespace ``tokens()`` that is
    cheaper than materializing a per-document word-count relation
    for them to share (measured: that shape lost all 4 interleaved
    sf1 A/B pairs and was a wash at sf0.1)."""
    dw = (df.select(F.col(id_col),
                    F.explode(tokens(text_col)).alias("w"))
          .groupBy(id_col, "w")
          .agg(F.count(F.lit(1)).cast("long").alias("dw")))
    wcm = (word_counts.groupBy("w")
           .agg(F.map_from_entries(
               F.sort_array(F.collect_list(F.struct("label", "cnt"))))
               .alias("m")))
    side = (F.broadcast(class_stats.crossJoin(glob)))
    expanded = (dw.join(wcm, on="w", how="left")
                .crossJoin(side))
    lp = F.log((F.coalesce(F.element_at("m", F.col("label")),
                           F.lit(0)) + F.lit(1)).cast("double")
               / (F.col("n_tokens") + F.col("V")).cast("double"))
    term = (F.col("dw").cast("double") * lp).cast("decimal(38,12)")
    per = (expanded.groupBy(id_col, "label")
           .agg(F.sum(term).alias("s"),
                F.sum("dw").cast("long").alias("n_words")))
    prior = (class_stats.crossJoin(glob)
             .select("label",
                     F.log(F.col("n_docs").cast("double")
                           / F.col("N").cast("double"))
                     .cast("decimal(38,12)").alias("plp")))
    from pyspark.sql import Window
    scored = (per.join(F.broadcast(prior), on="label")
              .select(id_col, "label", "n_words",
                      (F.col("s") + F.col("plp")).alias("score")))
    rn = F.row_number().over(
        Window.partitionBy(id_col)
        .orderBy(F.col("score").desc(), F.col("label")))
    return (scored.withColumn("__rn", rn).filter(F.col("__rn") == 1)
            .select(F.col(id_col), F.col("label").alias("pred"),
                    "n_words"))


def demo_weights(spark, dim: int = 1024) -> DataFrame:
    """A deterministic dyadic-rational model for tests and oracle
    replay: weight_j = (md5-derived hash of str(j) mod 2001 − 1000) /
    1024 ∈ [−0.977, 0.977], exactly representable in double."""
    r = spark.range(dim).toDF("feature")
    h = F.conv(F.substring(F.md5(F.col("feature").cast("string")), 1, 15),
               16, 10).cast("long")
    return r.select("feature",
                    ((F.pmod(h, F.lit(2001)) - 1000) / F.lit(1024.0))
                    .alias("weight"))


def eval_thresholds(df: DataFrame, score_col: str = "score",
                    label_col: str = "label",
                    thresholds: tuple = (0.3, 0.5, 0.7)) -> DataFrame:
    """Classifier PR battery: one row per threshold with exact integer
    confusion counts (predicted positive = score >= t) and
    precision/recall/f1 derived from those ints — both engines divide
    the same integers, so the doubles replay bitwise. ONE conditional
    aggregation pass over the scores (no per-threshold scans): the
    data_checks shape. Empty classes yield NULL ratios (0/0), never a
    fake 0."""
    s, y = F.col(score_col), F.col(label_col)
    aggs = []
    for i, t in enumerate(thresholds):
        pred = s >= F.lit(float(t))
        aggs += [
            F.sum((pred & (y == 1)).cast("long")).alias(f"tp{i}"),
            F.sum((pred & (y == 0)).cast("long")).alias(f"fp{i}"),
            F.sum((~pred & (y == 1)).cast("long")).alias(f"fn{i}"),
            F.sum((~pred & (y == 0)).cast("long")).alias(f"tn{i}"),
        ]
    g = df.agg(*aggs)
    rows = []
    for i, t in enumerate(thresholds):
        tp, fp = F.col(f"tp{i}"), F.col(f"fp{i}")
        fn, tn = F.col(f"fn{i}"), F.col(f"tn{i}")
        # explicit 0-denominator guards: ANSI mode (Spark 4 default)
        # raises on x/0, and the contract is NULL for 0/0
        prec = F.when(tp + fp > 0,
                      tp.cast("double") / (tp + fp).cast("double"))
        rec = F.when(tp + fn > 0,
                     tp.cast("double") / (tp + fn).cast("double"))
        f1 = F.when(2 * tp + fp + fn > 0,
                    F.lit(2.0) * tp.cast("double")
                    / (F.lit(2.0) * tp + fp + fn).cast("double"))
        rows.append(F.struct(
            F.lit(float(t)).alias("threshold"),
            tp.alias("tp"), fp.alias("fp"), fn.alias("fn"),
            tn.alias("tn"), prec.alias("precision"),
            rec.alias("recall"), f1.alias("f1")))
    return (g.select(F.explode(F.array(*rows)).alias("r"))
            .select("r.*"))


def exact_auc(df: DataFrame, score_col: str = "score",
              label_col: str = "label") -> DataFrame:
    """Exact ROC-AUC as an INTEGER rational via the tie-aware
    Mann-Whitney statistic: with midranks over ascending score,
    AUC = (Σ_pos midrank − n_pos(n_pos+1)/2) / (n_pos·n_neg).
    Midranks are kept doubled (2·midrank = 2·rank + ties − 1, an
    integer), so the returned ``auc_num``/``auc_den`` are exact int64
    and ``auc`` is the one engine-identical division. One global rank
    over DISTINCT scores (two-level: rank the distinct-score relation,
    join back — never a single-partition window over the corpus) plus
    one aggregation."""
    from .packing import global_prefix_sum
    s, y = F.col(score_col), F.col(label_col)
    per_score = (df.groupBy(s.alias("__s"))
                 .agg(F.count(F.lit(1)).alias("__cnt"),
                      F.sum((y == 1).cast("long")).alias("__np")))
    # running count of rows BEFORE each distinct score — the two-level
    # distributed prefix sum (packing.py), never a single-partition
    # window: the distinct-score relation is data-scale for
    # continuous scores
    ranked = global_prefix_sum(per_score, ["__s"], F.col("__cnt"),
                               "__before")
    # doubled midrank shared by every row of this score:
    # 2*(first rank) + ties - 1 = 2*(__before+1) + __cnt - 1
    dbl_mid = 2 * (F.col("__before") + 1) + F.col("__cnt") - 1
    agg = ranked.agg(
        F.sum(F.col("__np") * dbl_mid).alias("__2sum"),
        F.sum("__np").alias("__npos"),
        F.sum(F.col("__cnt") - F.col("__np")).alias("__nneg"))
    np_, nn = F.col("__npos"), F.col("__nneg")
    counted = agg.select(
        np_.alias("n_pos"), nn.alias("n_neg"),
        (F.col("__2sum") - np_ * (np_ + 1)).alias("auc_num"),
        (2 * np_ * nn).alias("auc_den"))
    return counted.select(
        "n_pos", "n_neg", "auc_num", "auc_den",
        F.when(F.col("auc_den") > 0,
               F.col("auc_num").cast("double")
               / F.col("auc_den").cast("double")).alias("auc"))
