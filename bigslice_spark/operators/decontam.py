"""Benchmark decontamination: find training documents that overlap an
evaluation set by shared word n-grams — the standard guard against
train/test leakage in LLM training pipelines (the GPT-3/PaLM-style
"13-gram overlap" rule, here with a configurable ``ngram_w``).

Spark-first shape, asymmetric by design (unlike the dedup self-joins):
the training corpus is ~100 TB, the eval set is ~MBs, so

    train shingles  ⋈_broadcast  DISTINCT eval shingles

scans the train corpus ONCE with a map-side broadcast hash join — no
shuffle of the corpus at all; the only exchange is the final narrow
aggregation of (train_id, eval_id) hit counts (map-side combined).
A Zipf-hot n-gram cannot skew this: a broadcast join has no per-key
task ownership, so fanout spreads with the train partitions wherever
the hot gram occurs. An eval set too large to broadcast goes to
``contamination_report_bloom`` / ``decontaminate_bloom`` instead: same
exact output, the corpus still unshuffled.

Shingling reuses the codegen'd posexplode+lead path from the dedup
module (whole-stage codegen; docs shorter than ``ngram_w`` contribute
their whole text as one shingle), so results are exactly replayable in
ANSI SQL — the DuckDB oracle for the ``decontaminate`` registry entry
replays the full pipeline.

Reference: no analog in bigslice (grep: no contamination/decontam
operator); this is part of the LLM-pipeline surface this engine adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _shingle_rows


def contamination_report(train: DataFrame, eval_df: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         ngram_w: int = 8, min_shared: int = 1) -> DataFrame:
    """(train_id, eval_id, n_shared): training docs sharing at least
    ``min_shared`` DISTINCT word ``ngram_w``-grams with an eval doc.

    ``n_shared`` counts distinct shared grams per (train, eval) pair —
    both sides' shingle relations are de-duplicated per doc, so a gram
    repeated inside a document doesn't inflate the count. The distinct
    eval shingles are always broadcast; for an eval set too large for
    that, use contamination_report_bloom."""
    tr = _shingle_rows(train, text_col, id_col, w=ngram_w,
                       distinct=True).toDF("train_id", "tok")
    ev = _shingle_rows(eval_df, text_col, id_col, w=ngram_w,
                       distinct=True).toDF("eval_id", "tok")
    return (tr.join(F.broadcast(ev), on="tok")
            .groupBy("train_id", "eval_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def decontaminate(train: DataFrame, eval_df: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  ngram_w: int = 8, min_shared: int = 1) -> DataFrame:
    """Drop training docs contaminated by the eval set (any eval doc,
    ``min_shared`` distinct shared grams). Anti-join on the report's
    train ids — the report stays narrow, the corpus passes through
    unshuffled. Eval sets too large to broadcast: decontaminate_bloom."""
    flagged = contamination_report(
        train, eval_df, text_col, id_col, ngram_w, min_shared
    ).select(F.col("train_id").alias(id_col)).distinct()
    return train.join(flagged, on=id_col, how="left_anti")


def contamination_report_bloom(train: DataFrame, eval_df: DataFrame,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               ngram_w: int = 8, min_shared: int = 1,
                               fpp: float = 0.01) -> DataFrame:
    """contamination_report for eval sets TOO BIG TO BROADCAST.

    Same output, different physical plan: the distinct eval shingles
    become a Bloom filter (operators/bloom.py — built distributed,
    ~120 MB per 100M keys at 1% fpp), the train corpus's shingles are
    probe-filtered in one Arrow-batched pass (only 8-byte hashes cross
    into Python, never text), and the surviving ~fpp fraction joins
    the real eval shingles for the exact (train_id, eval_id) counts.
    Bloom rejects are definitive (no false negatives), so the result
    is EXACTLY contamination_report's. The corpus still never
    shuffles; the verify join moves ~fpp of its shingles."""
    from ..checkpoint import materialize
    from .bloom import bloom_build, bloom_probe
    from .dedup import _shingle_rows
    tr = _shingle_rows(train, text_col, id_col, w=ngram_w,
                       distinct=True).toDF("train_id", "tok")
    # the eval shingle relation feeds the filter build AND the exact
    # verify join — materialize it once (r14, the shared-index rule):
    # unmaterialized, the shingle window chain ran once per reference
    ev = materialize(
        _shingle_rows(eval_df, text_col, id_col, w=ngram_w,
                      distinct=True).toDF("eval_id", "tok"))
    bloom = bloom_build(ev, "tok", fpp=fpp)
    cand = (bloom_probe(tr, "tok", bloom)
            .filter(F.col("__bloom_maybe")).drop("__bloom_maybe"))
    # Pin the verify join: Catalyst sizes the python-filtered cand side
    # as tiny and tries to BROADCAST it — but candidates are fpp*corpus
    # + true hits, never broadcastable at scale (and the whole premise
    # here is that even ev is too big to broadcast). shuffle_hash on ev
    # builds the per-partition hash table from the genuinely smaller
    # side with no sort of either side.
    return (cand.join(ev.hint("shuffle_hash"), on="tok")
            .groupBy("train_id", "eval_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def decontaminate_bloom(train: DataFrame, eval_df: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        ngram_w: int = 8, min_shared: int = 1,
                        fpp: float = 0.01) -> DataFrame:
    """decontaminate() for beyond-broadcast eval sets; exact result."""
    flagged = contamination_report_bloom(
        train, eval_df, text_col, id_col, ngram_w, min_shared,
        fpp).select(F.col("train_id").alias(id_col)).distinct()
    return train.join(flagged, on=id_col, how="left_anti")


def ngram_novelty(df: DataFrame, reference: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  ngram_w: int = 5) -> DataFrame:
    """Per-document novelty against a reference corpus: the fraction of
    a document's DISTINCT word ``ngram_w``-grams that do NOT occur
    anywhere in ``reference`` — the standard curation signal for
    prioritizing fresh data over boilerplate already represented in a
    training mix (and the inverse of a memorization-risk score).

    Returns ``(id_col, total_grams, novel_grams, novelty)`` with
    ``novelty = novel_grams / total_grams`` as a double (per-row
    division of two exact counts — bitwise-identical across engines).

    100 TB shape, same asymmetry as :func:`contamination_report`: the
    corpus is shingled and scanned ONCE; the distinct reference grams
    join in via a map-side broadcast hash join (left outer, so unseen
    grams survive as nulls), then one narrow per-doc aggregation that
    clusters on the shingle window's own partitioning. The corpus never
    shuffles on gram text. The reference side is always broadcast, as
    in :func:`contamination_report`, so its distinct grams must fit in
    executor memory; references beyond that bound need a shuffle join
    this operator does not offer. NOTE: a Bloom-filter
    reference is deliberately NOT offered here — Bloom false positives
    would mark genuinely novel grams as seen and silently UNDERCOUNT
    novelty, unlike decontaminate_bloom where the exact verify join
    repairs them.
    """
    doc_grams = _shingle_rows(df, text_col, id_col, w=ngram_w,
                              distinct=True)
    ref_grams = (_shingle_rows(reference, text_col, id_col, w=ngram_w,
                               distinct=True)
                 .select("tok").distinct()
                 .withColumn("__seen", F.lit(1)))
    joined = doc_grams.join(F.broadcast(ref_grams), on="tok", how="left")
    novel = F.sum(F.when(F.col("__seen").isNull(), 1)
                  .otherwise(0)).alias("novel_grams")
    return (joined.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("total_grams"), novel)
            .select(id_col, "total_grams", "novel_grams",
                    (F.col("novel_grams").cast("double")
                     / F.col("total_grams").cast("double"))
                    .alias("novelty")))
