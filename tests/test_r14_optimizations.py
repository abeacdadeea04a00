"""Focused equivalence tests for the r14 optimization round: every
restructured operator must produce bit-identical results to the shape
it replaced (the round's contract — plans change, answers don't)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W, functions as F


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_bucketed_self_join_matches_plain_join_with_hot_bucket(spark):
    """The agg+hot-broadcast bucket sizing (r14) must emit exactly the
    pair multiset of rel ⋈_keys rel — including a bucket larger than
    chunk_target, which exercises nc > 1 chunk spreading."""
    from bigslice_spark.operators.dedup import _bucketed_self_join
    rows = [(i, "hot" if i < 40 else f"k{i % 7}") for i in range(80)]
    rel = spark.createDataFrame(rows, "id long, bk string")
    got = _rows(
        _bucketed_self_join(rel, ["bk"], chunk_target=8),
        ["bk", "id_a", "id_b"])
    want = _rows(
        rel.toDF("id_a", "bk").join(rel.toDF("id_b", "bk"), on="bk"),
        ["bk", "id_a", "id_b"])
    assert got == want


def test_bucketed_self_join_bn_col_matches_window_count(spark):
    """bn_col (a precomputed per-row bucket size, the ngram/item df
    path) must salt identically to counting inside the join."""
    from bigslice_spark.operators.dedup import _bucketed_self_join
    rows = [(i, "hot" if i < 30 else f"k{i % 5}") for i in range(60)]
    rel = spark.createDataFrame(rows, "id long, bk string")
    ann = rel.withColumn(
        "bn", F.count(F.lit(1)).over(W.partitionBy("bk")))
    got = _rows(
        _bucketed_self_join(ann, ["bk"], chunk_target=8, bn_col="bn"),
        ["bk", "id_a", "id_b"])
    want = _rows(
        _bucketed_self_join(rel, ["bk"], chunk_target=8),
        ["bk", "id_a", "id_b"])
    assert got == want


def test_trigram_postings_only_matches_full_intersection(spark, tables):
    """The instr-probe one-shot build must yield exactly the needed
    subset of the full postings relation."""
    from bigslice_spark.operators.trigram import (literal_trigrams,
                                                  trigram_postings)
    docs = tables["documents"].limit(50)
    needed = sorted({t for s in ("the quick", "lorem")
                     for t in literal_trigrams(s)})
    got = _rows(trigram_postings(docs, only=needed),
                ["doc_id", "tri"])
    full = trigram_postings(docs)
    want = _rows(full.filter(F.col("tri").isin(needed)),
                 ["doc_id", "tri"])
    assert got == want


def test_dhash_pairs_materialized_input_same_pairs(spark):
    """dhash_pairs materializes its input now; pairs are unchanged."""
    from bigslice_spark.operators.imagehash import dhash_pairs
    rows = [(1, 0x1111), (2, 0x1111), (3, 0x1110), (4, -42)]
    hashes = spark.createDataFrame(rows, "id long, dhash long")
    got = _rows(dhash_pairs(hashes, max_hamming=3),
                ["a", "b", "hamming"])
    assert got == [(1, 2, 0), (1, 3, 1), (2, 3, 1)]


def test_tokens_matches_filter_form(spark, tables):
    """tokens() now uses array_remove(split, '') instead of the
    interpreted filter(..., t != '') lambda; the arrays must be
    IDENTICAL (order, multiplicity, NULL passthrough) on adversarial
    whitespace shapes and on the real corpus."""
    from bigslice_spark.operators.text import tokens
    cases = ["", " ", "  ", "a", " a", "a ", " a ", "a b", "a  b",
             "\t\n\x0b\f\r", "x\ty\nz", "tab\tend\t", None,
             "mixed \t spaces\n\nhere ", "　ideo", "a\rb\x0bc"]
    cdf = spark.createDataFrame([(c,) for c in cases], "text string")
    old = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    rows = cdf.select(old.alias("o"), tokens("text").alias("n")).collect()
    assert all(r["o"] == r["n"] for r in rows), \
        [(r["o"], r["n"]) for r in rows if r["o"] != r["n"]]
    docs = tables["documents"]
    assert docs.select(old.alias("o"), tokens("text").alias("n")) \
        .filter(~F.col("o").eqNullSafe(F.col("n"))).count() == 0


def test_line_and_lengths_lambda_free_forms(spark, tables):
    """The line-split empty-removal and the gopher total-token-length
    now use array_remove / length(array_join) instead of interpreted
    lambdas; both must be exactly the old expressions."""
    from bigslice_spark.operators.text import tokens
    docs = tables["documents"]
    t = F.col("text")
    old_lines = F.filter(F.split(t, "\n"), lambda l: l != "")
    new_lines = F.array_remove(F.split(t, "\n"), "")
    toks = tokens(t)
    old_len = F.aggregate(toks, F.lit(0).cast("long"),
                          lambda acc, w: acc + F.length(w))
    new_len = F.length(F.array_join(toks, "")).cast("long")
    bad = docs.select(
        old_lines.alias("ol"), new_lines.alias("nl"),
        old_len.alias("oc"), new_len.alias("nc")) \
        .filter(~F.col("ol").eqNullSafe(F.col("nl"))
                | ~F.col("oc").eqNullSafe(F.col("nc"))).count()
    assert bad == 0
