"""Unigram-style tokenizer (the SentencePiece-unigram family) with an
EXACTLY-SPECIFIED integer objective, completing the tokenizer story
next to BPE (operators/bpe.py).

Real unigram-LM training (Kudo 2018) scores segmentations by summed
log piece probabilities — floats whose cross-engine replay would hang
on libm rounding inside an argmax. This module uses the repo's
exactly-specified-analog pattern (lm_quality's add-one bigram,
gopher's integer ratio cuts): the Viterbi objective is the integer
lexicographic triple

    (fewest pieces,  then highest summed piece count,
     then longest-FINAL piece — recursively, the lexicographically
     largest reversed piece-length sequence)

packed as one int64 score ``-(n_pieces << 40) + Σ count(piece)`` with
ties broken toward the SMALLEST split point (= longest current
piece). Every step is integer arithmetic — bitwise identical in
Spark, Python and SQL, so the registry oracle replays seed counting
AND the full DP.

Training (hard-EM, the Viterbi flavor):
- distributed word counts (lowercase, ASCII-``\\s`` split,
  ``min_word_count`` filter, top-``vocab_cap`` by (n DESC, word),
  words longer than ``max_word_len`` dropped — the bpe.py contract
  plus the length cap that bounds the DP);
- distributed SEED pass: every substring of length 1..``max_piece``
  of every distinct word, weighted by word frequency x occurrences;
  top-``seed_top`` by (cnt DESC, piece), single characters always
  kept (coverage guarantee);
- ``iters`` driver-side hard-EM rounds over the VOCAB-SCALE word
  table (the bpe merge-loop contract: corpus-scale work stays in the
  cluster, the driver loops over <= vocab_cap rows): E-step = Viterbi
  segmentation of each distinct word under current counts, M-step =
  recount pieces from the segmentations (weighted by word frequency)
  and drop multi-char pieces under ``min_piece_count``.

Encoding at corpus scale mirrors bpe_encode exactly: DISTINCT words
stay IN THE CLUSTER and segment once through an Arrow-batched pandas
UDF closing over the vocabulary counts, per-word token counts join
back to the map-side-combined corpus relation — no Python over corpus
rows and no driver collect of any corpus-derived relation (distinct
whitespace tokens are Heaps'-law corpus-vocabulary scale: 10^8+ for a
100 TB crawl, far past driver memory).

Reference: no tokenizer exists in bigslice (SURVEY §2.4); public
algorithm family: Kudo 2018 (arXiv:1804.10959), SentencePiece.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..local_rows import local_df
from .text import tokens

_NPIECE_SHIFT = 40  # score = -(n_pieces << 40) + sum_counts


def _check_objective_headroom(counts: dict[str, int],
                              max_word_len: int) -> None:
    """The packed objective -(n_pieces << _NPIECE_SHIFT) + Σcnt keeps
    its fewest-pieces-dominates invariant only while the largest
    possible count sum per word stays below 1 << _NPIECE_SHIFT
    (~1.1e12 at 40 bits). Piece counts aggregate corpus word
    frequencies, so a trillion-token corpus would silently flip the
    objective — identically in Python and the SQL replay, which is why
    no oracle catches it. Guard explicitly at every entry point."""
    if not counts:
        return
    worst = max(counts.values()) * max_word_len
    if worst >= 1 << _NPIECE_SHIFT:
        raise ValueError(
            f"unigram: packed objective overflow — max piece count "
            f"{max(counts.values())} x max_word_len {max_word_len} = "
            f"{worst} >= 2^{_NPIECE_SHIFT}; rescale counts or widen "
            f"_NPIECE_SHIFT")


def viterbi_segment(word: str, counts: dict[str, int],
                    max_piece: int = 4) -> list[str]:
    """The exactly-specified DP: best[j] over split points i in
    [j-max_piece, j) with word[i:j] in ``counts`` (single chars are
    implicitly in-vocab with count 0 — coverage), maximizing
    ``-(n_pieces << 40) + Σ cnt``; ties prefer the SMALLEST i at
    every position — globally, the longest FINAL piece wins and the
    rule recurses leftward (the lexicographically largest REVERSED
    piece-length sequence). Deterministic for any input."""
    n = len(word)
    NEG = -(1 << 62)
    best = [NEG] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0
    for j in range(1, n + 1):
        for i in range(max(0, j - max_piece), j):
            piece = word[i:j]
            if len(piece) > 1 and piece not in counts:
                continue
            if best[i] == NEG:
                continue
            cand = best[i] - (1 << _NPIECE_SHIFT) \
                + counts.get(piece, 0)
            # strictly-greater keeps the smallest i on ties (i
            # ascends, first winner sticks)
            if cand > best[j]:
                best[j] = cand
                back[j] = i
    out = []
    j = n
    while j > 0:
        i = back[j]
        out.append(word[i:j])
        j = i
    out.reverse()
    return out


def _word_counts(df: DataFrame, text_col: str, min_word_count: int,
                 vocab_cap: int, max_word_len: int) -> DataFrame:
    w = (df.select(F.explode(tokens(F.lower(F.col(text_col))))
                   .alias("word"))
         .filter(F.length("word") <= max_word_len)
         .groupBy("word").agg(F.count(F.lit(1)).alias("n"))
         .filter(F.col("n") >= min_word_count))
    return w.orderBy(F.desc("n"), "word").limit(vocab_cap)


def seed_pieces(df: DataFrame, text_col: str = "text",
                min_word_count: int = 2, vocab_cap: int = 65536,
                seed_top: int = 2048, max_piece: int = 4,
                max_word_len: int = 16) -> DataFrame:
    """(piece, cnt): the seed vocabulary — substring counts weighted
    by word frequency (all occurrences, overlaps included), top
    ``seed_top`` by (cnt DESC, piece) UNION all single chars.
    Distributed: the explode runs over the DISTINCT-word relation
    (vocab-scale rows x <= max_piece*max_word_len substrings)."""
    wc = _word_counts(df, text_col, min_word_count, vocab_cap,
                      max_word_len)
    subs = wc.select(
        "n",
        F.explode(F.expr(
            f"flatten(transform(sequence(1, length(word)), i -> "
            f"transform(sequence(1, least({max_piece}, "
            f"length(word) - i + 1)), l -> substring(word, i, l))))"
        )).alias("piece"))
    cnt = subs.groupBy("piece").agg(F.sum("n").cast("long")
                                    .alias("cnt"))
    top = (cnt.filter(F.length("piece") > 1)
           .orderBy(F.desc("cnt"), "piece").limit(seed_top))
    singles = cnt.filter(F.length("piece") == 1)
    return singles.unionByName(top)


def train_unigram(df: DataFrame, text_col: str = "text",
                  min_word_count: int = 2, vocab_cap: int = 65536,
                  seed_top: int = 2048, min_piece_count: int = 2,
                  iters: int = 2, max_piece: int = 4,
                  max_word_len: int = 16):
    """Hard-EM unigram training → (vocab DataFrame (piece, cnt),
    vocab dict). ``iters=0`` returns the seed counts unchanged.
    Driver work is vocab-scale only (the bpe.py contract)."""
    spark = df.sparkSession
    wc_rows = [(r["word"], int(r["n"])) for r in
               _word_counts(df, text_col, min_word_count, vocab_cap,
                            max_word_len).collect()]
    counts = {r["piece"]: int(r["cnt"]) for r in
              seed_pieces(df, text_col, min_word_count, vocab_cap,
                          seed_top, max_piece, max_word_len).collect()}
    _check_objective_headroom(counts, max_word_len)
    for _ in range(iters):
        new: dict[str, int] = {}
        for word, n in wc_rows:
            for piece in viterbi_segment(word, counts, max_piece):
                new[piece] = new.get(piece, 0) + n
        # coverage: single chars survive at their recount (even 0-use
        # singles stay, count 0); multi-char pieces need
        # min_piece_count
        counts = {p: c for p, c in new.items()
                  if len(p) == 1 or c >= min_piece_count}
        # singles that fell out of use entirely re-enter with 0 so
        # every word stays segmentable
        for word, _n in wc_rows:
            for ch in word:
                counts.setdefault(ch, 0)
        _check_objective_headroom(counts, max_word_len)
    out = local_df(
        spark, sorted(counts.items()), "piece string, cnt long")
    return out, counts


def _word_ntok_udf(counts: dict[str, int], max_piece: int,
                   max_word_len: int):
    """Arrow UDF segmenting ONE WORD per row (vocab-scale input only
    — the bpe.py _word_tokens_udf shape). The ``counts`` dict ships in
    the closure: pickled once per Python worker, shared across that
    worker's Arrow batches. Out-of-vocab-length words count length
    (char fallback), matching viterbi coverage semantics."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def n_word_tokens(words: pd.Series) -> pd.Series:
        return words.map(
            lambda w: len(viterbi_segment(w, counts, max_piece))
            if len(w) <= max_word_len else len(w))

    return n_word_tokens


def unigram_token_counts(df: DataFrame, counts: dict[str, int],
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         max_piece: int = 4,
                         max_word_len: int = 16) -> DataFrame:
    """(id_col, n_words, n_tokens) under the trained vocabulary —
    corpus-scale with NO driver pass over any data-scale relation:
    distinct words are VOCAB-scale by Heaps' law but still grow with
    the corpus (10^8+ for a web-scale crawl), so they stay in the
    cluster and segment through an Arrow-batched pandas UDF closing
    over ``counts`` (the bpe_encode plan, bpe.py:131-170); per-word
    token counts then join back to the map-side-combined (doc, word,
    cnt) relation and aggregate. AQE broadcasts the encoded-words
    side when it is small. Out-of-vocab-length words count length
    (char fallback)."""
    _check_objective_headroom(counts, max_word_len)
    toks = tokens(F.lower(F.col(text_col)))
    doc_words = (df.select(F.col(id_col),
                           F.explode(toks).alias("word"))
                 .groupBy(id_col, "word")
                 .agg(F.count(F.lit(1)).alias("__cnt__")))
    per_word = (df.select(F.explode(toks).alias("word"))
                .distinct()
                .select("word",
                        _word_ntok_udf(counts, max_piece,
                                       max_word_len)(F.col("word"))
                        .alias("n_tok")))
    return (doc_words.join(per_word, on="word")
            .groupBy(id_col)
            .agg(F.sum("__cnt__").cast("long").alias("n_words"),
                 F.sum(F.col("__cnt__") * F.col("n_tok"))
                 .cast("long").alias("n_tokens")))
