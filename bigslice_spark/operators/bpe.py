"""Byte-pair-encoding tokenizer training and application.

The standard architecture for training BPE on an arbitrarily large
corpus (Sennrich et al. 2016; the GPT-2 tokenizer trains the same way):

1. ONE distributed pass aggregates the corpus into a word-frequency
   table — the only O(corpus) work. At 100 TB this shuffles (word,
   count) pairs with map-side partial aggregation; the result is
   bounded by the vocabulary (Heaps' law: ~millions of rows for
   trillions of tokens), further capped by ``vocab_cap`` via a global
   top-k (TakeOrdered, never a full sort).
2. The merge loop runs driver-side over that compact table. This is
   NOT a scale compromise: every production BPE trainer folds the
   corpus to word counts first, because merge statistics are exactly
   pair counts weighted by word frequency. The loop is O(merges ·
   vocab · word_len), independent of corpus size.

Determinism: candidate pairs rank by (count DESC, pair lexicographic);
the word table itself is deterministic (exact counts); so the merge
sequence is reproducible on any engine/partitioning.

``bpe_encode`` counts tokens per document PLAN-NATIVELY: the merge
loop (per-row Python by nature) runs once over the DISTINCT-words
relation — vocab-scale, bounded by Heaps' law — and per-word token
counts join back onto the per-document word counts, so no Python UDF
ever touches the corpus-scale documents relation.

Reference: no analog in bigslice (its text story is user map funcs);
this is part of the LLM-pipeline surface the engine adds.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens

_EOW = "▁"  # end-of-word sentinel (SentencePiece's metasymbol)


def word_counts(df: DataFrame, text_col: str = "text",
                lowercase: bool = True) -> DataFrame:
    """(word, n): exact corpus word frequencies. One explode + one
    hash aggregation with partial combine — the corpus-scale half of
    BPE training."""
    c = F.col(text_col)
    if lowercase:
        c = F.lower(c)
    return (df.select(F.explode(tokens(c)).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("n")))


def _merge_loop(wc: list[tuple[str, int]],
                num_merges: int) -> list[tuple[int, str, str, int]]:
    """Classic BPE over a word-frequency list: repeatedly merge the
    most frequent adjacent symbol pair (count DESC, pair lexicographic
    tie-break). Pure function of its input.

    INCREMENTAL (r15, guide §5 — this loop is driver-side CPU): the
    rescan form recounted every pair over every word per merge
    (O(merges · Σ|word|) — measured ~2s of the bpe_merges entry at
    sf0.1, the dominant driver cost). Here pair counts update by
    DELTA: only words actually containing the merged pair (tracked in
    an occurrence index) are rewritten, and each rewrite subtracts the
    word's old adjacent-pair multiset and adds the new one. The argmax
    comes from a lazy-deletion heap keyed (-count, pair) — exactly the
    rescan form's min((-count, pair)) — where stale entries (count
    changed since push) are discarded on pop by comparing against the
    live count. Same merge sequence bit-for-bit as the rescan form,
    which tests/test_r15_optimizations.py keeps as the reference
    (test_bpe_incremental_merge_loop_matches_rescan: overlapping runs,
    ties, multi-char remerges)."""
    import heapq

    words = [([*w] + [_EOW], n) for w, n in wc]
    pairs: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for wi, (syms, n) in enumerate(words):
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pairs[p] = pairs.get(p, 0) + n
            if p in where:
                where[p].add(wi)
            else:
                where[p] = {wi}
    heap = [(-c, p) for p, c in pairs.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        # pop until a LIVE entry: count still current (lazy deletion)
        while heap:
            negc, p = heapq.heappop(heap)
            if pairs.get(p, 0) == -negc:
                break
        else:
            break
        cnt = -negc
        if cnt < 2:
            break  # nothing left worth merging
        a, b = p
        merges.append((rank, a, b, cnt))
        ab = a + b
        touched: dict[tuple[str, str], int] = {}
        for wi in where.pop(p, ()):
            syms, n = words[wi]
            out, i, hit = [], 0, False
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(ab)
                    i += 2
                    hit = True
                else:
                    out.append(syms[i])
                    i += 1
            if not hit:
                continue  # stale index entry — pair already gone
            for j in range(len(syms) - 1):
                q = (syms[j], syms[j + 1])
                touched[q] = touched.get(q, 0) - n
            for j in range(len(out) - 1):
                q = (out[j], out[j + 1])
                touched[q] = touched.get(q, 0) + n
                if q in where:
                    where[q].add(wi)
                else:
                    where[q] = {wi}
            words[wi] = (out, n)
        for q, d in touched.items():
            if d == 0:
                continue
            c = pairs.get(q, 0) + d
            if c <= 0:
                pairs.pop(q, None)
            else:
                pairs[q] = c
                heapq.heappush(heap, (-c, q))
    return merges


def bpe_train(df: DataFrame, num_merges: int = 100,
              text_col: str = "text", vocab_cap: int = 65536,
              min_count: int = 2,
              lowercase: bool = True) -> list[tuple[int, str, str, int]]:
    """Train BPE merges on a corpus: distributed word-count pass, then
    the driver-side merge loop over the ≤``vocab_cap``-row table.
    Returns [(rank, left, right, pair_count)] in merge order.

    ``vocab_cap`` bounds driver memory via a global top-(count, word)
    — when it truncates, the dropped tail is words of the lowest
    frequencies, the standard trainer behavior (their pair mass is
    negligible by construction). ``min_count`` prunes hapax noise
    before the top-k."""
    wc = (word_counts(df, text_col, lowercase)
          .filter(F.col("n") >= min_count)
          .orderBy(F.col("n").desc(), F.col("word"))
          .limit(vocab_cap)
          .collect())
    return _merge_loop([(r["word"], r["n"]) for r in wc], num_merges)


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> int:
    syms = [*word] + [_EOW]
    while len(syms) > 1:
        best, bi = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best is None or r < best):
                best, bi = r, i
        if best is None:
            break
        syms[bi:bi + 2] = [syms[bi] + syms[bi + 1]]
    return len(syms)


def bpe_encode(df: DataFrame,
               merges: list[tuple[int, str, str, int]],
               text_col: str = "text", id_col: str = "doc_id",
               lowercase: bool = True) -> DataFrame:
    """(id, n_tokens): token count per document under the learned
    merges — the corpus-side budget/packing input.

    Plan shape (no Python over the corpus): explode+aggregate the
    per-document word counts (one shuffle, map-side combine); encode
    the DISTINCT words once with the Arrow UDF (a second column-pruned
    scan feeding a vocab-scale relation — Heaps' law bounds it at
    ~millions of rows for trillions of tokens, and re-scanning beats
    materializing the corpus-scale (doc, word, cnt) relation); join
    per-word token counts back (AQE broadcasts the vocab side when it
    is small) and sum. Documents with no tokens come back 0 via the
    left join.

    Precondition: ``id_col`` must uniquely identify rows (the natural
    doc-id contract) — duplicate ids aggregate their token counts
    together and every duplicate row receives the combined total."""
    c = F.col(text_col)
    if lowercase:
        c = F.lower(c)
    doc_words = (df.select(F.col(id_col), F.explode(tokens(c))
                           .alias("word"))
                 .groupBy(id_col, "word")
                 .agg(F.count(F.lit(1)).alias("__cnt__")))
    distinct_words = (df.select(F.explode(tokens(c)).alias("word"))
                      .distinct())
    encoded = distinct_words.select(
        "word", _word_tokens_udf(merges)(F.col("word"))
        .alias("__wt__"))
    per_doc = (doc_words.join(encoded, "word")
               .groupBy(id_col)
               .agg(F.sum(F.col("__cnt__") * F.col("__wt__"))
                    .alias("n_tokens")))
    return (df.select(id_col).join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens")))


def _word_tokens_udf(merges: list[tuple[int, str, str, int]]):
    """Arrow UDF encoding ONE WORD per row (vocab-scale input only)."""
    from pyspark.sql.functions import pandas_udf

    ranks = {(a, b): r for r, a, b, _ in merges}

    @pandas_udf("long")
    def n_word_tokens(words: pd.Series) -> pd.Series:
        return words.map(lambda w: _encode_word(w, ranks))

    return n_word_tokens

