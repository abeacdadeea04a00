"""Text-analysis operators for training-data pipelines: tokenization stats,
quality scoring, language ID, document fingerprinting.

All hot paths are native Column expressions (whole-stage codegen); only the
rolling-hash fingerprint drops to an Arrow-batched pandas UDF. Designed so
each output is reproducible in ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny fixed stopword lexicons for the n-gram/stopword language heuristic.
# Order matters: ties resolve to the first language in LANGS.
LANGS = ["de", "en", "es", "fr", "zh"]
LEXICONS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "de": ["der", "die", "und", "das", "ist", "ein", "mit", "von", "zu",
           "den"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "du", "que", "est"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "就", "不", "人"],
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization, empty tokens removed.

    ``array_remove(split(...), '')`` and not ``filter(..., t != '')``:
    identical output (split never yields NULLs, so removing every ''
    is exactly the filter; pinned by test_tokens_matches_filter_form),
    but array_remove is a plain collection expression while filter is
    a higher-order lambda INTERPRETED per token (the _shingle_rows /
    trigram lesson, one level down) — measured 24M tokens on
    local[32]: 0.32s vs 0.29s against a 0.26s split-only floor."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(c, r"\s+"), "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


# Java's \s, spelled out: the characters tokens() splits on. RE2 (the
# DuckDB oracles' regex engine) leaves the vertical tab out of its \s,
# so a pattern shared by both engines names the class explicitly.
WS_CHARS = r"\t\n\x0B\f\r "

# BPE-style pre-tokenizer classes (GPT-2-family shape, simplified to the
# lookahead-free subset shared by Java regex and RE2 so Spark and DuckDB
# segment identically): letter runs, digit runs, runs of other
# non-whitespace. A BPE vocabulary then splits within these classes —
# counting them is the standard cheap token-budget estimator.
BPE_PRETOKEN_RE = rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CHARS}]+"


def bpe_token_count(col: Column | str,
                    pattern: str = BPE_PRETOKEN_RE) -> Column:
    """Pre-token count under a BPE-ish segmentation (see BPE_PRETOKEN_RE).
    Codegen'd regexp_extract_all; oracle-reproducible with DuckDB's
    regexp_extract_all on the same pattern."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0))) \
        .cast("long")


def text_stats(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-document stats: chars, tokens, mean token length, whitespace
    ratio, distinct-token ratio — all codegen'd expressions."""
    toks = tokens(text_col)
    n_chars = F.length(text_col).cast("long")
    n_tokens = F.size(toks).cast("long")
    alpha_chars = F.length(F.regexp_replace(F.col(text_col), r"\s+", "")) \
        .cast("long")
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (alpha_chars.cast("double")
         / F.greatest(n_tokens, F.lit(1)).cast("double"))
        .alias("mean_token_len"),
        (F.size(F.array_distinct(toks)).cast("double")
         / F.greatest(n_tokens, F.lit(1)).cast("double"))
        .alias("distinct_ratio"),
    )


def quality_score(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Deterministic quality score in [0,1]: favors documents with enough
    tokens, plausible mean token length, and lexical diversity — the
    classic cheap pre-filters before expensive dedup/classification."""
    s = text_stats(df, text_col, id_col)
    len_component = F.least(s.n_tokens.cast("double") / 50.0, F.lit(1.0))
    tok_len_ok = F.when((s.mean_token_len >= 3.0)
                        & (s.mean_token_len <= 10.0), 1.0).otherwise(0.0)
    return s.select(
        id_col,
        (len_component * 0.4 + tok_len_ok * 0.3
         + s.distinct_ratio * 0.3).alias("quality"))


def lang_id(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Stopword-hit-rate language ID over fixed lexicons. Argmax with ties
    resolved by LANGS order — reproducible in SQL for the oracle."""
    toks = tokens(text_col)
    n = F.greatest(F.size(toks), F.lit(1)).cast("double")
    def _hits(lex: list[str]):
        return lambda t: t.isin(*lex)

    scores = {
        lang: (F.size(F.filter(toks, _hits(LEXICONS[lang]))) / n)
        for lang in LANGS
    }
    # deterministic argmax: max (score, LANGS-order priority) lexicographic
    entries = [F.struct(scores[lang].alias("s"),
                        F.lit(len(LANGS) - i).alias("p"),
                        F.lit(lang).alias("l"))
               for i, lang in enumerate(LANGS)]
    best = F.array_max(F.array(*entries))["l"]
    return df.select(id_col, best.alias("pred_lang"))


FP_MOD = (1 << 61) - 1
FP_BASE = 257


_FP_MASK61 = (1 << 61) - 1   # == FP_MOD; fold constant for 2^61-1
_FP_MASK53 = (1 << 53) - 1


_FP_CHUNK = 64  # bytes per chunk in the two-level vectorized Horner


def _fp_batch(texts: "pd.Series") -> "np.ndarray":
    """Vectorized rolling hash h = (h*257 + b) mod (2^61-1) over utf-8
    bytes, batch-at-a-time, with work O(total bytes) and Python-level
    loop steps O(chunk + maxlen/chunk) — robust to both many-short-docs
    and one-huge-doc batches.

    Two exact rewrites make it vectorizable:
    - Horner starts at h=0, so leading zero bytes are identity steps:
      LEFT-padding any prefix with \\x00 never changes the hash.
    - Blocking: group bytes into 64-byte chunks; the hash is a Horner
      walk over chunk VALUES with base 257^64, and each chunk value is
      a 64-step Horner over its bytes — the latter runs vectorized over
      ALL chunks of ALL documents at once.

    All modular arithmetic stays inside uint64 via the Mersenne
    structure of 2^61-1 (2^61 ≡ 1): shifts split products into < 2^63
    partial sums, one fold (y>>61)+(y&mask) plus a conditional subtract
    restores y < 2^61-1. The doc-level step needs a general
    61-bit × 61-bit modmul, done by 32-bit limb splitting
    (2^64 ≡ 8, t·2^32 ≡ (t>>29) + (t & 2^29-1)<<32)."""
    import numpy as np

    C = _FP_CHUNK
    bufs = [(t or "").encode("utf-8") for t in texts]
    n = len(bufs)
    if n == 0:
        return np.empty(0, dtype="int64")
    counts = np.fromiter(((len(b) + C - 1) // C for b in bufs),
                         dtype=np.int64, count=n)
    if counts.max() == 0:
        return np.zeros(n, dtype="int64")

    mod = np.uint64(FP_MOD)
    m53, m61 = np.uint64(_FP_MASK61 >> 8), np.uint64(_FP_MASK61)
    m29 = np.uint64((1 << 29) - 1)
    m32 = np.uint64(0xFFFFFFFF)
    s8, s29, s32 = np.uint64(8), np.uint64(29), np.uint64(32)
    s53, s61 = np.uint64(53), np.uint64(61)

    # -- level 0: value of every 64-byte chunk, specialized ·257 path --
    flat = b"".join(b"\x00" * (int(k) * C - len(b)) + b
                    for k, b in zip(counts, bufs))
    W = np.frombuffer(flat, dtype=np.uint8).reshape(-1, C)
    cv = np.zeros(W.shape[0], dtype=np.uint64)
    for j in range(C):
        y = (cv >> s53) + ((cv & m53) << s8) + cv  # cv*257 split, < 2^63
        y = (y >> s61) + (y & m61)                 # fold 2^61 ≡ 1
        y += W[:, j].astype(np.uint64)
        y -= (y >= mod) * mod
        cv = y

    # -- levels 1+: 64-ary tree reduction over value sequences --------
    # Each doc's hash is a Horner walk over its chunk values with base
    # 257^C; left-padding a value sequence with zeros is again identity
    # (h=0 prefix), so each round packs every doc's values into
    # 64-slot groups and reduces columns — log64(maxlen/C) rounds of 64
    # vectorized steps each, skew-immune (one huge doc adds rounds, not
    # per-chunk Python steps).
    base = pow(FP_BASE, C, FP_MOD)
    while counts.max() > 1:
        b_hi = np.uint64(base >> 32)
        b_lo = np.uint64(base & 0xFFFFFFFF)
        cnt2 = (counts + C - 1) // C
        o_end = np.cumsum(cnt2) * C
        ends = np.cumsum(counts)
        intra = np.arange(int(ends[-1])) - np.repeat(ends - counts, counts)
        idx = np.repeat(o_end - counts, counts) + intra
        buf = np.zeros(int(o_end[-1]) if len(o_end) else 0,
                       dtype=np.uint64)
        buf[idx] = cv
        V = buf.reshape(-1, C)
        h = np.zeros(V.shape[0], dtype=np.uint64)
        for j in range(C):
            a_hi, a_lo = h >> s32, h & m32
            r0 = (a_hi * b_hi) * np.uint64(8)       # ·2^64 ≡ ·8, < 2^61
            t1 = a_hi * b_lo + a_lo * b_hi          # < 2^62
            r1 = (t1 >> s29) + ((t1 & m29) << s32)  # t1·2^32 folded
            t2 = a_lo * b_lo                        # < 2^64, fits
            r2 = (t2 >> s61) + (t2 & m61)
            y = r0 + r1 + r2                        # < 2^63
            y = (y >> s61) + (y & m61)
            y -= (y >= mod) * mod
            y += V[:, j]
            y -= (y >= mod) * mod
            h = y
        cv, counts = h, cnt2
        base = pow(base, C, FP_MOD)

    out = np.zeros(n, dtype=np.uint64)
    out[counts > 0] = cv
    return out.astype("int64")


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     ngram_w: int = 2) -> DataFrame:
    """Per-document repetition signals — the Gopher/RefinedWeb quality
    rules for machine-generated or boilerplate text:

    - ``dup_ngram_frac``: fraction of word n-gram occurrences that are
      repeats of an earlier occurrence (1 − distinct/total);
    - ``top_ngram_frac``: share of occurrences taken by the single most
      frequent n-gram.

    Plan shape: the codegen'd shingle path (posexplode + window lead)
    hash-partitions by ``id_col``, and both aggregations cluster on a
    superset of that key, so Catalyst adds NO further exchange — the
    whole operator is the shingle window's one shuffle (gated in
    tests/test_plans.py). Short docs (< ngram_w tokens) count their
    whole text as one gram, matching the dedup shingle semantics."""
    from .dedup import _shingle_rows  # local: dedup imports text at load
    rows = _shingle_rows(df, text_col, id_col, w=ngram_w, distinct=False)
    per = rows.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    tot = F.sum("c").cast("double")
    return (per.groupBy(id_col)
            .agg((F.lit(1.0) - F.count(F.lit(1)) / tot)
                 .alias("dup_ngram_frac"),
                 (F.max("c") / tot).alias("top_ngram_frac")))


def fingerprint(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Rolling polynomial hash (base 257 mod 2^61-1) over the utf-8 bytes —
    a deterministic whole-document fingerprint (winnowing building block).
    Arrow-batched pandas path, numpy-vectorized across the batch (see
    _fp_batch); pure-Python reference in tests."""

    def fp_series(s: pd.Series) -> pd.Series:
        return pd.Series(_fp_batch(s), dtype="int64")

    fp_udf = F.pandas_udf(fp_series, "long")
    return df.select(id_col, fp_udf(F.col(text_col)).alias("fp"))


def corpus_stats(df: DataFrame, strata_col: str = "source",
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-stratum corpus health report: document count, token count,
    exact-duplicate fraction (1 − distinct content digests / docs) and
    mean tokens per document — the numbers a pipeline owner checks
    after every build. One grouped aggregation (count DISTINCT plans
    Spark's expand + two-phase agg); every input to the two ratios is
    an exact integer, so the doubles are engine-reproducible."""
    tc = token_count(text_col)
    return (df.groupBy(strata_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(tc).alias("n_tokens"),
                 F.count_distinct(F.md5(F.col(text_col)))
                 .alias("n_distinct"))
            .select(strata_col, "n_docs", "n_tokens", "n_distinct",
                    (F.lit(1.0) - F.col("n_distinct")
                     / F.col("n_docs").cast("double")).alias("dup_frac"),
                    (F.col("n_tokens").cast("double")
                     / F.col("n_docs")).alias("mean_tokens")))


def chunk_documents(df: DataFrame, chunk_tokens: int = 64,
                    stride: int | None = None,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split documents into (overlapping) token-window chunks — the
    long-document → training-sequence step that precedes packing.

    Chunk starts fall at multiples of ``stride`` (default = chunk_tokens,
    i.e. disjoint windows) in [0, n_tokens); each chunk carries up to
    ``chunk_tokens`` tokens. Empty documents yield no chunks. Pure
    codegen (sequence → transform → slice → explode), zero shuffles —
    a map over the corpus at any scale.

    Output: (id_col, chunk_id, chunk_text, n_tokens)."""
    stride = stride or chunk_tokens
    toks = tokens(text_col)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(toks) - 1, F.lit(0)),
        F.lit(stride))
    chunks = df.select(
        F.col(id_col), toks.alias("__t__"),
        F.posexplode(starts).alias("chunk_id", "__s__")) \
        .filter(F.size("__t__") > 0)
    piece = F.slice(F.col("__t__"), F.col("__s__") + 1,
                    chunk_tokens)
    return chunks.select(
        id_col, "chunk_id",
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"))


def bigram_pmi(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", min_count: int = 5,
               k: int = 30) -> DataFrame:
    """Collocation mining: top-k adjacent-token bigrams by pointwise
    mutual information. PMI is kept in the RATIONAL form
    (N·c12)/(c1·c2) — a monotone transform of log-PMI built from exact
    integer counts, so ordering and values replay bitwise in any engine
    (log() is not identically rounded; see queries.py conventions).

    One explode over the corpus feeds both the unigram and bigram
    counts; the pair join brings two ≤vocabulary-size count tables to
    the bigram table — all hash joins on the token key. Ties break by
    bigram text."""
    w = F.col("__w__")
    toks = df.select(tokens(text_col).alias("__t__")) \
        .filter(F.size("__t__") > 0)
    uni = (toks.select(F.explode("__t__").alias("w1"))
           .groupBy("w1").agg(F.count(F.lit(1)).alias("c1")))
    tot = toks.select(F.explode("__t__").alias("w")) \
        .agg(F.count(F.lit(1)).alias("n_tok"))
    pairs = toks.select(
        F.explode(F.zip_with(
            F.slice("__t__", 1, F.size("__t__") - 1),
            F.slice("__t__", 2, F.size("__t__") - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))))
        .alias("__w__")) \
        .select(w["w1"].alias("w1"), w["w2"].alias("w2")) \
        .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")) \
        .filter(F.col("c12") >= min_count)
    uni2 = uni.select(F.col("w1").alias("w2"),
                      F.col("c1").alias("c2"))
    j = (pairs.join(uni, on="w1").join(uni2, on="w2")
         .crossJoin(F.broadcast(tot)))
    pmi = (F.col("n_tok").cast("double") * F.col("c12").cast("double")) \
        / (F.col("c1").cast("double") * F.col("c2").cast("double"))
    return (j.select("w1", "w2", "c12", pmi.alias("pmi"))
            .orderBy(F.desc("pmi"), "w1", "w2").limit(k))


_CODE_SYMBOLS = "{};=()<>[]"
_CODE_KEYWORDS = ("def", "return", "import", "function", "var",
                  "const", "class", "void", "int", "public", "static",
                  "fn", "let", "#include", "struct", "elif", "lambda",
                  "=>", "});")


def code_detect(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Code-vs-prose detection — the corpus-routing step every mixed
    crawl needs (code goes to the code pipeline, prose to the text
    one; misrouted code poisons n-gram/stopword quality filters and
    misrouted prose dilutes code training data). Three cheap
    signals, each surfaced as its own flag plus the verdict
    (the gopher_rules pattern):

    - symbol density: ≥3% of characters in ``{};=()<>[]``;
    - structural indentation: ≥20% of non-empty lines start with
      4 spaces or a tab;
    - keyword evidence: ≥2 tokens from a small cross-language
      keyword lexicon (def/return/function/const/...).

    ``is_code`` = symbols AND (indent OR keywords) — symbol density
    alone misfires on math/tables, indentation alone on poetry, so
    the verdict requires corroboration. Every ratio is an INTEGER
    cross-multiplication (100·n_sym ≥ 3·n_chars), no float
    thresholds — engine-exact, and the whole battery is one codegen
    projection: zero shuffles at any corpus size."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("long")
    # count symbol occurrences by per-char length diff (replay-exact
    # in any SQL engine as a replace() chain)
    n_sym = None
    for ch in _CODE_SYMBOLS:
        c = (F.length(t) - F.length(F.replace(t, F.lit(ch), F.lit("")))
             ).cast("long")
        n_sym = c if n_sym is None else n_sym + c
    lines = F.array_remove(F.split(t, "\n"), "")
    n_lines = F.size(lines).cast("long")
    n_indent = F.size(F.filter(
        lines, lambda l: l.startswith("    ") | l.startswith("\t"))) \
        .cast("long")
    toks = tokens(t)
    n_kw = F.size(F.filter(
        toks, lambda w: w.isin(*_CODE_KEYWORDS))).cast("long")
    # empty text degenerates both ratios to 0 >= 0: an empty doc is
    # NOT code (it has no symbols and no structure), so the density
    # flags additionally require a non-empty denominator
    r_sym = (n_chars > 0) & (100 * n_sym >= 3 * n_chars)
    r_indent = (n_lines > 0) & (5 * n_indent >= n_lines)
    r_kw = n_kw >= 2
    return df.select(
        F.col(id_col), n_chars.alias("n_chars"),
        n_sym.alias("n_sym"), n_indent.alias("n_indent"),
        n_kw.alias("n_kw"),
        r_sym.alias("r_symbols"), r_indent.alias("r_indent"),
        r_kw.alias("r_keywords"),
        (r_sym & (r_indent | r_kw)).alias("is_code"))


_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
                     "with")


def gopher_rules(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", min_words: int = 50,
                 max_words: int = 100_000,
                 stopwords: tuple[str, ...] = _GOPHER_STOPWORDS
                 ) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1),
    each surfaced as its own flag plus the combined verdict — the
    standard cheap pre-filter battery before dedup/classification:

    - word count in [min_words, max_words];
    - mean word length in [3, 10] characters;
    - ≤10% of words contain '#';
    - ≤30% of lines end with an ellipsis, ≤90% start with a bullet;
    - ≥80% of words contain an alphabetic character;
    - ≥2 distinct common English stopwords present.

    Every ratio test is an INTEGER cross-multiplication (10·n_hash ≤
    n_words, etc.) — no float thresholds, so the cut is trivially
    engine-exact. One pass, pure codegen projection: zero shuffles at
    any corpus size.
    """
    t = F.col(text_col)
    toks = tokens(t)
    nw = F.size(toks).cast("long")
    # Σ length(token) == length of the separator-free join — same
    # integer, but array_join/length are plain codegen expressions
    # while aggregate() is an interpreted per-token lambda
    total_len = F.length(F.array_join(toks, "")).cast("long")
    n_hash = F.size(F.filter(toks, lambda w: w.contains("#"))) \
        .cast("long")
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[a-zA-Z]"))) \
        .cast("long")
    lines = F.array_remove(F.split(t, "\n"), "")
    nl = F.size(lines).cast("long")
    n_ell = F.size(F.filter(lines, lambda l: l.endswith("..."))) \
        .cast("long")
    n_bullet = F.size(F.filter(
        lines, lambda l: l.startswith("-") | l.startswith("*"))) \
        .cast("long")
    stops = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(
        stops, lambda s: F.array_contains(toks, s))).cast("long")
    rules = {
        "r_word_count": (nw >= min_words) & (nw <= max_words),
        "r_mean_word_len": (total_len >= 3 * nw)
        & (total_len <= 10 * nw),
        "r_hash_ratio": 10 * n_hash <= nw,
        "r_ellipsis_lines": 10 * n_ell <= 3 * nl,
        "r_bullet_lines": 10 * n_bullet <= 9 * nl,
        "r_alpha_words": 5 * n_alpha >= 4 * nw,
        "r_stopwords": n_stop >= 2,
    }
    passes = None
    for c in rules.values():
        passes = c if passes is None else (passes & c)
    return df.select(
        F.col(id_col), nw.alias("n_words"),
        *[c.alias(name) for name, c in rules.items()],
        passes.alias("passes"))


# --- text normalization (r9c) -------------------------------------
# The web-ingest cleanup between charset decode / HTML extraction and
# every downstream text op: kill invisible codepoints, unify the
# unicode space/quote/dash zoo onto ASCII, drop C0 controls, collapse
# whitespace runs. Every stage is a codegen expression (translate /
# regexp_replace / replace) — no Python touches corpus text — and
# each has an exact DuckDB replay (same translate tables, same RE2-
# compatible character classes) so the registry oracle replays the
# whole normalizer.

# removed outright: zero-widths, soft hyphen, BOM/word-joiner, LRM/RLM
_ZERO_WIDTH_RE = "[\\x{200B}\\x{200C}\\x{200D}\\x{2060}\\x{FEFF}" \
    "\\x{00AD}\\x{200E}\\x{200F}]"
# C0 controls except \t \n, plus DEL
_CTRL_RE = "[\\x{0000}-\\x{0008}\\x{000B}-\\x{001F}\\x{007F}]"
# unicode horizontal spaces -> ASCII space
_SPACES_SRC = ("\u00a0\u1680\u2000\u2001\u2002\u2003\u2004\u2005"
               "\u2006\u2007\u2008\u2009\u200a\u202f\u205f\u3000")
# curly quotes/dashes -> ASCII
_PUNCT_SRC = ("\u2018\u2019\u201a\u201b\u201c\u201d\u201e\u201f"
              "\u2013\u2014\u2015\u2212")
_PUNCT_DST = "''''" + '""""' + "----"


def clean_text(col: Column | str) -> Column:
    """Normalized text: invisibles removed, unicode spaces/quotes/
    dashes ASCII-fied, ellipsis expanded, controls stripped,
    horizontal whitespace runs collapsed to one space, 3+ newlines to
    2, trimmed. Pure codegen; exact SQL replay in the text_clean
    oracle."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, _ZERO_WIDTH_RE, "")
    c = F.translate(c, _SPACES_SRC, " " * len(_SPACES_SRC))
    c = F.translate(c, _PUNCT_SRC, _PUNCT_DST)
    c = F.replace(c, F.lit("…"), F.lit("..."))
    c = F.regexp_replace(c, _CTRL_RE, "")
    c = F.regexp_replace(c, "[ \\t]+", " ")
    c = F.regexp_replace(c, " ?\\n ?", "\n")
    c = F.regexp_replace(c, "\\n{3,}", "\n\n")
    return F.trim(c)


def normalize_text(df: DataFrame, text_col: str = "text",
                   out_col: str = "clean_text") -> DataFrame:
    """Append the normalized text column — zero-shuffle projection."""
    return df.withColumn(out_col, clean_text(text_col))


# --- C4-style page cleaning (r11) ----------------------------------
# The line-level retention + page-level rejection battery of C4
# (Raffel et al. 2020 §2.2, public): keep only lines that read like
# prose sentences, then reject pages that are too short or carry
# boilerplate/placeholder/blocklist markers. Complements gopher_rules
# (token-shape heuristics) with C4's line-structure heuristics; real
# pipelines run both. Every test is codegen (no Python in the path)
# and every rule is replayable in ANSI SQL.

# Word-level blocklist (C4 uses the public "Dirty, Naughty" list; the
# default here is a tiny stand-in — pass the full list in production).
_C4_BLOCKLIST = ("nsfw", "porn", "xxx")


def c4_filters(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", min_sentences: int = 3,
               min_line_words: int = 5,
               blocklist: tuple[str, ...] = _C4_BLOCKLIST) -> DataFrame:
    """C4 page cleaning: per-line retention + page-level flags.

    Line retention (a line survives iff ALL hold, after trim):
      - non-empty and ends in terminal punctuation (. ! ? ");
      - has >= ``min_line_words`` whitespace words;
      - does not mention 'javascript' (case-insensitive).
    Page flags (over the ORIGINAL page text unless noted):
      - r_min_sentences: >= ``min_sentences`` sentence-final marks
        (. ! ?) in the RETAINED text;
      - r_no_lorem: no 'lorem ipsum' placeholder;
      - r_no_brace: no '{' (code/templating markup);
      - r_no_badwords: no whitespace-delimited word on ``blocklist``
        (lowercased exact-token match).
    ``passes`` is the conjunction. Returns one row per input row:
    (id, n_lines, n_kept, n_sentences, kept_chars, flags..., passes,
    kept_text) — a pure single-pass projection, zero shuffles at any
    corpus size.
    """
    t = F.col(text_col)
    # one-arg lambda on purpose: F.transform passes (element, index)
    # to a 2-parameter callable, and F.trim(col, trim) is the
    # two-parameter TRIM — passing F.trim directly trims index chars
    lines = F.transform(F.split(t, "\n"), lambda l: F.trim(l))
    nonempty = F.array_remove(lines, "")

    def _line_ok(l: Column) -> Column:
        terminal = (l.endswith(".") | l.endswith("!")
                    | l.endswith("?") | l.endswith('"'))
        return ((l != "") & terminal
                & (F.size(tokens(l)) >= min_line_words)
                & ~F.lower(l).contains("javascript"))

    kept = F.filter(lines, _line_ok)
    kept_text = F.array_join(kept, "\n")
    n_sent = None
    for m in (".", "!", "?"):
        d = (F.length(kept_text)
             - F.length(F.replace(kept_text, F.lit(m), F.lit(""))))
        n_sent = d if n_sent is None else n_sent + d
    n_sent = n_sent.cast("long")
    toks_low = tokens(F.lower(t))
    n_bad = F.size(F.filter(
        F.array(*[F.lit(b) for b in blocklist]),
        lambda b: F.array_contains(toks_low, b))).cast("long")
    rules = {
        "r_min_sentences": n_sent >= min_sentences,
        "r_no_lorem": ~F.lower(t).contains("lorem ipsum"),
        "r_no_brace": ~t.contains("{"),
        "r_no_badwords": n_bad == 0,
    }
    passes = None
    for c in rules.values():
        passes = c if passes is None else (passes & c)
    return df.select(
        F.col(id_col),
        F.size(nonempty).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        n_sent.alias("n_sentences"),
        F.length(kept_text).cast("long").alias("kept_chars"),
        *[c.alias(name) for name, c in rules.items()],
        passes.alias("passes"),
        kept_text.alias("kept_text"))


# --- sentence segmentation (r11) -----------------------------------
# A sentence is a maximal run of non-terminal characters followed by a
# run of terminal marks (.!?), or a trailing unterminated fragment
# (\z, end-of-text — NOT $, which Java matches before a final newline
# but RE2 does not; \z means end-of-text in both). Leftmost-first
# alternation is identical in Java regex and RE2, so Spark and DuckDB
# segment identically. Quotes/brackets after the terminal mark stay
# with the NEXT sentence (documented simplification; abbreviation
# handling is corpus-specific and belongs in a caller-supplied regex).
SENTENCE_RE = r"[^.!?]+[.!?]+|[^.!?]+\z"


def split_sentences(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    pattern: str = SENTENCE_RE) -> DataFrame:
    """Flatmap each document into (id, sent_idx, sentence, n_chars,
    n_words): segments under ``pattern`` (see SENTENCE_RE), trimmed,
    empties dropped, 0-based index in document order. Pure codegen
    (regexp_extract_all + posexplode) — a zero-shuffle generator; the
    per-sentence relation feeds chunking, dedup-at-sentence-level and
    sentence-quality filters."""
    sents = F.array_remove(
        F.transform(
            F.regexp_extract_all(F.col(text_col), F.lit(pattern),
                                 F.lit(0)), lambda s: F.trim(s)),
        "")
    sent = F.col("sentence")
    return (df.select(F.col(id_col),
                      F.posexplode(sents).alias("sent_idx", "sentence"))
            .select(id_col, "sent_idx", "sentence",
                    F.length(sent).cast("long").alias("n_chars"),
                    F.size(tokens(sent)).cast("long").alias("n_words")))
