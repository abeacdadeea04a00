"""Deduplication operators for 100TB-scale training-data pipelines.

Five strategies, all DataFrame-native (no row-at-a-time Python in any hot
path):

- exact_dedup:       hash-groupBy on a content digest (one shuffle).
- minhash_lsh:       word-shingles → 64-bit token hashes → H minhash
                     signatures → banded LSH buckets → candidate pairs →
                     signature-similarity verify. All expression-level
                     (xxhash64 + higher-order array functions); no UDF.
- simhash:           64-bit sign-of-weighted-bit-sums fingerprint; near-dup
                     candidates via 4×16-bit band pigeonhole + hamming check.
- ngram_jaccard:     inverted-index self-join on distinct tokens; exact
                     Jaccard from intersection/union counts (SQL-equivalent,
                     oracle-checkable).
- embedding_cosine:  near-dup pairs among embeddings, bucketed by label (or
                     any coarse partitioner) to bound the quadratic blowup.

Scale notes: every strategy is one-or-two-shuffle; candidate generation is
always inverted-index style (explode + groupBy), never a cross join. Hot
keys (a token appearing in most documents) are pruned by document-frequency
before the self-join — the classic guard against quadratic skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..checkpoint import materialize
from .text import tokens

# Mersenne-ish primes for the affine minhash family over a 31-bit domain —
# products stay < 2^62, safe under ANSI overflow checking.
_MH_PRIME = (1 << 31) - 1
_U64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mixer (public splitmix64 constants) used to
    derive independent-ish minhash coefficients."""
    z = (x + 0x9E3779B97F4A7C15) & _U64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _U64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _U64
    return z ^ (z >> 31)


def _tok_hash31(portable: bool) -> "F.Column":
    """31-bit token hash for the minhash family, over column ``tok``.

    Default is xxhash64 (fastest JVM path). ``portable=True`` derives the
    hash from md5's first 15 hex chars instead — md5 is bit-identical in
    every engine, so the WHOLE minhash pipeline becomes reproducible in
    ANSI SQL (the DuckDB oracle replays it exactly; xxhash64 exists only
    in Spark). Both are codegen'd; md5 costs ~2× per token."""
    if portable:
        h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10) \
            .cast("long")
    else:
        h = F.xxhash64("tok")
    return F.pmod(h, F.lit(_MH_PRIME))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per content digest.
    One shuffle on the digest; the digest (not the content) is the shuffle
    key, so 100TB of text moves as 16-byte hashes + ids."""
    h = F.md5(F.col(text_col))
    return (df.select(F.col(id_col), h.alias("h"))
            .groupBy("h")
            .agg(F.min(id_col).alias(id_col),
                 F.count(F.lit(1)).alias("n_copies")))


def _bucketed_self_join(rel: DataFrame, keys: list[str],
                        id_col: str = "id",
                        chunk_target: int = 2048,
                        bn_col: str | None = None) -> DataFrame:
    """Self-join ``rel`` with itself on ``keys``; non-key columns come back
    suffixed ``_a`` / ``_b``. Output is identical to
    ``rel ⋈_keys rel`` — but buckets larger than ``chunk_target`` rows
    are salted so their quadratic pair output spreads across tasks.

    Why AQE isn't enough: Spark's skew-join splitter triggers on join
    INPUT partition bytes, while a degenerate LSH bucket (B near-identical
    documents) has tiny input — B rows of ~24 bytes — and quadratic
    OUTPUT (B² candidate rows), all produced by the single task that owns
    that key (measured: a 2k-doc hot bucket never trips AQE at any
    threshold because its input is ~48 KB). So the split must be explicit
    and output-aware:

    - bucket sizes (r14 optimization, guide §2.3/§2.4): the r9–r13
      formulation counted them with an unordered COUNT window over the
      bucket keys, on the reasoning that the window "rides the one
      exchange on ``keys``". What that analysis missed is that the
      window subtree hangs under BOTH join sides and Spark shares no
      work between the two references: every input row was exchanged,
      sorted and window-buffered TWICE before the join's own exchange
      on ``keys + cells`` even started — 4 full exchanges + 2
      WindowExec sorts of the relation per self-join (mirrored
      Exchange→Sort→Window subtrees under both SMJ inputs,
      plans/r14/ngram_jaccard_before.txt). Now ``bn_col`` names a
      column of ``rel`` that already holds each row's bucket size —
      the ngram/item path's document-frequency window count IS the
      post-prune bucket size (df-pruning drops whole buckets, never
      part of one), so those callers pay no counting pass at all —
      and otherwise sizes come from a map-side-combined per-key
      aggregate whose > ``chunk_target`` survivors (usually none)
      broadcast back as a hot-key table with ``nc`` defaulting to 1
      on the broadcast miss (the _bucketed_join pattern). The
      aggregate's exchange carries ~one row per key after partial
      aggregation; each side then pays exactly ONE full exchange —
      the join's — and no WindowExec sort anywhere. The hot-key
      table is MATERIALIZED before use (r15): as a lazy subtree it
      hung under BOTH join sides, so the sizing pass over ``rel``
      ran twice (plans/r14/dedup_simhash_after.txt nodes 5-14 vs
      27-36 — Exchanges 10→14 vs the window form, and the
      interpreted banding Generate ran 4× per query). Checkpointing
      the ≤|hot keys| relation runs it once; and when it comes back
      EMPTY — the common case, every bucket under ``chunk_target`` —
      the salting short-circuits to the plain self-join, which is
      bit-identical output (nc=1 everywhere is the identity
      chunking) with zero broadcast/explode machinery in the plan;
    - each member of a hot bucket gets a chunk ``c = hash(id) mod nc``
      with ``nc = ceil(B / chunk_target)``; the left side replicates to
      cells ``(c, j) ∀j``, the right to ``(i, c) ∀i``, and the join key
      becomes ``keys + (ci, cj)`` — every ordered pair lands in EXACTLY
      one cell ``(c_a, c_b)``, so no duplicates and no misses;
    - per-cell work is bounded by ``chunk_target²`` pair rows regardless
      of B; replication cost is 2·B·nc narrow rows, negligible next to
      the B² join output that was already inherent to LSH.

    Cold buckets take ``nc = 1`` — one cell, the original plan, two extra
    int columns of overhead. (The reference has no analog: bigslice's
    cogroup would funnel the whole bucket through one reducer,
    reduce.go:1-40.)

    The join is pinned to sort-merge (``hint("merge")``): if the
    relation happens to fit the broadcast threshold, Catalyst would
    broadcast one side — and then the probe side keeps its upstream
    partitioning, so the hot bucket's entire B² output is produced by
    the one task that owns its key and the cell spreading silently
    does nothing. The hint is plan-neutral at corpus scale (a
    self-join of a corpus-scale relation is sort-merge anyway —
    measured at sf0.1) and forces the exchange on ``keys + cells``
    exactly where the salting needs it."""
    payload = [c for c in rel.columns if c not in keys and c != bn_col]
    if bn_col is not None:
        # coalesce: a NULL bucket size would make __nc__ NULL and the
        # sequence-explode below silently DROP the row (missed pairs,
        # no error) — internal callers pass never-NULL window counts,
        # but the guard costs nothing (ADVICE r14)
        salted = rel.withColumn(
            "__nc__",
            F.coalesce(
                F.ceil(F.col(bn_col) / F.lit(float(chunk_target)))
                .cast("int"), F.lit(1)))
    else:
        from ..checkpoint import materialize, release
        hot = materialize(
            rel.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__bn__"))
            .filter(F.col("__bn__") > chunk_target)
            .select(*keys,
                    F.ceil(F.col("__bn__")
                           / F.lit(float(chunk_target)))
                    .cast("int").alias("__nc__")))
        if hot.isEmpty():
            # no hot bucket anywhere: salting is the identity — run
            # the plain (still merge-pinned) self-join with no salt
            # columns, broadcast or explode in the plan at all
            release(hot)
            left = rel.select(
                *keys, *[F.col(c).alias(c + "_a") for c in payload])
            right = rel.select(
                *keys, *[F.col(c).alias(c + "_b") for c in payload])
            return left.hint("merge").join(right.hint("merge"),
                                           on=list(keys))
        salted = (rel.join(F.broadcast(hot), on=list(keys), how="left")
                  .withColumn("__nc__",
                              F.coalesce(F.col("__nc__"), F.lit(1))))
    salted = salted.withColumn(
        "__c__", F.pmod(F.xxhash64(F.col(id_col)),
                        F.col("__nc__")).cast("int"))
    chunks = F.explode(F.sequence(F.lit(0), F.col("__nc__") - 1))
    left = salted.select(
        *keys, *[F.col(c).alias(c + "_a") for c in payload],
        F.col("__c__").alias("__ci__"), chunks.alias("__cj__"))
    right = salted.select(
        *keys, *[F.col(c).alias(c + "_b") for c in payload],
        chunks.alias("__ci__"), F.col("__c__").alias("__cj__"))
    return (left.hint("merge")
            .join(right.hint("merge"),
                  on=list(keys) + ["__ci__", "__cj__"])
            .drop("__ci__", "__cj__"))


def _shingle_rows(df: DataFrame, text_col: str, id_col: str,
                  w: int = 3, distinct: bool = True) -> DataFrame:
    """(id, shingle) rows via posexplode + window lead — every expression
    stays inside whole-stage codegen (vs the interpreted array-lambda
    form in _shingles, measured ~19µs/shingle and ~10× slower at sf0.1).
    One shuffle on id for the window; docs shorter than w yield a single
    whole-doc shingle, matching _shingles and the DuckDB oracles."""
    t = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    t = t.select(id_col, F.size("__toks").alias("__n"),
                 F.array_join("__toks", " ").alias("__all"),
                 F.posexplode_outer("__toks").alias("__pos", "__tok"))
    wspec = W.partitionBy(id_col).orderBy("__pos")
    parts = [F.col("__tok")] + [F.lead("__tok", k).over(wspec)
                                for k in range(1, w)]
    ann = t.withColumn("__sh", F.concat_ws(" ", *parts))
    # single conditional pass, NOT a union of two filters — a union makes
    # Spark evaluate the posexplode+window subtree once per branch
    keep = (((F.col("__n") >= w) & (F.col("__pos") <= F.col("__n") - w))
            | ((F.col("__n") < w)
               & (F.col("__pos").isNull() | (F.col("__pos") == 0))))
    val = F.when(F.col("__n") >= w, F.col("__sh")).otherwise(F.col("__all"))
    out = ann.filter(keep).select(id_col, val.alias("tok"))
    return out.distinct() if distinct else out


def _shingles(text_col: str, w: int = 3) -> "F.Column":
    """Word w-shingles as an array column (empty-safe).

    NOTE: the higher-order lambdas here are INTERPRETED by Spark (no
    codegen); hot paths use _shingle_rows instead."""
    toks = tokens(text_col)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (w - 1), F.lit(1)))
    return F.when(n >= w, F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i, w)))
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 64,
                       shingle_w: int = 3,
                       portable: bool = False) -> DataFrame:
    """doc → array<long> of minhash signatures, fully expression-level.

    h_i(x) = (a_i * x + b_i) mod p over 31-bit shingle hashes; a_i/b_i are
    a fixed deterministic family (reproducible across runs/engines).
    ``portable=True`` swaps the token hash for the md5-derived one (see
    _tok_hash31) so any ANSI-SQL engine can replay the signatures."""
    # Shingle rows come from the codegen'd _shingle_rows path (duplicate
    # shingles are harmless under MIN, so skip the distinct shuffle),
    # then 64 codegen'd MIN aggregates over the exploded hashes. An
    # array_min(transform(...)) formulation measured 16s at sf0.01 vs
    # ~1s for this plan — higher-order lambdas are interpreted. Map-side
    # partial aggregation collapses rows back to ~one per document
    # before the exchange, so the shuffle stays narrow at scale.
    wide = _minhash_wide(df, text_col, id_col, num_hashes, shingle_w,
                         portable)
    return wide.select(
        F.col(id_col),
        F.array(*[F.col(f"__s{i}__") for i in range(num_hashes)])
        .alias("sig"))


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """The fixed affine family (a_i, b_i) — exported so oracles can
    replay h_i(x) = (a_i*x + b_i) mod _MH_PRIME exactly."""
    return [(_splitmix64(2 * i) % (_MH_PRIME - 1) + 1,
             _splitmix64(2 * i + 1) % _MH_PRIME)
            for i in range(num_hashes)]


def _minhash_wide(df: DataFrame, text_col: str, id_col: str,
                  num_hashes: int, shingle_w: int,
                  portable: bool = False) -> DataFrame:
    """One column per minhash (``__s0__``..). The wide form exists to keep
    the 64 MIN aggregates inside whole-stage codegen; banding then
    deliberately consumes the ASSEMBLED array from minhash_signatures
    (per-document interpreted lambdas are negligible — see the comment in
    minhash_lsh_pairs)."""
    hx = (_shingle_rows(df, text_col, id_col, shingle_w, distinct=False)
          .select(F.col(id_col), _tok_hash31(portable).alias("h")))
    # splitmix64-derived coefficients: an arithmetic-progression family
    # ((2i+1)*c) is NOT pairwise independent — one shared shingle could
    # win the min for most i simultaneously (observed: 45/64 matches on
    # a 0.009-Jaccard pair). a in [1, p-1], b in [0, p-1).
    # One F.expr parse per aggregate (not ~6 chained Column ops): py4j
    # round trips per operator cost real driver seconds on 64-wide aggs.
    aggs = [F.expr(f"min(pmod(h * {a} + {b}, {_MH_PRIME}))")
            .alias(f"__s{i}__")
            for i, (a, b) in enumerate(minhash_coeffs(num_hashes))]
    return hx.groupBy(id_col).agg(*aggs)


def _band_rows(sig: DataFrame, id_col: str, bands: int,
               rows_per_band: int, portable: bool) -> DataFrame:
    """(id, band, bh) rows from a signature relation — the NARROW
    banding product (24 bytes/row; the 512-byte signature itself never
    rides a band shuffle). Interpreted array-lambda form deliberately:
    per-DOCUMENT evaluation, see the codegen note in
    minhash_lsh_pairs."""
    def _band_key(b):
        s = F.concat_ws(",", F.transform(
            F.slice("sig", b * rows_per_band + 1, rows_per_band),
            lambda x: x.cast("string")))
        return s if portable else F.xxhash64(s)

    return sig.select(
        F.col(id_col).alias("id"),
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(b.alias("band"), _band_key(b).alias("bh"))
        )).alias("bk")) \
        .select("id", F.col("bk.band").alias("band"),
                F.col("bk.bh").alias("bh"))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 64,
                      bands: int = 16, threshold: float = 0.5,
                      shingle_w: int = 3,
                      portable: bool = False,
                      chunk_target: int = 2048) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH, verified by signature
    similarity (fraction of matching minhashes ≈ Jaccard).

    Plan shape: signatures (narrow scan, materialized once) → explode
    bands → NARROW (id, band, bh) relation → equi self-join on (band, bh)
    for pair generation → distinct pairs → join signatures back by id →
    verify. Properties that matter at 100TB:

    - NO bucket cap: every co-bucketed pair is emitted, however
      degenerate the bucket (a capped collect_list would silently miss
      duplicates exactly on the near-identical corpora dedup exists
      for). A B-member bucket costs B² join rows — inherent to LSH —
      and _bucketed_self_join salts hot buckets so that cost spreads
      across (B/chunk)² tasks. (AQE's skew splitter can NOT do this:
      it triggers on join input bytes, and a degenerate bucket has
      ~24·B bytes of input but B² of output.)
    - The band shuffle carries (id, band, bh) only — 24 bytes/row — not
      the 64-long signature (which would be amplified ×bands). Sigs are
      fetched once per SURVIVING pair by an id equi-join.
    """
    rows_per_band = num_hashes // bands
    # materialized: banding + both sides of the verify join reference it
    sig = materialize(
        minhash_signatures(df, text_col, id_col, num_hashes, shingle_w,
                           portable))
    # Banding stays in the interpreted array-lambda form DELIBERATELY:
    # a codegen formulation (16 band-hash structs off the wide agg
    # columns in one projection) measured 23s cold vs 5s here — Janino
    # JIT of the ~150-expression method dominates. Banding evaluates
    # once per DOCUMENT (not per shingle), so the interpreted per-row
    # cost stays negligible at any scale. In portable mode the band key
    # is the joined slice STRING itself (SQL-replayable, ~40 bytes);
    # default compresses it to 8 bytes with xxhash64 — same equivalence
    # classes minus a ~2^-64 collision, so same pairs.
    banded = _band_rows(sig, id_col, bands, rows_per_band, portable)
    cand = (_bucketed_self_join(banded, ["band", "bh"],
                                chunk_target=chunk_target)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct())
    matches = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
    pairs = (cand
             .join(sig.toDF("id_a", "sig_a"), on="id_a")
             .join(sig.toDF("id_b", "sig_b"), on="id_b")
             .select("id_a", "id_b",
                     (matches.cast("double")
                      / F.lit(float(num_hashes))).alias("sim")))
    return pairs.filter(F.col("sim") >= threshold)


def minhash_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", **kw) -> DataFrame:
    """Keep a document unless a near-duplicate with a smaller id exists
    (single-pass practical policy; full transitive closure is iterative
    and rarely worth it for training-data dedup)."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, **kw)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", portable: bool = False) -> DataFrame:
    """64-bit SimHash over whitespace tokens:
    bit_j = sign( Σ_tokens (bit_j(hash(token)) ? +1 : -1) ).

    Explode+aggregate formulation: array lambdas are interpreted in Spark,
    but 64 SUM aggregates over exploded token hashes stay inside
    whole-stage codegen, with map-side partial aggregation keeping the
    shuffle at ~one row per document.

    ``portable=True`` draws the 64 token bits from two 32-bit md5-derived
    halves instead of xxhash64 (bits 0-31 ← md5 chars 1-8, bits 32-63 ←
    chars 9-16) — bit-identical in any engine, so the DuckDB oracle
    replays the whole fingerprint."""
    tok_rows = df.select(F.col(id_col), F.explode(tokens(text_col))
                         .alias("t"))
    if portable:
        th = tok_rows.select(
            F.col(id_col),
            F.conv(F.substring(F.md5("t"), 1, 8), 16, 10)
            .cast("long").alias("h_lo"),
            F.conv(F.substring(F.md5("t"), 9, 8), 16, 10)
            .cast("long").alias("h_hi"))

        def bit(j):
            src, k = ("h_lo", j) if j < 32 else ("h_hi", j - 32)
            return f"(shiftright({src}, {k}) & 1)"
    else:
        th = tok_rows.select(F.col(id_col), F.xxhash64("t").alias("h"))

        def bit(j):
            return f"(shiftright(h, {j}) & 1)"

    # F.expr per aggregate / one parse for the 64-bit assembly — chained
    # Column ops cost a py4j round trip each (driver seconds at 64-wide)
    aggs = [F.expr(f"sum(CASE WHEN {bit(j)} = 1 THEN 1 ELSE -1 END)")
            .alias(f"__b{j}__") for j in range(64)]
    wide = th.groupBy(id_col).agg(*aggs)
    out = F.expr(" | ".join(
        f"(CASE WHEN __b{j}__ > 0 THEN shiftleft(CAST(1 AS BIGINT), {j}) "
        f"ELSE CAST(0 AS BIGINT) END)" for j in range(64)))
    return wide.select(F.col(id_col), out.alias("sh"))


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  portable: bool = False,
                  chunk_target: int = 2048) -> DataFrame:
    """Near-dup pairs by SimHash: pigeonhole on 4×16-bit bands (hamming ≤ 3
    ⇒ at least one band equal), then exact hamming verify via bit_count.

    Pair generation is an equi self-join on (band, bh) — NO bucket cap,
    hot buckets salted (see _bucketed_self_join). The 8-byte fingerprint
    rides the band rows
    (×4 amplification of 8 bytes is noise), so the verify needs no
    join-back."""
    sh = materialize(simhash64(df, text_col, id_col, portable))
    banded = sh.select(
        F.col(id_col).alias("id"), "sh",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright("sh", 16 * b)
                     .bitwiseAND(F.lit(0xFFFF)).alias("bh"))
            for b in range(4)])).alias("bk")) \
        .select("id", "sh", F.col("bk.band").alias("band"),
                F.col("bk.bh").alias("bh"))
    return (_bucketed_self_join(banded, ["band", "bh"],
                                chunk_target=chunk_target)
            .filter(F.col("id_a") < F.col("id_b"))
            .select(F.col("id_a"), F.col("id_b"),
                    F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
                    .alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .groupBy("id_a", "id_b").agg(F.min("hamming").alias("hamming")))


def _set_sim_pairs(post: DataFrame, id_col: str, count: int | DataFrame,
                   threshold: float, max_df_ratio: float, metric: str,
                   chunk_target: int) -> DataFrame:
    """Exact set-similarity self-join over distinct ``post(id_col, tok)``
    postings: (id_a, id_b, metric) for every id_a < id_b whose score
    reaches ``threshold``. The one kernel behind ngram_jaccard_pairs and
    item_jaccard_pairs; the oracle builder queries._set_sim_ctes replays
    it.

    - One-pass inverted index: set sizes and token document
      frequencies ride the same postings as window counts.
    - df-pruning: tokens held by more than max_df_ratio of the ids are
      dropped before the join — quadratic fanout, no discriminative
      signal. Scores use the UNPRUNED set sizes. ``count`` is the id
      count: an int if known, else a 1-row, 1-column frame joined in
      as a broadcast scalar (the q11/q22 threshold-subquery pattern) —
      never a driver-side count, which would cost a full extra pass
      over the input before the real job.
    - The pruned index is materialized before the self-join, which
      would otherwise recompute it on both sides (measured
      7.4s → 2.9s at sf0.1 for the shingle index). Where it is stored
      is checkpoint.materialize's call (the master decides).
    - Hot posting lists are salted by _bucketed_self_join, with the df
      window count as the bucket size (bn_col): df-pruning drops whole
      posting lists, never part of one, so the join needs no counting
      pass of its own.

    ``metric`` is 'jaccard', inter/(|A| + |B| − inter), or
    'containment', inter/min(|A|, |B|); it also names the output
    column."""
    if metric not in ("jaccard", "containment"):
        raise ValueError(f"unknown metric {metric!r}")
    sz = F.count(F.lit(1)).over(W.partitionBy(id_col))
    dfreq = F.count(F.lit(1)).over(W.partitionBy("tok"))
    ann = post.withColumn("sz", sz).withColumn("df", dfreq)
    if isinstance(count, DataFrame):
        pruned = (ann.join(F.broadcast(count))
                  .filter(F.col("df") <= F.floor(
                      F.lit(float(max_df_ratio))
                      * F.col(count.columns[0]))))
    else:
        pruned = ann.filter(F.col("df") <= int(max_df_ratio * count))
    cold = materialize(pruned.select(id_col, "tok", "sz", "df"))
    return (_bucketed_self_join(cold.toDF("id", "tok", "sz", "__bn__"),
                                ["tok"], chunk_target=chunk_target,
                                bn_col="__bn__")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "sz_a", "sz_b")
            .agg(F.count(F.lit(1)).alias("inter"))
            .withColumn(metric,
                        F.col("inter").cast("double")
                        / (F.least("sz_a", "sz_b").cast("double")
                           if metric == "containment" else
                           (F.col("sz_a") + F.col("sz_b")
                            - F.col("inter")).cast("double")))
            .filter(F.col(metric) >= threshold)
            .select("id_a", "id_b", metric))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", threshold: float = 0.6,
                        max_df_ratio: float = 0.5,
                        shingle_w: int = 3,
                        ndocs: int | None = None,
                        chunk_target: int = 2048,
                        metric: str = "jaccard") -> DataFrame:
    """Exact n-gram (word w-shingle) Jaccard via inverted-index self-join —
    the SQL-expressible (oracle-checkable) dedup path (Broder
    w-shingling; shingle_w=1 degenerates to plain tokens). The
    postings are _shingle_rows' distinct (id, shingle) rows; pruning,
    the salted self-join and scoring are _set_sim_pairs'.

    Shingles, not tokens, keep the self-join sub-quadratic at 100×: a
    w-shingle key space is |vocab|^w, so the posting lists stay short
    even on small vocabularies (measured: the token formulation was
    84s at sf0.1 on a 31-word vocab; shingles make it seconds).

    df-pruning divides by the row count of ``df``: pass ``ndocs=`` if
    known, else it is computed in-plan (see _set_sim_pairs).

    ``metric='containment'`` scores inter/min(|A|,|B|) instead —
    the asymmetric near-dup case (a doc quoted whole inside a larger
    one scores ~1.0 where Jaccard stays low); same index, same join,
    only the final expression changes. Output column is named after
    the metric."""
    toks = _shingle_rows(df, text_col, id_col, shingle_w, distinct=True)
    count = (ndocs if ndocs is not None
             else df.select(F.count(F.lit(1)).alias("__ndocs__")))
    return _set_sim_pairs(toks, id_col, count, threshold, max_df_ratio,
                          metric, chunk_target)


def embedding_cosine_pairs(df: DataFrame, vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           bucket_col: str = "label",
                           threshold: float = 0.95,
                           chunk_target: int = 2048) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold within coarse buckets
    (label / LSH band / IVF cell). The bucket join bounds the quadratic
    candidate space; cosine is a codegen'd zip_with/aggregate in double."""
    from .similarity import _cosine, _prep
    # cut once: the norm projection feeds the self-join's two sides
    # plus the bucket-size aggregate (the semantic_dedup rule) — an
    # unmaterialized subtree would re-run the corpus-scale dot/sqrt
    # per reference
    v = materialize(_prep(df, vec_col, id_col,
                          F.col(bucket_col).alias("bk"),
                          names=(id_col, "v", "n")))
    return (_bucketed_self_join(v.toDF("id", "bk", "v", "n"), ["bk"],
                                chunk_target=chunk_target)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", _cosine("v_a", "v_b", "n_a", "n_b"))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def span_dedup(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", sep: str = "\n",
               keep: str = "min_id") -> DataFrame:
    """Cross-document span-level exact dedup (the C4 / RefinedWeb line
    rule): split every document on ``sep``, keep each distinct span
    only in ONE document (the smallest ``id_col`` containing it), drop
    it everywhere else, and reconstruct the surviving text in original
    span order. Documents whose every span is claimed elsewhere vanish
    (C4 drops emptied documents).

    Scale shape: the ownership decision shuffles only (md5, id) pairs —
    24-byte rows, never span text; the text moves in exactly two
    exchanges (the hash-join that applies the verdict and the groupBy
    that reassembles documents). Per-document reassembly uses an
    interpreted array transform, which is fine per-DOCUMENT (see
    PERFORMANCE.md's codegen rule of thumb: codegen per-token work,
    tolerate interpretation once per document).

    Reference: no analog in bigslice; part of the LLM-pipeline surface
    this engine adds.
    """
    if keep != "min_id":
        raise ValueError(f"unsupported keep policy: {keep}")
    spans = (df.select(F.col(id_col),
                       F.posexplode(F.split(F.col(text_col), sep))
                       .alias("pos", "span"))
             .filter(F.col("span") != ""))
    h = F.md5(F.col("span"))
    owner = (spans.select(h.alias("h"), F.col(id_col))
             .groupBy("h").agg(F.min(id_col).alias("__keep")))
    kept = (spans.withColumn("h", h)
            .join(owner, on="h")
            .filter(F.col(id_col) == F.col("__keep")))
    ordered = F.array_sort(F.collect_list(F.struct("pos", "span")))
    return (kept.groupBy(id_col)
            .agg(F.array_join(
                F.transform(ordered, lambda x: x["span"]), sep)
                .alias(text_col)))


def _bucketed_join(left: DataFrame, right: DataFrame, keys: list[str],
                   id_col: str = "id",
                   chunk_target: int = 2048) -> DataFrame:
    """Two-relation analog of _bucketed_self_join: ``left ⋈_keys
    right`` (payload columns suffixed ``_a``/``_b``) with hot buckets
    chunked on BOTH sides so a degenerate key's |A_k|·|B_k| output
    spreads across (nca·ncb) cells instead of one task.

    Unlike the self-join, each side needs the OTHER side's chunk count
    to replicate against, so the per-key sizes are tiny aggregates
    (map-side combine → ~one row per key) joined into a hot-key table
    that broadcasts back to both sides; keys where both sides fit in
    one chunk pay only two extra int columns.

    Deliberately NOT pinned to sort-merge (contrast
    _bucketed_self_join): the asymmetric use (small new batch × huge
    corpus) wins precisely because the small side broadcasts and the
    corpus never shuffles. Under a broadcast plan each corpus row
    emits at most ``chunk_target`` pairs per matching a-chunk, and the
    quadratic output follows the STREAM side's input layout — evenly
    spread for hash/arrival-ordered inputs; a corpus FILE-CLUSTERED on
    the join key concentrates it, and such inputs should be
    pre-repartitioned by the caller (or the join will be sort-merge
    anyway once both sides exceed the broadcast threshold)."""
    la = [c for c in left.columns if c not in keys]
    rb = [c for c in right.columns if c not in keys]
    lc = left.groupBy(*keys).agg(F.count(F.lit(1)).alias("__ln__"))
    rc = right.groupBy(*keys).agg(F.count(F.lit(1)).alias("__rn__"))
    # materialized + empty short-circuit (r15, the _bucketed_self_join
    # fix): the lazy hot subtree hung under BOTH replicated sides, so
    # the two sizing aggregates ran twice each; and when no key is hot
    # on either side — the common case — the chunking is the identity
    # and the plain join is bit-identical with none of the salting
    # machinery in the plan.
    from ..checkpoint import materialize, release
    hot = materialize(
        lc.join(rc, on=list(keys))
        .select(*keys,
                F.ceil(F.col("__ln__") / F.lit(float(chunk_target)))
                .cast("int").alias("__nca__"),
                F.ceil(F.col("__rn__") / F.lit(float(chunk_target)))
                .cast("int").alias("__ncb__"))
        .filter((F.col("__nca__") > 1) | (F.col("__ncb__") > 1)))
    if hot.isEmpty():
        release(hot)
        lp = left.select(
            *keys, *[F.col(c).alias(c + "_a") for c in la])
        rp = right.select(
            *keys, *[F.col(c).alias(c + "_b") for c in rb])
        return lp.join(rp, on=list(keys))
    l2 = (left.join(F.broadcast(hot), on=list(keys), how="left")
          .withColumn("__nca__", F.coalesce(F.col("__nca__"), F.lit(1)))
          .withColumn("__ncb__", F.coalesce(F.col("__ncb__"), F.lit(1)))
          .withColumn("__ca__", F.pmod(F.xxhash64(F.col(id_col)),
                                       F.col("__nca__")).cast("int")))
    r2 = (right.join(F.broadcast(hot), on=list(keys), how="left")
          .withColumn("__nca__", F.coalesce(F.col("__nca__"), F.lit(1)))
          .withColumn("__ncb__", F.coalesce(F.col("__ncb__"), F.lit(1)))
          .withColumn("__cb__", F.pmod(F.xxhash64(F.col(id_col)),
                                       F.col("__ncb__")).cast("int")))
    lrep = l2.select(
        *keys, *[F.col(c).alias(c + "_a") for c in la],
        F.col("__ca__"),
        F.explode(F.sequence(F.lit(0), F.col("__ncb__") - 1))
        .alias("__cb__"))
    rrep = r2.select(
        *keys, *[F.col(c).alias(c + "_b") for c in rb],
        F.explode(F.sequence(F.lit(0), F.col("__nca__") - 1))
        .alias("__ca__"), F.col("__cb__"))
    return (lrep.join(rrep, on=list(keys) + ["__ca__", "__cb__"])
            .drop("__ca__", "__cb__"))


def exact_dedup_against(new_df: DataFrame, corpus_df: DataFrame,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Incremental exact dedup: drop new documents whose content digest
    already exists in the corpus (the continual-ingestion shape — a new
    crawl against 100 TB of accepted data). The anti-join shuffles
    16-byte digests, never text."""
    seen = corpus_df.select(F.md5(F.col(text_col)).alias("__h")) \
        .distinct()
    return (new_df.withColumn("__h", F.md5(F.col(text_col)))
            .join(seen, on="__h", how="left_anti").drop("__h"))


def minhash_pairs_against(new_df: DataFrame, corpus_df: DataFrame,
                          text_col: str = "text",
                          id_col: str = "doc_id", num_hashes: int = 64,
                          bands: int = 16, shingle_w: int = 3,
                          threshold: float = 0.8,
                          portable: bool = False,
                          chunk_target: int = 2048,
                          corpus_sig: DataFrame | None = None
                          ) -> DataFrame:
    """(new_id, corpus_id, sim): near-duplicate matches of NEW documents
    against an EXISTING corpus — the asymmetric LSH join. Same narrow
    band relation and signature-verify as minhash_lsh_pairs, but
    corpus×corpus pairs are never generated: each side bands
    independently and only cross-side candidates survive, so the cost
    is driven by the (small) new batch, not the corpus' own near-dup
    structure.

    Repeated admission runs (a streaming ingest, a nightly batch
    series) should precompute ``corpus_sig = materialize(
    minhash_signatures(corpus, ...))`` once and pass it in — otherwise
    every call re-indexes the full corpus."""
    sig_n = materialize(
        minhash_signatures(new_df, text_col, id_col, num_hashes,
                           shingle_w, portable))
    sig_c = corpus_sig if corpus_sig is not None else materialize(
        minhash_signatures(corpus_df, text_col, id_col, num_hashes,
                           shingle_w, portable))
    rpb = num_hashes // bands
    bn = _band_rows(sig_n, id_col, bands, rpb, portable)
    bc = _band_rows(sig_c, id_col, bands, rpb, portable)
    cand = (_bucketed_join(bn, bc, ["band", "bh"],
                           chunk_target=chunk_target)
            .select(F.col("id_a").alias("new_id"),
                    F.col("id_b").alias("corpus_id"))
            .distinct())
    matches = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
    return (cand
            .join(sig_n.toDF("new_id", "sig_a"), on="new_id")
            .join(sig_c.toDF("corpus_id", "sig_b"), on="corpus_id")
            .select("new_id", "corpus_id",
                    (matches.cast("double")
                     / F.lit(float(num_hashes))).alias("sim"))
            .filter(F.col("sim") >= threshold))


def minhash_dedup_against(new_df: DataFrame, corpus_df: DataFrame,
                          text_col: str = "text",
                          id_col: str = "doc_id", **kw) -> DataFrame:
    """Keep only new documents with NO near-duplicate in the corpus —
    the admission filter of an incremental ingestion pipeline."""
    flagged = (minhash_pairs_against(new_df, corpus_df, text_col,
                                     id_col, **kw)
               .select(F.col("new_id").alias(id_col)).distinct())
    return new_df.join(flagged, on=id_col, how="left_anti")


def dedup_keep_best(df: DataFrame, score: DataFrame,
                    text_col: str = "text", id_col: str = "doc_id",
                    score_col: str = "quality",
                    threshold: float = 0.5,
                    portable: bool = False) -> DataFrame:
    """Policy-based near-dup removal: each duplicate CLUSTER keeps its
    highest-``score_col`` member (ties → smallest id) instead of the
    smallest id — real corpus builds keep the best copy (longest /
    cleanest / highest quality), not an arbitrary one.

    Composition of the audited pieces: banded-LSH pairs →
    connected-components clusters → per-cluster argmax via
    max(struct(score, -id)) — one extra aggregation on cluster ids
    (tiny at any corpus size), no new shuffle of document data.
    Returns (id_col, score_col) for every surviving document
    (cluster winners + all singletons)."""
    from .graph import connected_components
    from pyspark.sql import functions as F
    pairs = minhash_lsh_pairs(df, threshold=threshold, portable=portable,
                              text_col=text_col, id_col=id_col)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    member = comp.join(score, comp["node"] == score[id_col]) \
        .select(score[id_col], "component", score_col)
    best = member.groupBy("component").agg(
        F.max(F.struct(F.col(score_col).alias("q"),
                       (-F.col(id_col)).alias("nd"))).alias("w"))
    winners = best.select(
        (-F.col("w")["nd"]).cast("long").alias(id_col))
    singles = score.join(
        comp.select(F.col("node").alias(id_col)),
        on=id_col, how="left_anti").select(id_col)
    keep = winners.unionByName(singles)
    return score.join(keep, on=id_col).select(id_col, score_col)


def edit_distance_rerank(pairs: DataFrame, docs: DataFrame,
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         max_dist: int | None = None) -> DataFrame:
    """Exact Levenshtein verification of candidate near-dup pairs —
    the standard last stage after LSH/shingle candidate generation:
    join each (id_a, id_b) back to its texts and compute the JVM
    codegen ``levenshtein`` (+ optional ``max_dist`` filter).

    Scale: edit distance is quadratic in document length, so it runs
    on the CANDIDATE pairs only (bounded by the generator), never the
    corpus cross product; the two text joins shuffle candidate ids
    against the corpus key. Spark's levenshtein is character-exact
    incl. multi-byte text; DuckDB's replay is byte-level — equal on
    ASCII corpora (the oracle's case), off by the byte/char gap
    otherwise."""
    a = docs.select(F.col(id_col).alias("id_a"),
                    F.col(text_col).alias("__ta__"))
    b = docs.select(F.col(id_col).alias("id_b"),
                    F.col(text_col).alias("__tb__"))
    out = (pairs.join(a, on="id_a").join(b, on="id_b")
           .withColumn("edit_dist", F.levenshtein("__ta__", "__tb__"))
           .drop("__ta__", "__tb__"))
    if max_dist is not None:
        out = out.filter(F.col("edit_dist") <= max_dist)
    return out


def semantic_dedup(df: DataFrame, centroids: list[list[float]],
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   threshold: float = 0.95,
                   chunk_target: int = 2048,
                   cell_col: str | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication: assign every embedding to
    its nearest centroid (centroids typically come from
    clustering.kmeans_train), then drop any vector that has a lower-id
    neighbor with cosine ≥ ``threshold`` INSIDE its cluster. Returns
    the survivors as (id, cell).

    The cluster step is what makes this scale: candidate pairs are
    generated per-cell (k cells bound the quadratic blowup to
    Σ|cell|²), with hot cells salted by _bucketed_self_join exactly
    like the LSH path. Choose k ~ N/target_cell_size; the drop rule is
    the same greedy lower-id policy the other dedup families use, so
    results are deterministic and engine-reproducible (exact-double
    cosines, (d, cell) assignment tie-break).

    The inline assignment is a join-free projection: array_min over
    struct(_sq_l2(v, centroid literal), cell), one fold per centroid —
    the coarse stage of clustering.kmeans_assign_ivf. Its work is
    O(k) per vector; for large k precompute cells (e.g. with
    clustering.kmeans_assign_ivf, O(√k) per vector) and pass
    ``cell_col=`` to skip the inline assignment entirely.
    """
    from .similarity import _cosine, _lit_vec, _prep, _sq_l2
    # zero-norm and NULL vectors stay: with no near neighbor, they
    # survive
    names = ("id", "__v__", "n")
    if cell_col:
        v = _prep(df, vec_col, id_col,
                  F.col(cell_col).cast("int").alias("cell"),
                  names=names, nonzero=False)
    else:
        v = _prep(df, vec_col, id_col, names=names, nonzero=False)
        cell = F.array_min(F.array(*[
            F.struct(_sq_l2("__v__", _lit_vec(c)).alias("d"),
                     F.lit(ci).alias("cell"))
            for ci, c in enumerate(centroids)]))["cell"]
        v = v.select("id", cell.alias("cell"), "__v__", "n")
    # the assignment subtree feeds BOTH the candidate self-join and
    # the survivor anti-join — cut it once so the corpus-scale scan +
    # argmin doesn't run twice (the ngram_jaccard shared-index rule)
    v = materialize(v)
    cand = (_bucketed_self_join(
                v.filter(F.col("n") > 0).toDF("id", "cell", "v", "n"),
                ["cell"], chunk_target=chunk_target)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", _cosine("v_a", "v_b", "n_a", "n_b")))
    # drop rule as an AGGREGATE, not a row filter: `max(cosine) >= t`
    # ≡ `∃ pair >= t` (same doubles, same verdict), but a row filter
    # here gets pushed INTO the sort-merge join condition, where the
    # per-pair cosine is evaluated inside the (non-codegen) join inner
    # loop — measured 62x superlinear wall at the sf1.0 sweep. The
    # aggregate keeps the join condition to the cheap id inequality
    # and partial-aggregates the pairs map-side; it also subsumes the
    # old distinct() (same exchange, one pass).
    dropped = (cand.groupBy(F.col("id_b").alias("id"))
               .agg(F.max("cosine").alias("__mx__"))
               .filter(F.col("__mx__") >= threshold)
               .select("id"))
    return (v.select("id", "cell")
            .join(dropped, on="id", how="left_anti")
            .select(F.col("id").alias(id_col), "cell"))


def item_jaccard_pairs(rel: DataFrame, id_col: str, item_col: str,
                       threshold: float = 0.3,
                       max_df_ratio: float = 0.5,
                       nids: int | None = None,
                       chunk_target: int = 2048) -> DataFrame:
    """Generic exact set-similarity self-join over ANY (id, item)
    relation — the ngram_jaccard machinery freed from text: entities
    with Jaccard(items_a, items_b) ≥ threshold (users by purchased
    parts, docs by cited ids, hosts by outlinks...).

    The postings are the distinct (id, item) rows; pruning, the salted
    self-join and scoring are _set_sim_pairs'. df-pruning divides by
    the number of distinct ids: pass ``nids=`` if known, else it is
    computed in-plan as a broadcast scalar.
    """
    post = rel.select(F.col(id_col), F.col(item_col).alias("tok")) \
        .distinct()
    count = (nids if nids is not None
             else post.select(
                 F.count_distinct(F.col(id_col)).alias("__nids__")))
    return _set_sim_pairs(post, id_col, count, threshold, max_df_ratio,
                          "jaccard", chunk_target)
