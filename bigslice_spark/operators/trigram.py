"""Trigram-indexed substring and regex search — distributed grep with
index-pruned scans (the public Google Code Search construction:
Cox, "Regular Expression Matching with a Trigram Index", 2012).

At 100 TB you cannot full-scan a corpus for every literal/needle
query. The construction: a postings relation (doc_id, trigram) —
every distinct 3-gram per document — answers a query in two steps:
(1) CANDIDATES = documents whose posting set covers ALL trigrams of
one of the pattern's alternatives (an occurrence implies every one
of its required trigrams occurs, so this over-approximates and never
loses a match); (2) VERIFY = the exact predicate on the candidates
only. The result provably EQUALS the full-scan answer — which is
exactly what the registry oracle checks.

ONE candidate-and-verify pipeline (``_candidates`` + ``_grep``)
serves both searches: ``regex_plan`` compiles a regex to OR/AND
alternatives with an ``rlike`` verify, and a literal is a one-run
AND plan with an ``instr`` verify (``substring_search``).

Spark-first shape:
- postings build is pure codegen (an ``instr`` probe per needed
  trigram, or shifted ``regexp_extract_all`` passes for a full
  index) — no UDF;
- the needed-trigram spec is tiny and BROADCAST; the posting join
  groups by (q, alt, doc_id) with a partial-agg-friendly count(*)
  (bounded by the alternative's trigram count);
- candidates join the corpus back; the exact verify is codegen;
- persisted form: ``write_trigram_index`` partitions postings by
  ``pmod(xxhash64(tri), nparts)`` so a query's needed trigrams prune
  to a handful of partitions (PartitionFilters — plan-gated in
  tests). One index write amortizes over every subsequent query,
  the 100 TB story.

Literals shorter than 3 chars and regexes with no required 3-char
run cannot be trigram-pruned; they verify against the full corpus
(honest fallback, flagged in the plan by the absence of the
postings join).

Reference: grailbio/bigslice has no search surface; part of the
§2.4 retrieval family next to operators/search.py (BM25).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from ..local_rows import local_df

# ---- pure-Python XXH64 (public algorithm, Collet) — the hash behind
# Spark's `xxhash64` function. The persisted index buckets postings by
# pmod(xxhash64(tri), nparts); computing a query's needed buckets
# DRIVER-SIDE removes one collect job per query family (guide §5 —
# the old path ran a Spark job over a handful of local rows just to
# evaluate the hash). Bit-equality with Spark's xxhash64 (seed 42,
# UTF-8 bytes) is pinned in tests/test_r15_optimizations.py.

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, inp: int) -> int:
    return (_rotl((acc + inp * _P2) & _M64, 31) * _P1) & _M64


def _xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` — unsigned; see _bucket_of for the signed/
    pmod wrapping that mirrors Spark's semantics."""
    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            v1 = _xxh_round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _xxh_round(v2,
                            int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _xxh_round(v3,
                            int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _xxh_round(v4,
                            int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = (((h ^ _xxh_round(0, v)) * _P1) + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh_round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def _bucket_of(tri: str, nparts: int) -> int:
    """Driver-side replay of ``pmod(xxhash64(tri), nparts)``:
    xxhash64 returns a SIGNED long, pmod wraps it non-negative."""
    h = _xxh64(tri.encode("utf-8"), 42)
    if h >= 1 << 63:
        h -= 1 << 64
    return ((h % nparts) + nparts) % nparts


def trigram_postings(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     only: Sequence[str] | None = None) -> DataFrame:
    """(doc_id, tri): every distinct 3-gram per document, pure
    codegen (no UDF). ``only`` restricts the build to a known
    trigram set — the one-shot query path shuffles ~|needed| rows
    per doc instead of ~|text|.

    The ``only`` build probes each needed trigram with codegen
    ``instr`` over the text (r14, guide §4.1): the needed set is
    tiny (a query's literals contribute a handful of trigrams), so
    |needed| substring scans per document beat materializing EVERY
    position's trigram through an interpreted
    transform+array_intersect pass — Spark's array lambdas are
    interpreted per element, i.e. per CHARACTER here. Same (doc,
    trigram) set: a needed trigram survives iff it occurs in the
    text, exactly array_intersect's verdict.

    The FULL build (index writes — genuinely needs all positions)
    runs three shifted ``regexp_extract_all`` passes (r15, guide
    §4.1): non-overlapping 3-char chunks starting at offsets 0, 1, 2
    cover every start position exactly once, so the concat of the
    three is the same trigram multiset the old
    ``transform(sequence(1, len-2), i -> substring(...))`` produced —
    but through the compiled-regex loop instead of an interpreted
    lambda evaluated per character (measured 3.5× on the sf0.1
    corpus: 0.5s vs 1.8s, multiset-diff 0; pinned in
    tests/test_r15_optimizations.py). ``(?s)`` makes ``.`` match
    newlines, so any 3 code points form a chunk. Texts shorter than
    a trigram now correctly yield NO postings (the old sequence form
    walked [1, 0] for them — ``sequence(1, 0)`` descends — and
    emitted junk sub-3-char rows; latent, since needed trigrams are
    validated 3-char and could never match one)."""
    if only is not None:
        # the instr probe matches ANY substring, so a non-3-char entry
        # would diverge from the positional-trigram intersection this
        # path replaces — reject rather than silently widen (ADVICE r14)
        bad = [t for t in only if len(t) != 3]
        if bad:
            raise ValueError(
                f"trigram_postings(only=...) entries must be exactly "
                f"3 chars, got {bad[:5]!r}")
        need = F.explode(F.array(*[F.lit(t)
                                   for t in dict.fromkeys(only)]))
        return (docs.select(F.col(id_col).alias("doc_id"),
                            F.col(text_col).alias("__t"))
                .select("doc_id", need.alias("tri"), "__t")
                .filter(F.expr("instr(__t, tri) > 0"))
                .select("doc_id", "tri"))
    all_tris = F.expr(
        f"array_distinct(concat("
        f"regexp_extract_all({text_col}, '(?s)...', 0), "
        f"regexp_extract_all(substring({text_col}, 2), '(?s)...', 0), "
        f"regexp_extract_all(substring({text_col}, 3), '(?s)...', 0)))")
    return docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(all_tris).alias("tri"))


def literal_trigrams(s: str) -> list[str]:
    """All distinct trigrams of a literal, in first-occurrence order."""
    seen: dict[str, None] = {}
    for i in range(len(s) - 2):
        seen.setdefault(s[i:i + 3])
    return list(seen)


def _part_col(tri: Column, nparts: int) -> Column:
    return F.pmod(F.xxhash64(tri), F.lit(nparts)).cast("int")


def write_trigram_index(docs: DataFrame, path: str,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        nparts: int = 64) -> None:
    """Persist the postings relation partitioned by a trigram hash
    bucket: a query's needed trigrams map to a handful of ``tp=``
    directories, so the index scan prunes instead of reading all
    postings. Size ``nparts`` so one partition ≈ a few hundred MB at
    the corpus scale.

    The write CLUSTERS by bucket first (r15, guide §6): without the
    ``repartition(nparts, "tp")`` every map task holding rows for a
    bucket opened its own file there — M tasks × nparts files of
    corpus_bytes/(M·nparts) each at scale, the small-files failure
    mode — and the dynamic-partition writer paid a per-task sort
    over all bucket values present. Clustered, each bucket is
    exactly one task writing one ≈few-hundred-MB file (measured at
    sf0.1: 1.1s vs 1.9–2.5s for the same 64-dir layout)."""
    p = trigram_postings(docs, id_col, text_col)
    (p.withColumn("tp", _part_col(F.col("tri"), nparts))
     .repartition(nparts, "tp")
     .write.mode("overwrite").partitionBy("tp").parquet(path))


def read_trigram_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def _candidates(postings: DataFrame,
                spec_rows: Sequence[tuple[int, int, str]],
                indexed_parts: int | None = None) -> DataFrame:
    """(q, alt, doc_id) triples whose posting set covers ALL trigrams
    of alternative ``alt`` of pattern ``q`` — the over-approximation
    to verify. ``spec_rows`` holds one row per distinct (q, alt,
    tri). ``indexed_parts`` (the index's ``nparts``) prunes the scan
    to the needed ``tp=`` buckets, replayed driver-side by
    ``_bucket_of`` — no job.

    ``postings`` must be (doc_id, tri)-DISTINCT — true of every
    producer — so the join emits each (q, alt, doc_id, tri) at most
    once and the cover count is a plain ``count(*)``: a grouped
    ``count(distinct tri)`` plans four aggregates and TWO exchanges,
    where count(*) partial-aggregates map-side onto (q, alt, doc_id)
    and shuffles one row per candidate (plan-gated in tests)."""
    spark = postings.sparkSession
    p = postings
    if indexed_parts:
        buckets = sorted({_bucket_of(t, indexed_parts)
                          for _, _, t in spec_rows})
        p = p.filter(F.col("tp").isin(buckets))
    spec = local_df(spark, list(spec_rows),
                    "q int, alt int, tri string")
    k = Counter((q, alt) for q, alt, _ in spec_rows)
    kdf = local_df(spark, [(q, alt, n)
                           for (q, alt), n in sorted(k.items())],
                   "q int, alt int, k int")
    return (p.join(F.broadcast(spec), "tri")
            .groupBy("q", "alt", "doc_id")
            .agg(F.count(F.lit(1)).alias("got"))
            .join(F.broadcast(kdf), ["q", "alt"])
            .filter(F.col("got") == F.col("k"))
            .select("q", "alt", "doc_id"))


def _grep(docs: DataFrame, patterns: Sequence[str],
          plans: Sequence[tuple[str, list[list[str]]]], verify: str,
          id_col: str, text_col: str, postings: DataFrame | None,
          indexed_parts: int | None) -> DataFrame:
    """The one candidate-and-verify pipeline: (pattern, doc_id) for
    every document where SQL predicate ``verify`` (over ``__t`` and
    ``pattern``) holds, pruned by the trigram index. ``plans[q]`` has
    ``regex_plan``'s shape: each group of an 'or'/'and' plan is one
    alternative whose literals' trigrams must ALL occur; 'scan'
    patterns cannot be pruned and verify against the full corpus.
    Without ``postings`` a needed-only index is built on the fly
    (one-shot mode — still correct, no amortization)."""
    spark = docs.sparkSession
    spec_rows = [(q, alt, t)
                 for q, (_, groups) in enumerate(plans)
                 for alt, lits in enumerate(groups)
                 for t in dict.fromkeys(t for s in lits
                                        for t in literal_trigrams(s))]
    corpus = docs.select(F.col(id_col).alias("doc_id"),
                         F.col(text_col).alias("__t"))
    parts = []
    if spec_rows:
        if postings is None:
            needed = sorted({t for _, _, t in spec_rows})
            postings = trigram_postings(docs, id_col, text_col,
                                        only=needed)
            indexed_parts = None
        cand = _candidates(postings, spec_rows,
                           indexed_parts).select("q", "doc_id")
        # only a multi-alternative pattern can yield one (q, doc_id)
        # twice — the driver knows, so single-alternative calls skip
        # the extra exchange
        if any(len(groups) > 1 for _, groups in plans):
            cand = cand.distinct()
        pat_df = F.broadcast(local_df(spark, list(enumerate(patterns)),
                                      "q int, pattern string"))
        parts.append(cand.join(pat_df, "q").join(corpus, "doc_id"))
    scan = [(p,) for p, (kind, _) in zip(patterns, plans)
            if kind == "scan"]
    if scan:
        parts.append(corpus.crossJoin(
            F.broadcast(local_df(spark, scan, "pattern string"))))
    if not parts:
        return local_df(spark, [], "pattern string, doc_id long")
    return reduce(DataFrame.unionByName,
                  [p.filter(F.expr(verify)).select("pattern", "doc_id")
                   for p in parts])


def substring_search(docs: DataFrame, literals: Sequence[str],
                     id_col: str = "doc_id", text_col: str = "text",
                     postings: DataFrame | None = None,
                     indexed_parts: int | None = None) -> DataFrame:
    """Index-pruned distributed grep: for each literal, the exact set
    of documents containing it — (pattern, doc_id), identical to the
    full-scan answer (candidates can only over-approximate; the
    ``instr`` verify removes false positives). A literal is a one-run
    AND plan; one under 3 chars scans. ``postings`` is a persisted
    index from write_trigram_index (pass its nparts via
    ``indexed_parts``); built on the fly from ``docs`` when omitted."""
    return _grep(docs, literals,
                 [("and", [[s]]) if len(s) >= 3 else ("scan", [])
                  for s in literals],
                 "instr(__t, pattern) > 0", id_col, text_col, postings,
                 indexed_parts)



# ------------------------------------------------- regex → trigram
#
# The second half of the Cox construction: compile a regular
# expression into a trigram query. Two sound strategies, tried in
# order:
#
# 1. FINITE EXPANSION — if the pattern's language is a small finite
#    set of literals (alternations, classes, bounded repeats), the
#    query is OR over the literals of AND over each literal's
#    trigrams. Sound because a match IS one of the literals, so the
#    document contains that literal's every trigram.
# 2. REQUIRED RUNS — otherwise, every fixed literal run the match
#    must traverse (top-level concatenation segments not under an
#    optional/star) is required, so the query is AND over all runs'
#    trigrams. `foo\d+bar` → needs trigrams of "foo" AND of "bar".
#
# If neither yields a len>=3 literal the pattern is UNPRUNABLE and
# falls back to a full-scan verify — honest, and exactly what the
# reference construction does. The final verify is always the real
# regex (rlike) over candidates, so the result provably equals the
# full scan for ANY sound pruning.

import re as _re

_MAXREPEAT = _re._constants.MAXREPEAT


def _expand_class(av) -> list[str] | None:
    """A character class's members as literal chars, or None if it
    is negated/categorical/too large to enumerate."""
    out: list[str] = []
    for kind, val in av:
        k = str(kind).lower()
        if k.endswith("literal"):
            out.append(chr(val))
        elif k.endswith("range"):
            lo, hi = val
            if hi - lo > 15:
                return None
            out.extend(chr(c) for c in range(lo, hi + 1))
        else:                      # NEGATE, CATEGORY (\d \w), ...
            return None
        if len(out) > 16:
            return None
    return out


def _expand(nodes, limit: int = 64) -> list[str] | None:
    """The pattern fragment's full language as literal strings, or
    None when infinite/too large."""
    outs = [""]
    for op, av in nodes:
        o = str(op).lower()
        if o.endswith("literal"):
            outs = [x + chr(av) for x in outs]
        elif o.endswith("in"):
            chars = _expand_class(av)
            if chars is None:
                return None
            outs = [x + c for x in outs for c in chars]
        elif o.endswith("branch"):
            alts: list[str] = []
            for alt in av[1]:
                e = _expand(alt, limit)
                if e is None:
                    return None
                alts.extend(e)
            outs = [x + a for x in outs for a in alts]
        elif o.endswith("subpattern"):
            if av[1]:              # inline flags, e.g. (?i:...) —
                return None        # literals stop being literal
            e = _expand(av[3], limit)
            if e is None:
                return None
            outs = [x + s for x in outs for s in e]
        elif o.endswith("repeat"):
            lo, hi, sub = av
            if hi is _MAXREPEAT or hi - lo > 8:
                return None
            e = _expand(sub, limit)
            if e is None:
                return None
            variants: list[str] = []
            for n in range(lo, hi + 1):
                combo = [""]
                for _ in range(n):
                    combo = [c + s for c in combo for s in e]
                    if len(combo) > limit:
                        return None
                variants.extend(combo)
            outs = [x + v for x in outs for v in variants]
        elif o.endswith("at"):          # anchors: no characters
            continue
        else:
            return None
        if len(outs) > limit:
            return None
    return outs


def _required_runs(nodes) -> list[str]:
    """Fixed literal substrings every match must contain: maximal
    LITERAL runs of the top-level concatenation, plus (recursively)
    runs of subpatterns/repeats that occur at least once. Branches
    and optional fragments contribute nothing (sound: we may only
    under-require, never over-require)."""
    runs: list[str] = []
    cur = ""

    def flush():
        nonlocal cur
        if len(cur) >= 3:
            runs.append(cur)
        cur = ""

    for op, av in nodes:
        o = str(op).lower()
        if o.endswith("literal"):
            cur += chr(av)
            continue
        flush()
        if o.endswith("subpattern"):
            if not av[1]:          # skip inline-flag groups (?i:...)
                runs.extend(_required_runs(av[3]))
        elif o.endswith("repeat"):
            lo, hi, sub = av
            if lo >= 1:                # occurs at least once
                runs.extend(_required_runs(sub))
    flush()
    return runs


def regex_plan(pattern: str) -> tuple[str, list[list[str]]]:
    """('or', [[lit,...] per alternative]) — candidate = ANY
    alternative's trigrams all present; ('and', [[run,...]]) —
    candidate = ALL runs' trigrams present; ('scan', []) —
    unprunable, full verify. Literals under 3 chars prune nothing
    and are dropped (soundly widening the candidate set).
    Case-insensitive patterns are unprunable (a literal's trigrams
    are no longer required bytes)."""
    if _re.compile(pattern).flags & _re.IGNORECASE:
        return "scan", []
    nodes = list(_re._parser.parse(pattern))
    lits = _expand(nodes)
    if lits is not None and lits and all(len(s) >= 3 for s in lits):
        return "or", [[s] for s in lits]
    runs = [r for r in _required_runs(nodes) if len(r) >= 3]
    if runs:
        return "and", [runs]
    return "scan", []


def regex_search(docs: DataFrame, patterns: Sequence[str],
                 id_col: str = "doc_id", text_col: str = "text",
                 postings: DataFrame | None = None,
                 indexed_parts: int | None = None) -> DataFrame:
    """Index-pruned distributed regex grep: (pattern, doc_id) for
    each document with a match, identical to a full-scan ``rlike``
    (pruning is sound-only; the verify is the real regex)."""
    return _grep(docs, patterns, [regex_plan(p) for p in patterns],
                 "__t rlike pattern", id_col, text_col, postings,
                 indexed_parts)
