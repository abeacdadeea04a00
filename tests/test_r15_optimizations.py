"""Focused equivalence tests for the r15 optimization round: every
restructured operator must produce bit-identical results to the shape
it replaced (plans change, answers don't)."""

from __future__ import annotations

from bigslice_spark.plans import explain_str


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_bucketed_self_join_empty_hot_short_circuit(spark):
    """r15: when no bucket exceeds chunk_target, the salted self-join
    short-circuits to the plain merge-pinned join — the output must be
    exactly rel ⋈_keys rel and the plan must carry NO salting
    machinery (no broadcast join, no explode)."""
    from bigslice_spark.operators.dedup import _bucketed_self_join
    rows = [(i, f"k{i % 7}") for i in range(60)]   # max bucket 9 < 16
    rel = spark.createDataFrame(rows, "id long, bk string")
    out = _bucketed_self_join(rel, ["bk"], chunk_target=16)
    got = _rows(out, ["bk", "id_a", "id_b"])
    want = _rows(
        rel.toDF("id_a", "bk").join(rel.toDF("id_b", "bk"), on="bk"),
        ["bk", "id_a", "id_b"])
    assert got == want
    plan = explain_str(out)
    assert "SortMergeJoin" in plan
    assert "__nc__" not in plan and "Generate" not in plan, plan[:1500]


def test_bucketed_self_join_hot_path_still_salts(spark):
    """r15: a genuinely hot bucket must still take the salted path
    (explode machinery present) and emit the exact pair multiset."""
    from bigslice_spark.operators.dedup import _bucketed_self_join
    rows = [(i, "hot" if i < 40 else f"k{i % 7}") for i in range(80)]
    rel = spark.createDataFrame(rows, "id long, bk string")
    out = _bucketed_self_join(rel, ["bk"], chunk_target=8)
    got = _rows(out, ["bk", "id_a", "id_b"])
    want = _rows(
        rel.toDF("id_a", "bk").join(rel.toDF("id_b", "bk"), on="bk"),
        ["bk", "id_a", "id_b"])
    assert got == want
    assert "Generate" in explain_str(out)    # the chunk explode


def test_bucketed_join_empty_hot_short_circuit(spark):
    """r15: the two-relation analog — no hot key on either side means
    the plain join, bit-identical output."""
    from bigslice_spark.operators.dedup import _bucketed_join
    left = spark.createDataFrame(
        [(i, f"k{i % 5}") for i in range(40)], "id long, bk string")
    right = spark.createDataFrame(
        [(i + 100, f"k{i % 5}") for i in range(35)],
        "id long, bk string")
    out = _bucketed_join(left, right, ["bk"], chunk_target=16)
    got = _rows(out, ["bk", "id_a", "id_b"])
    want = _rows(
        left.toDF("id_a", "bk").join(right.toDF("id_b", "bk"),
                                     on="bk"),
        ["bk", "id_a", "id_b"])
    assert got == want


def test_bucketed_join_hot_path_matches_plain(spark):
    """r15: hot key on one side — salted two-relation join still
    emits the exact pair multiset."""
    from bigslice_spark.operators.dedup import _bucketed_join
    left = spark.createDataFrame(
        [(i, "hot" if i < 30 else f"k{i % 5}") for i in range(50)],
        "id long, bk string")
    right = spark.createDataFrame(
        [(i + 100, "hot" if i < 20 else f"k{i % 5}")
         for i in range(40)], "id long, bk string")
    out = _bucketed_join(left, right, ["bk"], chunk_target=8)
    got = _rows(out, ["bk", "id_a", "id_b"])
    want = _rows(
        left.toDF("id_a", "bk").join(right.toDF("id_b", "bk"),
                                     on="bk"),
        ["bk", "id_a", "id_b"])
    assert got == want


def test_bucketed_self_join_null_bn_col_coalesces(spark):
    """ADVICE r14: a NULL bucket-size value must not silently drop
    rows — __nc__ coalesces to 1 and the pair survives."""
    from bigslice_spark.operators.dedup import _bucketed_self_join
    rel = spark.createDataFrame(
        [(1, "a", None), (2, "a", None), (3, "b", 1)],
        "id long, bk string, bn int")
    got = _rows(_bucketed_self_join(rel, ["bk"], chunk_target=8,
                                    bn_col="bn"),
                ["bk", "id_a", "id_b"])
    want = _rows(
        rel.select("id", "bk").toDF("id_a", "bk")
        .join(rel.select("id", "bk").toDF("id_b", "bk"), on="bk"),
        ["bk", "id_a", "id_b"])
    assert got == want

def test_trigram_full_build_matches_transform_shape(spark):
    """r15: the regexp_extract_all full postings build must equal the
    transform(sequence(...)) shape it replaced — as a multiset per
    doc — on adversarial texts (newlines, unicode, repeats); texts
    shorter than a trigram yield NO postings (the old form's junk
    sub-3-char rows were latent: needed trigrams are validated
    3-char and could never match one)."""
    from pyspark.sql import functions as F

    from bigslice_spark.operators.trigram import trigram_postings
    rows = [
        (1, "abcdef"), (2, "aaaaaa"), (3, "a\nb\ncd e"),
        (4, "héllo wörld héllo"), (5, "tab\tand\rcr"),
        (6, "xyzxyzxyz"), (7, "  spaces  "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = _rows(trigram_postings(docs), ["doc_id", "tri"])
    old = F.expr("transform(sequence(1, length(text) - 2),"
                 " i -> substring(text, i, 3))")
    want = _rows(
        docs.filter(F.length("text") >= 3)
        .select("doc_id",
                F.explode(F.array_distinct(old)).alias("tri")),
        ["doc_id", "tri"])
    assert got == want
    # sub-trigram and empty/NULL texts: no postings at all
    short = spark.createDataFrame(
        [(10, ""), (11, "ab"), (12, None)], "doc_id long, text string")
    assert trigram_postings(short).count() == 0


def test_write_trigram_index_clustered_one_file_per_bucket(spark,
                                                           tmp_path):
    """r15: the clustered index write produces exactly one data file
    per non-empty bucket directory, and reads back the same postings
    relation."""
    import os

    from pyspark.sql import functions as F

    from bigslice_spark.operators.trigram import (read_trigram_index,
                                                  trigram_postings,
                                                  write_trigram_index)
    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared text")
         for i in range(30)], "doc_id long, text string")
    d = str(tmp_path / "tri_idx")
    write_trigram_index(docs, d, nparts=8)
    for ent in os.listdir(d):
        if ent.startswith("tp="):
            data = [f for f in os.listdir(os.path.join(d, ent))
                    if f.endswith(".parquet")]
            assert len(data) == 1, (ent, data)
    got = _rows(read_trigram_index(spark, d), ["doc_id", "tri"])
    want = _rows(trigram_postings(docs), ["doc_id", "tri"])
    assert got == want


# ---- continuation session: local relations, driver-side hashing,
# ---- count(*) covers, incremental BPE


def test_xxh64_bucket_matches_spark(spark):
    """operators/trigram._xxh64/_bucket_of must replay Spark's
    pmod(xxhash64(s), n) bit-for-bit — the persisted-index partition
    pruning reads ONLY the buckets this computes, so any divergence
    silently loses matches. Adversarial battery: unicode (multi-byte
    UTF-8), newlines, quotes, empty, 3-char trigrams, and lengths
    crossing every XXH64 tail branch (<4, <8, <32, >=32 bytes)."""
    from pyspark.sql import functions as F

    from bigslice_spark.operators.trigram import _bucket_of, _xxh64

    cases = ["", "a", "ab", "abc", "abcd", "abcdefg", "abcdefgh",
             "abcdefghijklmnopqrstuvwxyz01234",   # 31B
             "abcdefghijklmnopqrstuvwxyz012345",  # 32B
             "abcdefghijklmnopqrstuvwxyz0123456789ABCDEF" * 3,
             "aü3", "日本語", "a\nb", "x'y", 'q"r', "▁▁▁", " sp",
             "th ", "he ", "spa", "rk.", "…¿é"]
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    got = {r["s"]: (r["h"], r["b"]) for r in
           df.select("s", F.xxhash64("s").alias("h"),
                     F.pmod(F.xxhash64("s"), F.lit(64)).cast("int")
                     .alias("b")).collect()}
    for s in cases:
        h = _xxh64(s.encode("utf-8"), 42)
        if h >= 1 << 63:
            h -= 1 << 64
        assert h == got[s][0], (s, h, got[s][0])
        from bigslice_spark.operators.trigram import _bucket_of as bo
        assert bo(s, 64) == got[s][1], s


def test_local_df_parity_with_createdataframe(spark):
    """local_rows.local_df must be schema- and value-identical to the
    plain createDataFrame it replaces (only the transport changes:
    Arrow local relation instead of a pickled Python RDD), and must
    plan as a LocalTableScan — the point is zero Python workers at
    action time."""
    from bigslice_spark.local_rows import local_df

    cases = [
        ([(0, "e", "r", 4568), (1, "▁x", "y▁", 2)],
         "rank int, left string, right string, n long"),
        ([], "q int, doc_id long"),
        ([(0, [1.0, 2.5]), (1, [0.0, -3.5])], "cell int, c array<double>"),
        ([(7, "w7", None)], "q int, tri string, x string"),
    ]
    for rows, ddl in cases:
        old = spark.createDataFrame(rows, ddl)
        new = local_df(spark, rows, ddl)
        assert old.schema == new.schema, ddl
        assert sorted(map(tuple, old.collect())) \
            == sorted(map(tuple, new.collect())), ddl
    plan = explain_str(local_df(spark, [(1, "a")], "q int, s string"))
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_trigram_postings_distinct_invariant(spark):
    """The count(*) cover rewrite assumes postings are (doc_id, tri)-
    distinct. Pin that for BOTH build paths over texts with heavy
    trigram repetition."""
    from bigslice_spark.operators.trigram import trigram_postings

    docs = spark.createDataFrame(
        [(1, "abcabcabc"), (2, "aaaaaa"), (3, "xyxyxyxy"),
         (4, "ab"), (5, None)], "doc_id long, text string")
    for only in (None, ["abc", "aaa", "xyx", "yxy"]):
        p = trigram_postings(docs, only=only)
        assert p.count() == p.distinct().count(), only


def test_trigram_cover_count_star_equals_distinct_shape(spark):
    """_candidates with the count(*) cover must equal the
    count(distinct) form it replaced, on a corpus where candidate
    cover counting actually matters (shared trigrams across needles,
    repeated trigrams inside documents)."""
    from pyspark.sql import functions as F

    from bigslice_spark.operators.trigram import (_candidates,
                                                  literal_trigrams,
                                                  trigram_postings)

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["hash scan hash scan", "hash scanner", "key order hash",
             "scan hash key", "spark window scan", "has hsc anx",
             "aaaa hash scanaaa", "window spark"])],
        "doc_id long, text string")
    lits = ["hash scan", "key order", "spark window"]
    post = trigram_postings(docs)
    need_rows = [(qi, t) for qi, lit in enumerate(lits)
                 for t in literal_trigrams(lit)]
    got = _candidates(post, [(qi, 0, t) for qi, t in need_rows])
    need = spark.createDataFrame(need_rows, "q int, tri string")
    kdf = spark.createDataFrame(
        [(qi, len(literal_trigrams(lit)))
         for qi, lit in enumerate(lits)], "q int, k int")
    ref = (post.join(F.broadcast(need), "tri")
           .groupBy("q", "doc_id")
           .agg(F.countDistinct("tri").alias("got"))
           .join(F.broadcast(kdf), "q")
           .filter(F.col("got") == F.col("k"))
           .select("q", "doc_id"))
    assert _rows(got, ["q", "doc_id"]) == _rows(ref, ["q", "doc_id"])


def _merge_loop_rescan(wc: list[tuple[str, int]],
                       num_merges: int
                       ) -> list[tuple[int, str, str, int]]:
    """Reference BPE loop: full pair recount + full word rescan per
    merge — O(merges · Σ|word|). The plain-reading spec the
    incremental bpe._merge_loop is pinned against below."""
    from bigslice_spark.operators.bpe import _EOW

    words = [([*w] + [_EOW], n) for w, n in wc]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, n in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + n
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(),
                          key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break  # nothing left worth merging
        merges.append((rank, a, b, cnt))
        ab = a + b
        nxt = []
        for syms, n in words:
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((out, n))
        words = nxt
    return merges


def test_bpe_incremental_merge_loop_matches_rescan():
    """The heap/delta merge loop must reproduce the rescan reference's
    merge sequence EXACTLY (ranks, pairs, counts — the oracle replays
    counts too). Adversarial: overlapping runs (overlap counting),
    count ties broken lexicographically, multi-char remerges, and a
    seeded fuzz sweep."""
    import random

    from bigslice_spark.operators.bpe import _merge_loop

    hard = [
        [("aaaa", 3), ("aaa", 2), ("aa", 5)],
        [("abab", 2), ("ab", 2), ("ba", 2)],
        [("xyxyxy", 4), ("yxyxyx", 4)],
        [("aaaaaaaaaa", 2)],
        [("ab", 2), ("cd", 2), ("ac", 2), ("bd", 2)],  # all-tie
    ]
    for wc in hard:
        assert _merge_loop(list(wc), 12) \
            == _merge_loop_rescan(list(wc), 12), wc
    rng = random.Random(7)
    for trial in range(60):
        seen: dict[str, int] = {}
        for _ in range(rng.randint(1, 25)):
            w = "".join(rng.choice("abcde")
                        for _ in range(rng.randint(1, 9)))
            seen.setdefault(w, rng.randint(1, 9))
        wc = list(seen.items())
        nm = rng.randint(1, 30)
        assert _merge_loop(list(wc), nm) \
            == _merge_loop_rescan(list(wc), nm), (trial, wc, nm)
