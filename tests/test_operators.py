"""Per-operator unit tests mirroring the reference's test strategy
(SURVEY.md §5): semantics the oracle harness can't see — per-shard
behavior, empty-group cogroup zero values, cache short-circuiting,
pandas-path vs pure-Python reference equality."""

import os

import pyspark.sql.functions as F
import pytest


def test_head_is_per_shard(session):
    """Head keeps ≤n rows per shard (reference slice.go:957-994), unlike
    a global limit."""
    sl = session.const(4, list(range(100)), names=["n"],
                       schema="n long")
    out = sl.head(5)
    assert out.count() == 20  # 4 shards × 5
    per_part = out.df.groupBy(F.spark_partition_id()).count().collect()
    assert all(r["count"] <= 5 for r in per_part)


def test_const_shapes(session):
    sl = session.const(3, ["a", "b", "c"], [1, 2, 3],
                       names=["k", "v"], schema="k string, v long")
    assert sorted(sl.collect()) == [("a", 1), ("b", 2), ("c", 3)]
    assert sl.num_shard() == 3


def test_cogroup_empty_groups_are_empty_arrays(session):
    """cogroup.go:244-258: keys absent from one input get EMPTY groups,
    not nulls."""
    a = session.const(2, ["x", "x", "y"], [1, 2, 3],
                      names=["k", "v"], schema="k string, v long")
    b = session.const(2, ["y", "z"], [9.0, 8.0],
                      names=["k", "w"], schema="k string, w double")
    cg = a.cogroup(b)
    rows = {r["k"]: r for r in cg.df.collect()}
    assert set(rows) == {"x", "y", "z"}
    assert [x["v"] for x in rows["x"]["g0"]] == [1, 2]
    assert rows["x"]["g1"] == []          # empty, not None
    assert rows["z"]["g0"] == []
    assert [x["w"] for x in rows["z"]["g1"]] == [8.0]


def test_cogroup_three_way(session):
    a = session.const(2, ["k1"], [1], names=["k", "v"],
                      schema="k string, v long")
    b = session.const(2, ["k2"], [2], names=["k", "v"],
                      schema="k string, v long")
    c = session.const(2, ["k1", "k2"], [3, 4], names=["k", "v"],
                      schema="k string, v long")
    cg = a.cogroup(b, c)
    rows = {r["k"]: r for r in cg.df.collect()}
    assert len(rows["k1"]["g0"]) == 1 and len(rows["k1"]["g1"]) == 0
    assert len(rows["k1"]["g2"]) == 1 and len(rows["k2"]["g2"]) == 1


def test_scan_consumes_all_shards(session):
    sl = session.const(4, list(range(40)), names=["n"], schema="n long")
    # scan is terminal and side-effecting on executors; verify via count
    # of rows flowing through a writer tap instead (same per-shard path).
    seen = sl.writer_func(lambda shard, pdf: None)
    assert seen.count() == 40


def test_scan_batches_arrow_path(session, spark):
    sl = session.const(4, list(range(40)), names=["n"], schema="n long")
    acc = spark.sparkContext.accumulator(0)
    shards = spark.sparkContext.accumulator(0)
    sl.scan_batches(lambda shard, pdf: (acc.add(int(pdf["n"].sum())),
                                        shards.add(1)))
    assert acc.value == sum(range(40))
    assert shards.value >= 1


def test_cache_short_circuits(session, tmp_path):
    prefix = str(tmp_path)
    sl = session.const(2, [1, 2, 3], names=["n"], schema="n long")
    c1 = sl.cache(prefix)
    assert sorted(c1.collect()) == [(1,), (2,), (3,)]
    # mutate the cache files out-of-band: a re-cache must NOT recompute
    # (reference cache.go:38-44 — invalidation is the user's problem)
    files = os.listdir(prefix)
    assert any(f.endswith(".parquet") for f in files)
    c2 = sl.cache(prefix)
    assert sorted(c2.collect()) == [(1,), (2,), (3,)]


def test_cache_gc_helpers(session, tmp_path):
    """list_caches enumerates prefix dirs with size + completeness;
    drop_cache deletes a cache dir but refuses non-cache dirs."""
    import pytest
    root = str(tmp_path)
    sl = session.const(2, [1, 2, 3], names=["n"], schema="n long")
    sl.cache(os.path.join(root, "a"))
    sl.cache(os.path.join(root, "b"))
    infos = session.list_caches(root)
    assert [i["prefix"].rsplit("/", 1)[1] for i in infos] == ["a", "b"]
    assert all(i["complete"] and i["bytes"] > 0 and i["files"] > 0
               for i in infos)
    assert session.drop_cache(os.path.join(root, "a")) is True
    assert [i["prefix"].rsplit("/", 1)[1]
            for i in session.list_caches(root)] == ["b"]
    assert session.drop_cache(os.path.join(root, "a")) is False  # absent
    # refusal: a dir with unrelated content must not be deletable
    trap = os.path.join(root, "not_a_cache")
    os.makedirs(trap)
    with open(os.path.join(trap, "precious.txt"), "w") as f:
        f.write("do not delete")
    with pytest.raises(ValueError, match="refusing"):
        session.drop_cache(trap)
    assert os.path.exists(os.path.join(trap, "precious.txt"))


def test_fold_stream_groups_span_batches(session, spark):
    """fold_stream must carry the accumulator across Arrow batch
    boundaries: with 7-row batches and 40-row groups, every group spans
    several chunks; totals must equal groupBy."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        keys = ["a"] * 40 + ["b"] * 40 + ["c"] * 3
        vals = list(range(83))
        sl = session.const(2, keys, vals, names=["k", "v"],
                           schema="k string, v long")
        out = sl.fold_stream(
            lambda: [0, 0],
            lambda acc, chunk: [acc[0] + len(chunk),
                                acc[1] + int(chunk["v"].sum())],
            lambda key, acc: {"k": key[0], "n": acc[0], "s": acc[1]},
            "k string, n long, s long")
        got = {r["k"]: (r["n"], r["s"]) for r in out.df.collect()}
        want = {r["k"]: (r["n"], r["s"])
                for r in sl.fold(aggs={"n": F.count(F.lit(1)),
                                       "s": F.sum("v")}).df.collect()}
        assert got == want
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_writer_func_terminal_calls(session, spark):
    """Reference slice.go:404-548: the write fn is invoked once more at
    shard end (EOF → pdf=None) so sinks can flush; batches all arrive
    before their shard's EOF."""
    sl = session.const(3, list(range(30)), names=["n"], schema="n long")
    acc_rows = spark.sparkContext.accumulator(0)
    acc_eof = spark.sparkContext.accumulator(0)

    def tap(shard, pdf):
        if pdf is None:
            acc_eof.add(1)
        else:
            acc_rows.add(len(pdf))

    out = sl.writer_func(tap)
    assert out.count() == 30
    assert acc_rows.value == 30
    assert acc_eof.value == out.num_shard()


def test_cache_partial_per_shard(session, spark, tmp_path):
    """CachePartial semantics (reference cache.go:45-66): delete ONE
    shard's files → only that shard is rewritten (other shard files
    untouched on disk), and the result is still complete."""
    import shutil
    prefix = str(tmp_path)
    sl = session.const(4, list(range(40)), names=["n"], schema="n long")
    c1 = sl.cache_partial(prefix, F.col("n"), 4)
    assert sorted(r[0] for r in c1.collect()) == list(range(40))
    shards = sorted(d for d in os.listdir(prefix)
                    if d.startswith("__shard__="))
    assert shards == [f"__shard__={i}" for i in range(4)]

    def dir_sig(d):
        p = os.path.join(prefix, d)
        return sorted((f, os.path.getmtime(os.path.join(p, f)))
                      for f in os.listdir(p))

    keep_sigs = {d: dir_sig(d) for d in shards if d != "__shard__=2"}
    shutil.rmtree(os.path.join(prefix, "__shard__=2"))
    c2 = sl.cache_partial(prefix, F.col("n"), 4)
    assert sorted(r[0] for r in c2.collect()) == list(range(40))
    assert os.path.isdir(os.path.join(prefix, "__shard__=2"))
    for d, sig in keep_sigs.items():
        assert dir_sig(d) == sig, f"{d} was rewritten"
    # third call: everything present → no write at all
    all_sigs = {d: dir_sig(d) for d in shards}
    sl.cache_partial(prefix, F.col("n"), 4)
    for d, sig in all_sigs.items():
        assert dir_sig(d) == sig


def test_cache_partial_null_shard_values(session, spark, tmp_path):
    """NULL shard values must not brick the prefix: they land in shard 0
    (coalesce before pmod) and a rerun still short-circuits."""
    prefix = str(tmp_path)
    df = spark.createDataFrame(
        [(None,), (1,), (2,), (3,)], "n long")
    sl = session.wrap(df)
    c1 = sl.cache_partial(prefix, F.col("n"), 2)
    assert sorted(r[0] for r in c1.collect() if r[0] is not None) == [1, 2, 3]
    assert sum(1 for r in c1.collect() if r[0] is None) == 1
    names = {d for d in os.listdir(prefix) if d.startswith("__shard__=")}
    assert "__shard__=__HIVE_DEFAULT_PARTITION__" not in names
    # a rogue non-integer dir (pre-fix layouts) is tolerated, not fatal
    os.makedirs(os.path.join(prefix, "__shard__=__HIVE_DEFAULT_PARTITION__"),
                exist_ok=True)
    c2 = sl.cache_partial(prefix, F.col("n"), 2)
    assert c2.count() == 4


def test_compact_parquet_rejects_overlapping_dst(session, spark, tmp_path):
    src = str(tmp_path)
    spark.range(10).write.mode("overwrite").parquet(src)
    with pytest.raises(ValueError, match="overlaps"):
        session.compact_parquet(src, src)
    with pytest.raises(ValueError, match="overlaps"):
        session.compact_parquet(src, os.path.join(src, "out"))


def test_materialize_master_matching():
    """local-cluster[...] runs separate executor JVMs — it must route to
    the reliable checkpoint path, not localCheckpoint."""
    from bigslice_spark.checkpoint import _single_jvm
    assert _single_jvm("local")
    assert _single_jvm("local[32]")
    assert _single_jvm("local[*]")
    assert not _single_jvm("local-cluster[2,1,1024]")
    assert not _single_jvm("spark://host:7077")
    assert not _single_jvm("yarn")


def test_hash_split_boundary_and_validation(spark):
    """Cumulative rounding must not empty the last split at a rounded
    boundary; non-positive fractions are rejected."""
    from bigslice_spark.operators.sampling import hash_split
    df = spark.range(20000).withColumnRenamed("id", "doc_id")
    out = hash_split(df, fractions=(("a", 0.99995), ("b", 0.00005)))
    got = {r["split"] for r in out.select("split").distinct().collect()}
    assert got == {"a", "b"}
    with pytest.raises(ValueError, match="> 0"):
        hash_split(df, fractions=(("a", 1.00005), ("b", -0.00005)))


def test_budget_sample_validates_and_first_row_is_positional(spark):
    """Negative weights raise in-plan; the oversized-row exception applies
    to the group's FIRST row only (not any row whose prior cumsum is 0)."""
    from bigslice_spark.operators.sampling import budget_sample
    df = spark.createDataFrame(
        [(1, "en", 0), (2, "en", 500), (3, "en", 10)],
        "doc_id long, lang string, tokens long")
    got = {r["doc_id"] for r in
           budget_sample(df, "tokens", budget=100).collect()}
    # doc 1: first row (weight 0) kept; doc 2: prior cumsum 0 but NOT the
    # first row and oversized → dropped; doc 3 blocked by doc 2's 500
    assert got == {1}
    bad = spark.createDataFrame([(1, "en", -5)],
                                "doc_id long, lang string, tokens long")
    with pytest.raises(Exception, match="negative weight"):
        budget_sample(bad, "tokens", budget=100).collect()


def test_repartition_func_python_callable(session):
    sl = session.const(4, list(range(100)), names=["n"], schema="n long")
    out = sl.repartition_func(8, lambda n: (n * 7 + 3) % 8, cols=["n"])
    assert sorted(r[0] for r in out.collect()) == list(range(100))


def test_reshard_shuffles_by_default(session):
    sl = session.const(8, list(range(80)), names=["n"], schema="n long")
    assert sl.reshard(3).num_shard() == 3
    assert sl.reshard(3, shuffle=False).num_shard() == 3
    assert sorted(r[0] for r in sl.reshard(3).collect()) == list(range(80))


def test_reshard_grow_with_shuffle_false_still_grows(session):
    """shuffle=False is a SHRINK-only optimization: a growth request
    must repartition (coalesce cannot raise a partition count), on
    both declared wide tops and undeclared scan tops."""
    import pyspark.sql.functions as F
    sl = session.const(4, list(range(40)), names=["n"], schema="n long")
    wide = sl._with(
        sl.df.groupBy("n").agg(F.count(F.lit(1)).alias("c")), prefix=1)
    grown = wide.reshard(64, shuffle=False)
    assert grown.df.rdd.getNumPartitions() == 64
    assert sl.reshard(16, shuffle=False).df.rdd.getNumPartitions() == 16


def test_num_shard_is_metadata_only_on_wide_plans(session, spark):
    """num_shard()/reshard() on a plan that declares its partitioning
    (agg/repartition tops) must run ZERO jobs — the old
    df.rdd.getNumPartitions() forced AQE to execute every upstream
    stage of an unexecuted wide plan to answer a metadata question."""
    import pyspark.sql.functions as F
    sl = session.const(8, list(range(80)), names=["n"], schema="n long")
    wide = sl._with(sl.df.groupBy("n").agg(F.count(F.lit(1)).alias("c")),
                    prefix=1)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    declared = wide.num_shard()
    # an agg's declared count may be coalesced below at runtime by
    # AQE, so reshard must NOT no-op on it — but planning the
    # repartition is still lazy (no job)
    moved = wide.reshard(declared)
    assert moved is not wide
    # an explicit repartition top IS a count AQE preserves — safe no-op
    r5 = sl.reshard(5)
    assert r5.num_shard() == 5
    assert r5.reshard(5) is r5
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert jobs == set(), f"metadata probe ran jobs {jobs}"
    assert declared == int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_reader_func_shard_state(session):
    import pandas as pd

    def gen(shard):
        yield pd.DataFrame({"shard": [shard] * 3,
                            "i": list(range(3))})

    sl = session.reader_func(3, gen, schema="shard long, i long")
    rows = sl.collect()
    assert len(rows) == 9
    assert {r[0] for r in rows} == {0, 1, 2}


def test_prefixed_key_width(session):
    sl = session.const(2, ["a", "a", "b"], [1, 1, 2], [10, 20, 30],
                       names=["k1", "k2", "v"],
                       schema="k1 string, k2 long, v long")
    out = sl.prefixed(2).fold(aggs={"s": F.sum("v")})
    got = {(r["k1"], r["k2"]): r["s"] for r in out.df.collect()}
    assert got == {("a", 1): 30, ("b", 2): 30}


def test_fingerprint_matches_pure_python(spark, tables):
    from bigslice_spark.operators.text import FP_BASE, FP_MOD, fingerprint
    docs = tables["documents"].limit(20)
    got = {r["doc_id"]: r["fp"] for r in fingerprint(docs).collect()}
    for r in docs.collect():
        h = 0
        for b in r["text"].encode("utf-8"):
            h = (h * FP_BASE + b) % FP_MOD
        assert got[r["doc_id"]] == h


def test_ngram_jaccard_no_driver_count_job(spark, tables):
    """ndocs for df-pruning is an in-plan broadcast subquery, not a
    driver-side df.count() (a blocking extra corpus pass at 100 TB) —
    build the plan with DataFrame.count poisoned to prove it. An explicit
    ndocs= must give the same pairs as the in-plan count."""
    from bigslice_spark.operators.dedup import ngram_jaccard_pairs
    docs = tables["documents"]
    from pyspark.sql import DataFrame as _DF

    def _boom(self):
        raise AssertionError("driver-side .count() in ngram_jaccard_pairs")

    orig = _DF.count
    _DF.count = _boom
    try:
        pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    finally:
        _DF.count = orig
    n = docs.count()
    explicit = ngram_jaccard_pairs(docs, threshold=0.5, ndocs=n)
    got = sorted((r["id_a"], r["id_b"]) for r in pairs.collect())
    want = sorted((r["id_a"], r["id_b"]) for r in explicit.collect())
    assert got == want and len(got) > 0


# Whitespace the two regex engines treat differently (VT: Java's \s has
# it, RE2's does not), whitespace both split on, NBSP which neither
# splits on, and documents shorter than every shingle width tested.
_TEXT_EDGE_DOCS = [
    (1, "a\x0bb c"), (2, "a\x0cb\x0cc d"), (3, "line one\r\nline two"),
    (4, "tab\t\t\trun  of   spaces and more"), (5, "nb\u00a0sp stays one"),
    (6, "  leading and trailing  \n"), (7, ""), (8, " \t\n\x0b\x0c\r "),
    (9, "solo"), (10, "two words"), (11, "two\x0bwords"),
    (12, "x y x y x y z"), (13, "a a a a a"), (14, None),
]


def test_oracle_text_fragments_match_spark(spark):
    """The oracle builders queries._tokens_sql and _shingle_ctes replay
    text.tokens() and dedup._shingle_rows row for row on inline edge
    cases the fixtures lack: VT/FF/CRLF/tab runs, NBSP, leading and
    trailing whitespace, empty, whitespace-only and NULL text, 1- and
    2-token documents (the whole-document shingle) and a short
    near-duplicate pair that differ only in a VT."""
    import duckdb
    from collections import Counter
    from bigslice_spark.operators.dedup import _shingle_rows
    from bigslice_spark.operators.text import tokens
    from bigslice_spark.queries import _shingle_ctes, _tokens_sql
    docs = spark.createDataFrame(_TEXT_EDGE_DOCS,
                                 "doc_id long, text string")
    con = duckdb.connect()
    values = ", ".join(f"({i}, NULL)" if t is None else f"({i}, '{t}')"
                       for i, t in _TEXT_EDGE_DOCS)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM (VALUES "
                f"{values}) t(doc_id, text)")
    got = dict(con.execute(
        f"SELECT doc_id, {_tokens_sql()} FROM documents").fetchall())
    want = {r[0]: r[1] for r in docs.select(
        "doc_id", tokens("text")).collect()}
    assert got == want
    assert want[1] == ["a", "b", "c"] and want[5][0] == "nb\u00a0sp"
    for w in (1, 2, 3, 5):
        for distinct in (False, True):
            sql = (f"WITH {_shingle_ctes('sh', w, distinct)} "
                   "SELECT doc_id, tok FROM sh")
            got = Counter(map(tuple, con.execute(sql).fetchall()))
            want = Counter(
                (r[0], r[1]) for r in _shingle_rows(
                    docs, "text", "doc_id", w, distinct).collect())
            assert got == want, (w, distinct)
    con.close()


def _item_jaccard_brute(rows, threshold, max_df_ratio, nids=None):
    """Reference semantics of item_jaccard_pairs, in plain Python."""
    import math
    from collections import Counter
    sets: dict = {}
    for i, item in rows:
        sets.setdefault(i, set()).add(item)
    n = len(sets) if nids is None else nids
    dfreq = Counter(item for s in sets.values() for item in s)
    cap = math.floor(float(max_df_ratio) * n)
    cold = {i: {x for x in s if dfreq[x] <= cap} for i, s in sets.items()}
    out = {}
    for a in sets:
        for b in sets:
            inter = len(cold[a] & cold[b])
            if a < b and inter:
                j = inter / (len(sets[a]) + len(sets[b]) - inter)
                if j >= threshold:
                    out[(a, b)] = j
    return out


def test_item_jaccard_pairs_matches_brute_force(spark):
    """item_jaccard_pairs against a Python brute force on an
    adversarial relation: duplicate rows; an item every id holds,
    pruned while the set sizes keep it (1–2 would reach 0.5 on pruned
    sizes, and stays at 1/3); a pair exactly at the threshold (3–4);
    an id whose items are all pruned (5); the id count computed
    in-plan or given (nids=10 un-prunes the shared item); salted
    posting lists (chunk_target=1); and an empty relation."""
    from bigslice_spark.operators.dedup import item_jaccard_pairs
    rows = ([(1, "a")] * 3 + [(1, "b"), (1, "c"), (1, "all"),
                              (2, "a"), (2, "b"), (2, "d"), (2, "all"),
                              (3, "e"), (3, "f"), (3, "all"),
                              (4, "e"), (4, "f"), (4, "all"), (4, "e"),
                              (5, "all")])
    rel = spark.createDataFrame(rows, "cust long, part string")
    for nids in (None, 5, 10):
        want = _item_jaccard_brute(rows, 0.5, 0.5, nids)
        for chunk_target in (1, 2048):
            got = {(r["id_a"], r["id_b"]): r["jaccard"]
                   for r in item_jaccard_pairs(
                       rel, "cust", "part", threshold=0.5,
                       max_df_ratio=0.5, nids=nids,
                       chunk_target=chunk_target).collect()}
            assert got == want, (nids, chunk_target)
    assert _item_jaccard_brute(rows, 0.5, 0.5) == {(3, 4): 0.5}
    assert (1, 2) in _item_jaccard_brute(rows, 0.5, 0.5, 10)
    empty = spark.createDataFrame([], "cust long, part string")
    for nids in (None, 3):
        out = item_jaccard_pairs(empty, "cust", "part", nids=nids)
        assert out.columns == ["id_a", "id_b", "jaccard"]
        assert out.collect() == []


def test_minhash_tracks_exact_jaccard(spark, tables):
    """MinHash signature similarity must approximate exact token-set
    Jaccard: pairs found by LSH at high threshold should have high exact
    Jaccard (this corpus has a tiny vocab, so overlaps are large)."""
    from bigslice_spark.operators.dedup import (minhash_lsh_pairs,
                                                ngram_jaccard_pairs)
    docs = tables["documents"]
    mh = minhash_lsh_pairs(docs, num_hashes=64, bands=16, threshold=0.7)
    exact = ngram_jaccard_pairs(docs, threshold=0.0, max_df_ratio=1.01)
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact.collect()}
    found = [(r["id_a"], r["id_b"], r["sim"]) for r in mh.collect()]
    for a, b, sim in found:
        assert j.get((a, b), 0.0) >= 0.4, \
            f"LSH pair ({a},{b}) sim={sim} but exact jaccard " \
            f"{j.get((a, b))}"


def test_lsh_no_bucket_cap(spark):
    """A degenerate bucket (100 identical docs → every band collides)
    must yield ALL n·(n-1)/2 pairs — a capped pair generator silently
    misses duplicates on exactly the corpora dedup exists for."""
    from bigslice_spark.operators.dedup import minhash_lsh_pairs, \
        simhash_pairs
    n = 100
    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog")
         for i in range(n)], "doc_id long, text string")
    want = n * (n - 1) // 2
    mh = minhash_lsh_pairs(df, num_hashes=64, bands=16, threshold=0.5)
    assert mh.count() == want
    assert mh.agg(F.min("sim")).collect()[0][0] == 1.0
    sh = simhash_pairs(df, max_hamming=0)
    assert sh.count() == want


def test_bucketed_self_join_salting_exact(spark):
    """_bucketed_self_join with salting engaged (chunk_target below the
    hot-bucket size) must produce EXACTLY the rows of the naive self-join
    — every ordered pair lands in one (c_a, c_b) cell, none duplicated,
    none lost — on a mix of hot, warm, and singleton buckets."""
    from bigslice_spark.operators.dedup import _bucketed_self_join
    rows = ([(i, "hot") for i in range(137)]
            + [(1000 + i, "warm") for i in range(23)]
            + [(2000, "solo")])
    rel = spark.createDataFrame(rows, "id long, bk string")
    naive = (rel.toDF("id_a", "bk")
             .join(rel.toDF("id_b", "bk"), on="bk")
             .select("bk", "id_a", "id_b"))
    salted = _bucketed_self_join(rel, ["bk"], chunk_target=10) \
        .select("bk", "id_a", "id_b")
    want = sorted(map(tuple, naive.collect()))
    got = sorted(map(tuple, salted.collect()))
    assert got == want
    # and salting must actually be in the plan (cell columns join keys)
    assert "__ci__" in salted._jdf.queryExecution().analyzed().toString()


def test_lsh_degenerate_bucket_salted_pairs_exact(spark):
    """Stress: a hot LSH bucket (identical docs) plus mutually-dissimilar
    decoys. AQE's skew splitter cannot split this join (input bytes per
    bucket are tiny; the blowup is in the OUTPUT), so the explicit
    salting must carry it — and the pair set must be identical to the
    unsalted plan."""
    import hashlib
    from bigslice_spark.operators.dedup import minhash_lsh_pairs
    hot = [(i, "the quick brown fox jumps over the lazy dog")
           for i in range(150)]
    # decoys: md5-derived word soup — dissimilar to the hot doc AND to
    # each other (shared-prefix decoys would be near-dups of themselves)
    decoys = [(10_000 + i,
               " ".join(hashlib.md5(f"{i}:{k}".encode()).hexdigest()
                        for k in range(8)))
              for i in range(40)]
    df = spark.createDataFrame(hot + decoys, "doc_id long, text string")
    kw = dict(num_hashes=64, bands=16, threshold=0.5)
    salted = minhash_lsh_pairs(df, chunk_target=32, **kw)
    plain = minhash_lsh_pairs(df, chunk_target=1 << 30, **kw)
    want = sorted((r["id_a"], r["id_b"], r["sim"])
                  for r in plain.collect())
    got = sorted((r["id_a"], r["id_b"], r["sim"])
                 for r in salted.collect())
    assert got == want
    assert len(got) == 150 * 149 // 2  # all hot pairs, no decoy pairs


def test_minhash_portable_matches_default_shape(spark):
    """Portable (md5) and default (xxhash64) modes use different hash
    families but identical pipeline shape; on exact-duplicate docs both
    must produce the same pair set at sim=1.0."""
    from bigslice_spark.operators.dedup import minhash_lsh_pairs
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta epsilon"),
         (3, "one two three four five six")],
        "doc_id long, text string")
    for portable in (False, True):
        got = {(r["id_a"], r["id_b"]): r["sim"] for r in minhash_lsh_pairs(
            df, threshold=0.9, portable=portable).collect()}
        assert got == {(1, 2): 1.0}, f"portable={portable}: {got}"


def test_simhash_identical_docs_zero_hamming(session, spark):
    from bigslice_spark.operators.dedup import simhash_pairs
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),
         (2, "the quick brown fox jumps"),
         (3, "completely different words entirely distinct")],
        "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(df, max_hamming=64).collect()}
    assert pairs[(1, 2)] == 0


def test_hash_split_stable_under_repartition(spark, tables):
    """The whole point vs randomSplit: assignment is a pure function of
    the id — identical after any repartitioning, and proportions track
    the requested fractions."""
    from bigslice_spark.operators.sampling import hash_split
    docs = tables["documents"]
    a = {r["doc_id"]: r["split"]
         for r in hash_split(docs).select("doc_id", "split").collect()}
    b = {r["doc_id"]: r["split"]
         for r in hash_split(docs.repartition(17))
         .select("doc_id", "split").collect()}
    assert a == b
    n = len(a)
    train = sum(1 for s in a.values() if s == "train")
    assert train / n > 0.9  # 98% requested; tiny corpus → loose bound


def test_leakage_safe_split_cluster_atomic(spark):
    """The guarantee: every near-dup pair lands in ONE split — including
    transitively (a~b, b~c ⇒ a,c same split even if (a,c) is not a
    pair) — while untouched singletons split independently by their own
    id. A plain per-id hash_split violates this by construction (ids in
    one cluster hash independently), which is the operator's reason to
    exist."""
    from bigslice_spark.operators.sampling import leakage_safe_split
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string")
    # chain 0~1, 1~2 (one 3-cluster) + pair 10~11 + singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long")
    out = leakage_safe_split(docs, pairs,
                             fractions=(("train", 0.5), ("test", 0.5)))
    m = {r["doc_id"]: (r["split_group"], r["split"])
         for r in out.collect()}
    assert len(m) == 200
    assert m[0] == m[1] == m[2] and m[0][0] == 0
    assert m[10] == m[11] and m[10][0] == 10
    # singletons keep their own id as the atom and both splits occur
    assert m[42][0] == 42
    assert {s for _, s in m.values()} == {"train", "test"}


def test_hash_split_bad_fractions(spark, tables):
    from bigslice_spark.operators.sampling import hash_split
    with pytest.raises(ValueError, match="fractions"):
        hash_split(tables["documents"], fractions=(("a", 0.9), ("b", 0.9)))


def test_budget_sample_first_row_always_kept(spark):
    """A group whose first document exceeds the budget still yields that
    document (a budget never empties a group); later rows stop at the
    budget."""
    from bigslice_spark.operators.sampling import budget_sample
    df = spark.createDataFrame(
        [(1, "en", 500), (2, "en", 10), (3, "de", 40), (4, "de", 50),
         (5, "de", 20)],
        "doc_id long, lang string, tokens long")
    got = {r["doc_id"] for r in
           budget_sample(df, "tokens", budget=100).collect()}
    # en: doc 1 oversized but first → kept; doc 2 would exceed → out
    # de: 40+50=90 ≤ 100 kept; +20=110 > 100 → doc 5 out
    assert got == {1, 3, 4}


def test_pagerank_hand_computed(spark):
    """a→b only, N=2, d=0.85: a never receives mass → 0.075; b settles
    at 0.075 + 0.85·0.075 = 0.13875 (dangling mass dropped, documented).
    Ordered and default modes must agree here (single contribution per
    node → no reassociation)."""
    from bigslice_spark.operators.graph import pagerank
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    for ordered in (False, True):
        got = {r["node"]: r["rank"]
               for r in pagerank(e, iters=3, ordered=ordered).collect()}
        assert abs(got[1] - 0.075) < 1e-12
        assert abs(got[2] - 0.13875) < 1e-12


def test_asof_strict_vs_inclusive(spark):
    from bigslice_spark.operators.asof import asof_join
    left = spark.createDataFrame(
        [(1, 100, "l1"), (1, 200, "l2")], "k long, ts long, tag string")
    right = spark.createDataFrame(
        [(1, 100, 7.0), (1, 150, 8.0)], "k long, rts long, val double")
    incl = asof_join(left, right, on="k", left_ts="ts", right_ts="rts",
                     value_cols=["val"], strict=False)
    got = {r["tag"]: r["val"] for r in incl.collect()}
    assert got == {"l1": 7.0, "l2": 8.0}
    strict = asof_join(left, right, on="k", left_ts="ts", right_ts="rts",
                       value_cols=["val"], strict=True)
    got = {r["tag"]: r["val"] for r in strict.collect()}
    assert got["l1"] is None and got["l2"] == 8.0


def test_flatmap_rows_edges(spark):
    """The one per-row stage: a batch whose rows all map to nothing
    yields no frame (the result keeps the declared schema), an ``int``
    id keeps its type through the positional frame, and a NULL binary
    value reaches ``fn`` as None."""
    from pyspark.sql.types import IntegerType

    from bigslice_spark.slice import flatmap_rows
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        df = spark.createDataFrame(
            [(i, None if i % 2 else bytearray(b"x" * i))
             for i in range(9)], "id int, b binary").coalesce(1)
        none = flatmap_rows(df, lambda row: (), "id int, n long")
        assert none.collect() == []
        assert none.schema.simpleString() == "struct<id:int,n:bigint>"
        # ids 0-2 form the first batch of the one partition: it maps to
        # nothing, the later batches do not
        out = flatmap_rows(
            df, lambda row: [(row[0], row[1] is None)] if row[0] > 2
            else [], "id int, null_blob boolean")
        assert out.schema["id"].dataType == IntegerType()
        assert sorted(tuple(r) for r in out.collect()) == [
            (i, bool(i % 2)) for i in range(3, 9)]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_fold_stream_null_keys_kept(session, spark):
    """Spark groupBy keeps a null-key group; fold_stream must too, and
    must emit it ONCE even when its rows span Arrow batches."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        keys = ["a"] * 3 + [None] * 20
        sl = session.const(2, keys, list(range(23)), names=["k", "v"],
                           schema="k string, v long")
        out = sl.fold_stream(
            lambda: [0],
            lambda acc, chunk: [acc[0] + len(chunk)],
            lambda key, acc: {"k": key[0], "n": acc[0]},
            "k string, n long")
        got = {r["k"]: r["n"] for r in out.df.collect()}
        assert got == {"a": 3, None: 20}
        assert out.df.count() == 2
        # the segmented (two-stage) path keeps the null-key group too:
        # its stage-1 runs and its stage-2 merge both span batches
        seg = session.const(2, keys, [v % 8 for v in range(23)],
                            list(range(23)), names=["k", "s", "v"],
                            schema="k string, s long, v long")
        out = seg.fold_stream(
            lambda: [0],
            lambda acc, chunk: [acc[0] + len(chunk)],
            lambda key, acc: {"k": key[0], "n": acc[0]},
            "k string, n long", segment_col="s",
            merge=lambda a, b: [a[0] + b[0]])
        got = {r["k"]: r["n"] for r in out.df.collect()}
        assert got == {"a": 3, None: 20}
        assert out.df.count() == 2
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_repartition_by_bytes_keeps_null_payloads(spark):
    from bigslice_spark.operators.multimodal import (pack_media,
                                                     repartition_by_bytes)
    df = spark.createDataFrame(
        [(1, b"xx"), (2, None), (3, b"yyy")], "doc_id long, b binary")
    out = repartition_by_bytes(pack_media(df, "b", "doc_id"),
                               target_partition_mb=1)
    assert out.count() == 3


def test_asof_null_timestamps(spark):
    """NULL-ts left rows match nothing (both directions); NULL-ts right
    rows match no left row."""
    from bigslice_spark.operators.asof import asof_join
    left = spark.createDataFrame(
        [(1, None, "lnull"), (1, 120, "l1")],
        "k long, ts long, tag string")
    right = spark.createDataFrame(
        [(1, None, 5.0), (1, 100, 7.0)], "k long, rts long, val double")
    for direction, want in [("backward", {"lnull": None, "l1": 7.0}),
                            ("forward", {"lnull": None, "l1": None})]:
        out = asof_join(left, right, on="k", left_ts="ts",
                        right_ts="rts", value_cols=["val"],
                        direction=direction)
        got = {r["tag"]: r["val"] for r in out.collect()}
        assert got == want, f"{direction}: {got}"


def test_stream_to_parquet_empty_result(spark, sf_dir, tmp_path):
    from bigslice_spark.streaming import stream_events, stream_to_parquet
    d = str(tmp_path)
    ev = stream_events(spark, sf_dir)
    out = stream_to_parquet(
        ev.filter(F.col("event_type") == "no_such_type")
        .select("event_id"), f"{d}/data", f"{d}/ckpt")
    assert out.count() == 0
    assert out.columns == ["event_id"]


def test_asof_forward_direction(spark):
    from bigslice_spark.operators.asof import asof_join
    left = spark.createDataFrame(
        [(1, 100, "l1"), (1, 200, "l2")], "k long, ts long, tag string")
    right = spark.createDataFrame(
        [(1, 100, 7.0), (1, 150, 8.0)], "k long, rts long, val double")
    fwd = asof_join(left, right, on="k", left_ts="ts", right_ts="rts",
                    value_cols=["val"], strict=True, direction="forward")
    got = {r["tag"]: r["val"] for r in fwd.collect()}
    # l1@100: earliest right strictly after 100 is 150→8.0; l2@200: none
    assert got == {"l1": 8.0, "l2": None}
    incl = asof_join(left, right, on="k", left_ts="ts", right_ts="rts",
                     value_cols=["val"], strict=False,
                     direction="forward")
    got = {r["tag"]: r["val"] for r in incl.collect()}
    assert got == {"l1": 7.0, "l2": None}


def test_multimodal_plumbing(spark, tables):
    from bigslice_spark.operators.multimodal import (extract_features,
                                                     frame_sample,
                                                     pack_media,
                                                     repartition_by_bytes)
    docs = tables["documents"].limit(50)
    m = pack_media(docs.withColumn("b", F.encode("text", "utf-8")),
                   "b", "doc_id", mime="text/plain")
    assert m.schema["media"].dataType.typeName() == "binary"
    m2 = repartition_by_bytes(m, target_partition_mb=1)
    feats = extract_features(m2, fake=True, feat_dim=4).collect()
    assert len(feats) == 50
    for r in feats:
        assert len(r["feat"]) == 4
        assert abs(sum(r["feat"]) - 1.0) < 1e-9  # normalized histogram
    frames = frame_sample(m, every_n=5)
    assert frames.count() >= 50
    # fake=False is the REAL decode path since r6 — on a payload that
    # is not PPM/BMP/WAV it fails loudly at execution, never fabricates
    with pytest.raises(Exception, match="PPM/BMP|RIFF|ValueError"):
        extract_features(m, fake=False).collect()


def test_repartition_by_bytes_isolates_big_blobs(spark):
    """A blob at/above the target must land in its own partition, not
    alongside a full budget of small rows."""
    from bigslice_spark.operators.multimodal import (pack_media,
                                                     repartition_by_bytes)
    target_mb = 1
    rows = [(i, b"x" * 1000) for i in range(100)]          # 100 KB small
    rows += [(1000, b"y" * (2 * 1024 * 1024)),             # 2 giant blobs
             (1001, b"z" * (2 * 1024 * 1024))]
    df = spark.createDataFrame(rows, "doc_id long, b binary")
    m = pack_media(df, "b", "doc_id")
    out = repartition_by_bytes(m, target_partition_mb=target_mb)
    assert out.count() == 102
    per_part = out.select(F.spark_partition_id().alias("p"),
                          F.octet_length("media").alias("n")) \
        .groupBy("p").agg(F.sum("n").alias("bytes"),
                          F.count(F.lit(1)).alias("rows")).collect()
    big_parts = [r for r in per_part
                 if r["bytes"] >= 2 * 1024 * 1024]
    for r in big_parts:
        assert r["rows"] == 1, f"big blob shares a partition: {r}"


def test_similarity_lsh_recall_vs_brute(spark, tables):
    """LSH with multiprobe should recover a decent fraction of the true
    top-10 (recall sanity, not exactness)."""
    from bigslice_spark.operators.similarity import (brute_force_topk,
                                                     lsh_topk)
    emb = tables["embeddings"]
    qs = emb.filter(F.col("vec_id") < 10)
    truth = brute_force_topk(emb, qs, k=5)
    t = {(r["qid"], r["nid"]) for r in truth.collect()}
    got = lsh_topk(emb, qs, k=5, nbits=4, multiprobe=3)
    g = {(r["qid"], r["nid"]) for r in got.collect()}
    recall = len(t & g) / len(t)
    assert recall >= 0.2, f"LSH recall too low: {recall}"


def test_cosine_operators_on_an_empty_corpus(spark):
    """No dim probe: an empty corpus gives an empty frame with the
    output columns, not a 'cannot infer dim' error."""
    from bigslice_spark.operators.dedup import embedding_cosine_pairs
    from bigslice_spark.operators.pq import pq_topk
    from bigslice_spark.operators.similarity import brute_force_topk
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int")
    pairs = embedding_cosine_pairs(empty)
    assert pairs.columns == ["id_a", "id_b", "cosine"]
    assert pairs.collect() == []
    top = brute_force_topk(empty, empty, k=3)
    assert top.columns == ["qid", "nid", "cosine", "rank"]
    assert top.collect() == []
    # no query survives the norm filter: the ADC table set is empty
    books = [[[1.0, 0.0], [0.0, 1.0]]] * 2
    pq = pq_topk(empty, empty, books, k=3, dim=4)
    assert pq.columns == ["qid", "nid", "cosine", "rank"]
    assert pq.collect() == []


def _build_jobs(session, spark, group, build):
    """Ids of the jobs ``build()`` schedules under a scoped job group
    (the listener bus is drained first, so none is missed)."""
    with session.job_group(group):
        build()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark.sparkContext.statusTracker().getJobIdsForGroup(group)


def test_cosine_operator_builds_run_no_dim_probe(session, spark, tables):
    """Building brute_force_topk schedules no job, and building
    embedding_cosine_pairs schedules only its two materialize points:
    the normalized vectors and _bucketed_self_join's hot-key sizing
    (no `.first()` dim probe before them)."""
    from bigslice_spark.checkpoint import materialize, release
    from bigslice_spark.operators.dedup import (_bucketed_self_join,
                                                embedding_cosine_pairs)
    from bigslice_spark.operators.similarity import (_prep,
                                                     brute_force_topk)
    emb = tables["embeddings"]
    qs = emb.filter(F.col("vec_id") < 3)
    assert _build_jobs(session, spark, "t:bf",
                       lambda: brute_force_topk(emb, qs, k=3)) == []
    whole = _build_jobs(session, spark, "t:pairs",
                        lambda: embedding_cosine_pairs(emb))
    norm = []
    prep = _prep(emb, "embedding", "vec_id",
                 F.col("label").alias("bk")).toDF("id", "bk", "v", "n")
    assert len(_build_jobs(session, spark, "t:norm",
                           lambda: norm.append(materialize(prep)))) == 1
    sizing = _build_jobs(session, spark, "t:sizing",
                         lambda: _bucketed_self_join(norm[0], ["bk"]))
    release(norm[0])
    assert len(whole) == 1 + len(sizing), (whole, sizing)


def test_repartition_func_preserves_content(session):
    sl = session.const(4, list(range(50)), names=["n"], schema="n long")
    out = sl.repartition_func(8, F.col("n") * 7 + 1)
    assert sorted(r[0] for r in out.collect()) == list(range(50))


def test_metrics_counter(spark, tables):
    from bigslice_spark.metrics import Scope
    scope = Scope(spark)
    c = scope.counter("rows_seen")

    def op(it):
        for pdf in it:
            c.incr(len(pdf))
            yield pdf

    df = tables["nation"]
    n = df.mapInPandas(op, df.schema).count()
    assert c.value == n == 25
    assert scope.snapshot() == {"rows_seen": 25}


def test_scan_side_effects(session):
    sl = session.const(3, list(range(30)), names=["n"], schema="n long")
    # scan must consume every row exactly once across shards
    from bigslice_spark.metrics import Counter
    c = Counter(session.spark, "scanned")

    def consume(shard, rows):
        c.incr(sum(1 for _ in rows))

    sl.scan(consume)
    assert c.value == 30


def test_functions_module_exports(spark, tables):
    from bigslice_spark import functions as BF
    df = tables["documents"].select(
        BF.token_count("text").alias("tc"),
        BF.murmur3_hash("text").alias("h"),
        BF.upper(BF.col("lang")).alias("u"))
    r = df.first()
    assert r["tc"] > 0 and isinstance(r["h"], int) and r["u"].isupper()


def test_contamination_report_matches_python(spark, tables):
    """contamination_report pairs/counts must equal a pure-Python
    distinct-shared-shingle count over the same split."""
    from bigslice_spark.operators.decontam import (contamination_report,
                                                   decontaminate)
    docs = tables["documents"].limit(120)
    ev = docs.filter(F.col("doc_id") % 7 == 0)
    tr = docs.filter(F.col("doc_id") % 7 != 0)

    def grams(text, w=3):
        tk = text.split()
        if len(tk) >= w:
            return {" ".join(tk[i:i + w]) for i in range(len(tk) - w + 1)}
        return {" ".join(tk)}

    tr_g = {r["doc_id"]: grams(r["text"]) for r in tr.collect()}
    ev_g = {r["doc_id"]: grams(r["text"]) for r in ev.collect()}
    want = {}
    for tid, tg in tr_g.items():
        for eid, eg in ev_g.items():
            n = len(tg & eg)
            if n >= 2:
                want[(tid, eid)] = n
    rep = contamination_report(tr, ev, ngram_w=3, min_shared=2)
    got = {(r["train_id"], r["eval_id"]): r["n_shared"]
           for r in rep.collect()}
    assert got == want and len(got) > 0

    clean = decontaminate(tr, ev, ngram_w=3, min_shared=2)
    flagged = {t for t, _ in want}
    kept = {r["doc_id"] for r in clean.collect()}
    assert kept == set(tr_g) - flagged


def test_repetition_stats_matches_python(spark, tables):
    """dup/top n-gram fractions vs a pure-Python bigram count."""
    from collections import Counter as C
    from bigslice_spark.operators.text import repetition_stats
    docs = tables["documents"].limit(50)
    got = {r["doc_id"]: (r["dup_ngram_frac"], r["top_ngram_frac"])
           for r in repetition_stats(docs, ngram_w=2).collect()}
    for r in docs.collect():
        tk = r["text"].split()
        gs = ([" ".join(tk[i:i + 2]) for i in range(len(tk) - 1)]
              if len(tk) >= 2 else [" ".join(tk)])
        c = C(gs)
        tot = sum(c.values())
        dup, top = got[r["doc_id"]]
        assert abs(dup - (1.0 - len(c) / tot)) < 1e-12
        assert abs(top - max(c.values()) / tot) < 1e-12


def test_pack_sequences_matches_python(spark, tables):
    """Global concat-and-chunk packing == a single-threaded cumsum walk,
    including documents that span a sequence boundary."""
    from bigslice_spark.operators.packing import pack_sequences
    docs = tables["documents"]
    L = 64
    got = sorted((r["doc_id"], r["seq_id"], r["begin_tok"], r["end_tok"])
                 for r in pack_sequences(docs, L).collect())
    want, off = [], 0
    for r in sorted(docs.collect(), key=lambda r: r["doc_id"]):
        tc = len(r["text"].split())
        if tc == 0:
            continue
        for s in range(off // L, (off + tc - 1) // L + 1):
            want.append((r["doc_id"], s, max(0, s * L - off),
                         min(tc, (s + 1) * L - off)))
        off += tc
    assert got == sorted(want)
    assert any(b > 0 or e < 64 for _, _, b, e in got)  # spanning happened
    # every sequence except the last is exactly full
    import collections
    fill = collections.Counter()
    for _, s, b, e in got:
        fill[s] += e - b
    last = max(fill)
    assert all(v == L for s, v in fill.items() if s != last)


def _py_winnow(text, k=3, w=4):
    import hashlib
    tk = text.split()
    if len(tk) >= k:
        grams = [" ".join(tk[i:i + k]) for i in range(len(tk) - k + 1)]
    else:
        grams = [" ".join(tk)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
          % ((1 << 31) - 1) for g in grams]
    sel = set()
    for p in range(max(len(hs) - w, 0) + 1):
        win = hs[p:p + w]
        mn = min(win)
        pos = p + max(i for i, h in enumerate(win) if h == mn)
        sel.add((hs[pos], pos))
    return sel


def test_winnow_matches_python(spark, tables):
    """Winnowing selection == the paper's imperative walk with
    rightmost-min tie-break, over the portable md5 hash."""
    from bigslice_spark.operators.winnow import winnow_fingerprints
    docs = tables["documents"].limit(40)
    out = winnow_fingerprints(docs, k=3, window=4, portable=True)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], set()).add((r["fp"], r["fp_pos"]))
    for r in docs.collect():
        assert got.get(r["doc_id"], set()) == _py_winnow(r["text"])


def test_winnow_guarantee_and_pairs(spark):
    """The winnowing guarantee: documents sharing a token run of at
    least window + k - 1 tokens share >= 1 selected fingerprint, and
    winnow_pairs reports them."""
    from bigslice_spark.operators.winnow import winnow_pairs
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 >= 4+3-1
    rows = [(1, "xx yy " + shared + " zz"),
            (2, shared + " aa bb cc dd"),
            (3, "totally different words nothing common here at all")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"])
             for r in winnow_pairs(df, k=3, window=4,
                                   min_shared=1).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_scrub_pii_semantics(spark):
    from bigslice_spark.operators.pii import scrub_pii
    rows = [
        (1, "mail a.b-c@ex-1.co.uk now"),
        (2, "ssn 123-45-6789 phone (555) 123-4567 mixed"),
        (3, "+44 20 7946 0958? call 1-800-555-0199 done"),
        (4, "ips 10.0.0.1 192.168.255.255 and no pii words"),
        (5, "clean text with numbers 12345 and dots a.b.c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in scrub_pii(df).collect()}
    assert got[1]["text"] == "mail <EMAIL> now" and got[1]["n_email"] == 1
    # SSN claimed before the looser phone pattern can eat it
    assert got[2]["text"] == "ssn <SSN> phone <PHONE> mixed"
    assert got[2]["n_ssn"] == 1 and got[2]["n_phone"] == 1
    assert "<PHONE>" in got[3]["text"]
    assert got[4]["text"] == "ips <IP> <IP> and no pii words"
    assert got[4]["n_ip"] == 2
    assert got[5]["text"] == rows[4][1]  # untouched
    assert all(got[5][k] == 0 for k in
               ("n_email", "n_ssn", "n_phone", "n_ip"))


def test_span_dedup_semantics(spark):
    """Keep-in-min-id line dedup: owner keeps, later docs lose the
    line, fully-claimed docs vanish, order is preserved."""
    from bigslice_spark.operators.dedup import span_dedup
    rows = [(1, "aa bb\ncc dd\nee"), (2, "cc dd\nxx yy"),
            (3, "aa bb\ncc dd"), (4, "solo line\n\naa bb")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in span_dedup(df).collect()}
    assert got == {1: "aa bb\ncc dd\nee", 2: "xx yy", 4: "solo line"}


def test_score_documents_matches_python(spark, tables):
    """Mean-pooled hashed linear score == pure-python walk (dyadic
    weights ⇒ double sums are exact, so equality is bitwise)."""
    import hashlib
    from bigslice_spark.operators.classify import (demo_weights,
                                                   score_documents)
    docs = tables["documents"].limit(30)
    out = score_documents(docs, demo_weights(spark), portable=True)
    got = {r["doc_id"]: (r["n_tokens"], r["score"])
           for r in out.collect()}

    def h31(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) \
            % ((1 << 31) - 1)

    wtab = {j: (int(hashlib.md5(str(j).encode()).hexdigest()[:15], 16)
                % 2001 - 1000) / 1024.0 for j in range(1024)}
    for r in docs.collect():
        tk = r["text"].split()
        s = sum(wtab[h31(t) % 1024] for t in tk)
        n, score = got[r["doc_id"]]
        assert n == len(tk)
        assert score == s / len(tk)  # exact: dyadic weights


def test_score_documents_unknown_features_count(spark):
    """Tokens whose feature has no model row weigh 0 but still count
    toward the mean-pool denominator."""
    from bigslice_spark.operators.classify import score_documents
    df = spark.createDataFrame([(1, "aa bb cc dd")],
                               "doc_id long, text string")
    w = df.sparkSession.createDataFrame([(0, 1.0)],
                                        "feature long, weight double")
    r = score_documents(df, w, dim=1, bias=0.5).first()
    assert r["n_tokens"] == 4 and r["score"] == 0.5 + 1.0
    w0 = df.sparkSession.createDataFrame([(999, 1.0)],
                                         "feature long, weight double")
    r0 = score_documents(df, w0, dim=1, bias=0.25).first()
    assert r0["score"] == 0.25


def test_nb_classifier_matches_python_reference(spark):
    """nb_train/nb_classify (operators/classify.py, r12): predictions
    equal an independent driver-side NB computed with plain Python
    math (add-one smoothing, log-prob sums, smallest-label
    tie-break), on a corpus where training labels are separable AND
    one doc carries only out-of-class tokens (prior + OOV smoothing
    decide it)."""
    import math
    from collections import Counter

    from bigslice_spark.operators.classify import nb_classify, nb_train
    rows = [(1, "spam spam buy now", "s"),
            (2, "buy spam cheap now now", "s"),
            (3, "meeting notes agenda", "h"),
            (4, "agenda for the meeting", "h"),
            (5, "spam agenda", "h"),
            (6, "zzz qqq", "s")]
    df = spark.createDataFrame(rows,
                               "doc_id long, text string, lang string")
    wc, cls, glob = nb_train(df, label_col="lang")
    got = {r["doc_id"]: (r["pred"], r["n_words"])
           for r in nb_classify(df, wc, cls, glob).collect()}

    # independent reference
    by_label_tokens: dict[str, Counter] = {}
    n_docs: Counter = Counter()
    vocab = set()
    for _, text, lab in rows:
        n_docs[lab] += 1
        toks = text.split()
        vocab.update(toks)
        by_label_tokens.setdefault(lab, Counter()).update(toks)
    N, V = len(rows), len(vocab)
    for did, text, _ in rows:
        toks = text.split()
        best = None
        for lab in sorted(n_docs):
            s = math.log(n_docs[lab] / N)
            tot = sum(by_label_tokens[lab].values())
            for w in toks:
                s += math.log(
                    (by_label_tokens[lab][w] + 1) / (tot + V))
            if best is None or s > best[1] + 1e-12:
                best = (lab, s)
        assert got[did][0] == best[0], (did, got[did], best)
        assert got[did][1] == len(toks)


def test_nb_tokenless_class_shared_behavior(spark, duck):
    """ADVICE r12: a class whose documents carry ZERO tokens must get
    ONE specified behavior on both sides — nb_train keeps it (LEFT
    join, n_tokens=0: it competes via prior + pure smoothing), and the
    nb_classifier oracle SQL now LEFT-joins ctok with coalesce(0) to
    match. Engine vs a DuckDB replay of the oracle's terms CTE on the
    degenerate corpus."""
    from bigslice_spark.operators.classify import nb_classify, nb_train
    rows = [(1, "alpha beta alpha", "a"),
            (2, "   ", "empty"),       # whitespace-only: 0 tokens
            (3, "beta beta", "a"),
            (4, "gamma", "b")]
    df = spark.createDataFrame(rows,
                               "doc_id long, text string, lang string")
    wc, cls, glob = nb_train(df, label_col="lang")
    stats = {r["label"]: (r["n_docs"], r["n_tokens"])
             for r in cls.collect()}
    assert stats["empty"] == (1, 0)       # kept, not dropped
    got = {r["doc_id"]: r["pred"]
           for r in nb_classify(df, wc, cls, glob).collect()}
    assert set(got) == {1, 3, 4}          # token-less doc: no row
    # DuckDB replay with the aligned LEFT JOIN semantics
    duck.execute("CREATE OR REPLACE TEMP TABLE nbt AS SELECT * FROM ("
                 "VALUES (1,'alpha beta alpha','a'),(2,'   ','empty'),"
                 "(3,'beta beta','a'),(4,'gamma','b')"
                 ") t(doc_id, text, lang)")
    sql = """
    WITH tok AS (SELECT lang AS label,
                 unnest(list_filter(string_split_regex(text, '\\s+'),
                                    t -> t <> '')) AS w FROM nbt),
    wc AS (SELECT label, w, count(*) AS cnt FROM tok GROUP BY 1, 2),
    cls AS (SELECT lang AS label, count(*) AS n_docs
            FROM nbt GROUP BY 1),
    ctok AS (SELECT label, count(*) AS n_tokens FROM tok GROUP BY 1),
    gv AS (SELECT (SELECT count(*) FROM nbt) AS N,
                  (SELECT count(DISTINCT w) FROM tok) AS V),
    dw AS (SELECT doc_id, w, count(*) AS dw FROM (
             SELECT doc_id,
                    unnest(list_filter(
                        string_split_regex(text, '\\s+'),
                        t -> t <> '')) AS w FROM nbt) GROUP BY 1, 2),
    terms AS (
      SELECT d.doc_id, c.label,
             CAST(CAST(d.dw AS DOUBLE)
                  * ln(CAST(coalesce(wc.cnt, 0) + 1 AS DOUBLE)
                       / CAST(coalesce(ct.n_tokens, 0) + g.V
                              AS DOUBLE)) AS DECIMAL(38,12)) AS t
      FROM dw d CROSS JOIN cls c
      LEFT JOIN ctok ct ON ct.label = c.label
      CROSS JOIN gv g
      LEFT JOIN wc ON wc.label = c.label AND wc.w = d.w),
    per AS (SELECT doc_id, label, sum(t) AS s
            FROM terms GROUP BY 1, 2),
    pri AS (SELECT c.label,
                   CAST(ln(CAST(c.n_docs AS DOUBLE)
                           / CAST(g.N AS DOUBLE)) AS DECIMAL(38,12))
                     AS plp
            FROM cls c CROSS JOIN gv g)
    SELECT doc_id, label FROM (
      SELECT p.doc_id, p.label,
             row_number() OVER (PARTITION BY p.doc_id
                                ORDER BY p.s + r.plp DESC, p.label)
               AS rn
      FROM per p JOIN pri r ON r.label = p.label) WHERE rn = 1
    """
    oracle = {r[0]: r[1] for r in duck.execute(sql).fetchall()}
    assert got == oracle


def test_stratified_sample_quota_and_determinism(spark, tables):
    from bigslice_spark.operators.sampling import stratified_sample
    docs = tables["documents"]
    out = stratified_sample(docs, "lang", 5)
    per = {r["lang"]: r["count"]
           for r in out.groupBy("lang").count().collect()}
    full = {r["lang"]: r["count"]
            for r in docs.groupBy("lang").count().collect()}
    for k, n in full.items():
        assert per.get(k, 0) == min(5, n)
    # deterministic under different partitioning
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in
               stratified_sample(docs.repartition(7), "lang", 5)
               .collect())
    assert a == b
    # dict quotas: unlisted strata keep nothing
    d = stratified_sample(docs, "lang", {"en": 3})
    got = {r["lang"]: r["count"]
           for r in d.groupBy("lang").count().collect()}
    assert got == {"en": 3}


def test_stratified_frac_is_subset_of_hash_split_mechanism(spark,
                                                           tables):
    """stratified_frac keeps the hash-bucket prefix per stratum —
    nested fractions are SUBSETS (the property that lets a pipeline
    downsample further without reshuffling membership)."""
    from bigslice_spark.operators.sampling import stratified_frac
    docs = tables["documents"]
    small = {r["doc_id"] for r in
             stratified_frac(docs, "lang", {"en": 0.2}).collect()}
    big = {r["doc_id"] for r in
           stratified_frac(docs, "lang", {"en": 0.6}).collect()}
    assert small and small < big


def test_text_operator_edge_inputs(spark):
    """Null / empty / whitespace-only / single-token documents flow
    through every text operator without error, with pinned semantics:
    content-empty docs are mutual duplicates; token-less docs vanish
    from token-denominated ops; null text propagates null (or drops)
    rather than raising."""
    from bigslice_spark.operators import classify as C
    from bigslice_spark.operators import dedup as D
    from bigslice_spark.operators import packing as P
    from bigslice_spark.operators import pii as PI
    rows = [(1, None), (2, ""), (3, "   "), (4, "solo"),
            (5, "two words"), (6, "a b c d e f g")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # "" and "   " are both content-empty → an LSH duplicate pair
    mh = {(r["id_a"], r["id_b"]) for r in
          D.minhash_lsh_pairs(df).collect()}
    assert mh == {(2, 3)}

    # token-less docs can't occupy token space → dropped from packing
    packed = {r["doc_id"] for r in P.pack_sequences(df, 4).collect()}
    assert packed == {4, 5, 6}

    # ...and from classifier scoring (mean over zero tokens undefined)
    scored = {r["doc_id"] for r in
              C.score_documents(df, C.demo_weights(spark)).collect()}
    assert scored == {4, 5, 6}

    # null text: scrub passes null through, counts go null not crash
    pii = {r["doc_id"]: r["text"] for r in PI.scrub_pii(df).collect()}
    assert pii[1] is None and pii[4] == "solo"

    # span_dedup: null drops, identical-content docs dedup to min id
    sd = {r["doc_id"] for r in D.span_dedup(df).collect()}
    assert 1 not in sd and 4 in sd


def test_bucketed_join_two_sided_exact(spark):
    """_bucketed_join with both sides chunked (chunk_target below both
    hot sizes) == the naive inner join, on asymmetric hot/warm/solo
    buckets and keys present on only one side."""
    import pyspark.sql.functions as F
    from bigslice_spark.operators.dedup import _bucketed_join
    lrows = ([(i, "hot") for i in range(57)]
             + [(100 + i, "warm") for i in range(4)]
             + [(200, "lonly")])
    rrows = ([(1000 + i, "hot") for i in range(33)]
             + [(1100, "warm")] + [(1200, "ronly")])
    left = spark.createDataFrame(lrows, "id long, bk string")
    right = spark.createDataFrame(rrows, "id long, bk string")
    naive = (left.toDF("ida", "bk").join(right.toDF("idb", "bk"), "bk")
             .select("bk", "ida", "idb"))
    got = (_bucketed_join(left, right, ["bk"], chunk_target=8)
           .select("bk", "id_a", "id_b"))
    assert sorted(map(tuple, naive.collect())) \
        == sorted(map(tuple, got.collect()))


def test_minhash_against_equals_cross_side_subset(spark, tables):
    """minhash_pairs_against(new, corpus) == the cross-side subset of
    the full corpus' self-join pairs, re-oriented new→corpus."""
    from bigslice_spark.operators.dedup import (minhash_lsh_pairs,
                                                minhash_pairs_against)
    docs = tables["documents"]
    new = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    full = {(r["id_a"], r["id_b"]): r["sim"]
            for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    want = {}
    for (a, b), s in full.items():
        if a % 7 == 0 and b % 7 != 0:
            want[(a, b)] = s
        elif b % 7 == 0 and a % 7 != 0:
            want[(b, a)] = s
    got = {(r["new_id"], r["corpus_id"]): r["sim"]
           for r in minhash_pairs_against(new, corpus,
                                          threshold=0.5).collect()}
    assert got == want


def test_exact_dedup_against(spark):
    from bigslice_spark.operators.dedup import exact_dedup_against
    new = spark.createDataFrame(
        [(1, "seen before"), (2, "brand new"), (3, "also seen")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(100, "seen before"), (101, "also seen"), (102, "other")],
        "doc_id long, text string")
    kept = {r["doc_id"] for r in
            exact_dedup_against(new, corpus).collect()}
    assert kept == {2}


def test_corpus_stats_matches_python(spark, tables):
    import hashlib
    from bigslice_spark.operators.text import corpus_stats
    docs = tables["documents"]
    got = {r["source"]: r.asDict()
           for r in corpus_stats(docs).collect()}
    by_src = {}
    for r in docs.collect():
        by_src.setdefault(r["source"], []).append(r["text"])
    for src, texts in by_src.items():
        g = got[src]
        assert g["n_docs"] == len(texts)
        assert g["n_tokens"] == sum(len(t.split()) for t in texts)
        nd = len({hashlib.md5(t.encode()).hexdigest() for t in texts})
        assert g["n_distinct"] == nd
        assert g["dup_frac"] == 1.0 - nd / len(texts)


# ---------------------------------------------------------------- round 4


def test_funnel_greedy_and_break(spark):
    from bigslice_spark.operators.funnel import funnel
    rows = [
        # user 1: view@10, click@20, purchase@30 — full funnel
        (1, "view", 10), (1, "click", 20), (1, "purchase", 30),
        # user 2: click BEFORE first view never counts; no click after
        (2, "click", 5), (2, "view", 10), (2, "purchase", 30),
        # user 3: purchase before click -> funnel breaks at step 3
        (3, "view", 10), (3, "purchase", 15), (3, "click", 20),
        # user 4: no view at all -> omitted entirely
        (4, "click", 1), (4, "purchase", 2),
        # user 5: same-ts chain counts (>= semantics)
        (5, "view", 7), (5, "click", 7), (5, "purchase", 7),
    ]
    df = spark.createDataFrame(
        [(u, t, s * 1_000_000) for u, t, s in rows],
        "user_id long, event_type string, us long",
    ).select("user_id", "event_type",
             F.timestamp_micros("us").alias("ts"))
    got = {r["user_id"]: (r["t1"], r["t2"], r["t3"], r["depth"])
           for r in funnel(df, ["view", "click", "purchase"]).collect()}
    M = 1_000_000
    assert got[1] == (10 * M, 20 * M, 30 * M, 3)
    assert got[2] == (10 * M, None, None, 1)
    assert got[3] == (10 * M, 20 * M, None, 2)
    assert 4 not in got
    assert got[5] == (7 * M, 7 * M, 7 * M, 3)


def test_triangle_count_known_graph(spark):
    from bigslice_spark.operators.graph import triangle_count
    # K4 (4 triangles... no: K4 has C(4,3)=4 triangles) + a pendant edge
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges += [(3, 9), (9, 3), (5, 5)]  # dup orientation + self loop
    df = spark.createDataFrame(edges, "src long, dst long")
    assert triangle_count(df).collect()[0]["n_triangles"] == 4


def test_zorder_value_interleaves_bits(spark):
    from bigslice_spark.operators.projection import zorder_value
    df = spark.createDataFrame(
        [(0b101, 0b011)], "a long, b long").select(
        zorder_value("a", "b").alias("z"))
    # a bits at even positions: 1,0,1 -> 1 + 16; b odd: 1,1,0 -> 2 + 8
    assert df.collect()[0]["z"] == (1 + 16) + (2 + 8)


def test_zorder_write_clusters_files(spark, tables, tmp_path):
    from bigslice_spark.operators.projection import write_zordered
    out = str(tmp_path / "zorder")
    write_zordered(tables["lineitem"], out, "l_partkey", "l_suppkey",
                   n_files=8)
    back = spark.read.parquet(out)
    assert back.count() == tables["lineitem"].count()


def test_kmeans_assign_ties_to_lower_cell(spark):
    from bigslice_spark.operators.clustering import kmeans_assign
    cents = [[0.0, 0.0], [2.0, 0.0]]
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.1, 0.0]), (3, [1.9, 0.0])],
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["cell"]
           for r in kmeans_assign(df, cents).collect()}
    assert got == {1: 0, 2: 0, 3: 1}  # equidistant vec 1 -> lower cell


def test_bm25_drops_nonmatching_docs(spark):
    from bigslice_spark.operators.search import bm25_score
    df = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "gamma delta"), (3, "beta")],
        "doc_id long, text string")
    got = bm25_score(df, ["beta"], k=10).collect()
    ids = [r["doc_id"] for r in got]
    assert set(ids) == {1, 3}
    # doc 3 (tf=1 but dl=1) outranks doc 1 (tf=2, dl=3) iff the length
    # normalization does its job on this corpus; just pin determinism:
    assert [r["rank"] for r in got] == [1, 2]
    assert got[0]["score"] >= got[1]["score"]


def test_random_projection_shape_and_determinism(spark, tables):
    from bigslice_spark.operators.projection import random_projection
    emb = tables["embeddings"]
    a = random_projection(emb, out_dim=4, dim=64).collect()
    b = random_projection(emb, out_dim=4, dim=64).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a[0]) == 5  # vec_id + r0..r3


def test_mix_weights_sqrt_of_share(spark):
    from bigslice_spark.operators.sampling import mix_weights
    import math
    df = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "d e", "s1"), (3, "f", "s2")],
        "doc_id long, text string, source string")
    got = {r["source"]: r for r in mix_weights(df, "source").collect()}
    assert got["s1"]["n_tokens"] == 5
    assert got["s2"]["n_tokens"] == 1
    assert got["s1"]["weight"] == math.sqrt(5 / 6)
    assert got["s2"]["weight"] == math.sqrt(1 / 6)


def test_upsert_versions_updates_and_deletes(spark, tmp_path):
    from bigslice_spark.operators.upsert import (read_latest, upsert,
                                                 _versions)
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    assert upsert(spark, path, base, ["k"]) == 1
    batch = spark.createDataFrame(
        [(2, "B", False), (3, None, True), (4, "d", False)],
        "k long, v string, __deleted__ boolean")
    assert upsert(spark, path, batch, ["k"]) == 2
    got = {r["k"]: r["v"] for r in read_latest(spark, path).collect()}
    assert got == {1: "a", 2: "B", 4: "d"}  # 3 deleted, 2 updated, 4 new
    # v=1 remains intact (immutable snapshots)
    assert _versions(spark, path) == [1, 2]
    v1 = {r["k"] for r in spark.read.parquet(f"{path}/v=1").collect()}
    assert v1 == {1, 2, 3}


def test_upsert_empty_path_raises_on_read(spark, tmp_path):
    import pytest as _pt
    from bigslice_spark.operators.upsert import read_latest
    with _pt.raises(FileNotFoundError):
        read_latest(spark, str(tmp_path / "nope"))


def test_chunk_documents_windows_and_empties(spark):
    from bigslice_spark.operators.text import chunk_documents
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, ""), (3, "x"), (4, None)],
        "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, chunk_tokens=2).collect())
    assert got == [
        (1, 0, "a b", 2), (1, 1, "c d", 2), (1, 2, "e", 1),
        (3, 0, "x", 1)]  # empty/null docs vanish


def test_chunk_documents_overlapping_stride(spark):
    from bigslice_spark.operators.text import chunk_documents
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    got = sorted((r["chunk_id"], r["chunk_text"]) for r in
                 chunk_documents(df, chunk_tokens=3, stride=2).collect())
    assert got == [(0, "a b c"), (1, "c d")]


def test_bigram_pmi_counts_exact(spark):
    from bigslice_spark.operators.text import bigram_pmi
    # "x y" appears 3 times, c(x)=3, c(y)=3, N=12
    df = spark.createDataFrame(
        [(1, "x y p q"), (2, "x y r s"), (3, "x y t u")],
        "doc_id long, text string")
    got = bigram_pmi(df, min_count=3, k=5).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["w1"], r["w2"], r["c12"]) == ("x", "y", 3)
    assert r["pmi"] == (12.0 * 3.0) / (3.0 * 3.0)


def test_stream_stream_join_matches_batch(spark, sf_dir):
    from bigslice_spark.queries import QUERIES
    from bigslice_spark.session import load_tables
    got = QUERIES["stream_join"](spark, sf_dir)
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    v = ev.filter(F.col("event_type") == "view").alias("v")
    batch = (p.join(v, (F.col("p.user_id") == F.col("v.user_id"))
                    & (F.col("v.ts") >= F.col("p.ts")
                       - F.expr("INTERVAL 1 HOUR"))
                    & (F.col("v.ts") <= F.col("p.ts")))
             .select(F.col("p.event_id").alias("p_id"),
                     F.col("v.event_id").alias("v_id")))
    assert (sorted((r["p_id"], r["v_id"]) for r in got.collect())
            == sorted((r["p_id"], r["v_id"]) for r in batch.collect()))


def test_upsert_time_travel_vacuum_schema_evolution(spark, tmp_path):
    from bigslice_spark.operators.upsert import (read_latest,
                                                 read_version, upsert,
                                                 vacuum, _versions)
    path = str(tmp_path / "tbl")
    upsert(spark, path, spark.createDataFrame(
        [(1, "a")], "k long, v string"), ["k"])
    # additive schema evolution: the batch brings a new column
    upsert(spark, path, spark.createDataFrame(
        [(2, "b", 9)], "k long, v string, extra long"), ["k"])
    got = {r["k"]: (r["v"], r["extra"])
           for r in read_latest(spark, path).collect()}
    assert got == {1: ("a", None), 2: ("b", 9)}
    upsert(spark, path, spark.createDataFrame(
        [(3, "c", 1)], "k long, v string, extra long"), ["k"])
    # time travel to v=1
    assert [r["k"] for r in read_version(spark, path, 1).collect()] == [1]
    # vacuum keeps the newest 2
    assert vacuum(spark, path, keep_last=2) == [1]
    assert _versions(spark, path) == [2, 3]
    import pytest as _pt
    with _pt.raises(FileNotFoundError):
        read_version(spark, path, 1)


def test_key_skew_report_exact_shares(spark):
    from bigslice_spark.operators.skew import key_skew_report
    df = spark.createDataFrame(
        [("hot",)] * 8 + [("warm",)] * 3 + [("cold",)],
        "k string")
    got = key_skew_report(df, ["k"], top_n=2).collect()
    assert [(r["k"], r["n_rows"]) for r in got] == [("hot", 8), ("warm", 3)]
    assert got[0]["share"] == 8 / 12
    assert got[0]["x_mean"] == 8.0 / (12.0 / 3.0)  # 2x the mean key


def test_dedup_keep_best_prefers_high_score(spark):
    from bigslice_spark.operators.dedup import dedup_keep_best
    # docs 1,2,3 near-identical (one cluster), 9 unrelated (singleton);
    # doc 2 has the highest quality score -> cluster keeps 2, not min-id 1
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, base + " word"),
         (9, "completely different text about spark shuffles here")],
        "doc_id long, text string")
    score = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (9, 0.1)],
        "doc_id long, quality double")
    got = sorted(r["doc_id"] for r in
                 dedup_keep_best(df, score, threshold=0.5).collect())
    assert got == [2, 9]


def test_snapshot_diff_classifies_changes(spark, tmp_path):
    from bigslice_spark.operators.upsert import snapshot_diff, upsert
    path = str(tmp_path / "tbl")
    upsert(spark, path, spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"), ["k"])
    upsert(spark, path, spark.createDataFrame(
        [(2, "B", False), (3, None, True), (4, "d", False),
         (1, "a", False)],  # 1 re-upserted with SAME value: unchanged
        "k long, v string, __deleted__ boolean"), ["k"])
    got = {r["k"]: r["change"]
           for r in snapshot_diff(spark, path, 1, 2, ["k"]).collect()}
    assert got == {2: "updated", 3: "deleted", 4: "inserted"}


# ---------- partition-pruned MERGE (operators/upsert.py) ----------

def _pdirs(path):
    """Physical partition subdirs (p=...) under a version dir."""
    import os
    return sorted(d for d in os.listdir(path)
                  if os.path.isdir(os.path.join(path, d))
                  and not d.startswith(("_", ".")))


def test_upsert_partitioned_rewrites_only_touched(spark, tmp_path):
    import json
    import os
    from bigslice_spark.operators.upsert import read_latest, upsert
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)],
        "k long, p string, x long")
    assert upsert(spark, path, base, ["k"], partition_by=["p"]) == 1
    v1_files = {f: os.path.getmtime(os.path.join(path, "v=1", d, f))
                for d in _pdirs(os.path.join(path, "v=1"))
                for f in os.listdir(os.path.join(path, "v=1", d))}
    batch = spark.createDataFrame(
        [(2, "a", 99, False), (5, "a", 50, False), (3, "b", 30, True)],
        "k long, p string, x long, __deleted__ boolean")
    assert upsert(spark, path, batch, ["k"]) == 2  # layout from manifest
    got = {r["k"]: (r["p"], r["x"])
           for r in read_latest(spark, path).collect()}
    assert got == {1: ("a", 10), 2: ("a", 99), 4: ("c", 40),
                   5: ("a", 50)}
    # v=2 physically holds ONLY the touched partitions (a rewritten,
    # b emptied by the delete -> no dir); c carried by manifest ref
    assert _pdirs(os.path.join(path, "v=2")) == ["p=a"]
    with open(os.path.join(path, "v=2", "_MANIFEST.json")) as fh:
        man = json.load(fh)
    assert man["carried"] == {"p=c": 1}
    assert man["partition_by"] == ["p"]
    # untouched v=1 data files byte-untouched (never rewritten)
    for d in _pdirs(os.path.join(path, "v=1")):
        for f in os.listdir(os.path.join(path, "v=1", d)):
            assert os.path.getmtime(
                os.path.join(path, "v=1", d, f)) == v1_files[f]


def test_upsert_partitioned_carry_chain_resolves_physical(spark, tmp_path):
    import json
    import os
    from bigslice_spark.operators.upsert import (read_latest,
                                                 read_version, upsert)
    path = str(tmp_path / "tbl")
    upsert(spark, path, spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2), (3, "c", 3)],
        "k long, p string, x long"), ["k"], partition_by=["p"])
    upsert(spark, path, spark.createDataFrame(
        [(2, "b", 22)], "k long, p string, x long"), ["k"])
    upsert(spark, path, spark.createDataFrame(
        [(3, "c", 33)], "k long, p string, x long"), ["k"])
    # v=3 must reference a's PHYSICAL home v=1 directly, not v=2
    with open(os.path.join(path, "v=3", "_MANIFEST.json")) as fh:
        man = json.load(fh)
    assert man["carried"] == {"p=a": 1, "p=b": 2}
    assert {r["k"]: r["x"] for r in read_latest(spark, path).collect()} \
        == {1: 1, 2: 22, 3: 33}
    # time travel still sees the old state
    assert {r["k"]: r["x"] for r in
            read_version(spark, path, 2).collect()} == {1: 1, 2: 22, 3: 3}


def test_upsert_partitioned_vacuum_keeps_referenced_data(spark, tmp_path):
    import os
    import pytest as _pt
    from bigslice_spark.operators.upsert import (read_latest,
                                                 read_version, upsert,
                                                 vacuum, _versions)
    path = str(tmp_path / "tbl")
    upsert(spark, path, spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2)], "k long, p string, x long"),
        ["k"], partition_by=["p"])
    upsert(spark, path, spark.createDataFrame(
        [(2, "b", 22)], "k long, p string, x long"), ["k"])
    upsert(spark, path, spark.createDataFrame(
        [(2, "b", 23)], "k long, p string, x long"), ["k"])
    # keep only v=3; v=1 holds p=a still referenced by v=3's manifest
    assert vacuum(spark, path, keep_last=1) == [1, 2]
    assert _versions(spark, path) == [3]
    with _pt.raises(FileNotFoundError):
        read_version(spark, path, 1)
    # demoted v=1 keeps the referenced partition dir, sheds _SUCCESS
    assert _pdirs(os.path.join(path, "v=1")) == ["p=a"]
    assert not os.path.exists(os.path.join(path, "v=1", "_SUCCESS"))
    assert not os.path.exists(os.path.join(path, "v=2"))
    # latest still reads the carried partition's data
    assert {r["k"]: r["x"] for r in read_latest(spark, path).collect()} \
        == {1: 1, 2: 23}


def test_vacuum_spares_inflight_writer_dir(spark, tmp_path):
    import os
    from bigslice_spark.operators.upsert import upsert, vacuum
    path = str(tmp_path / "tbl")
    for i in range(3):
        upsert(spark, path, spark.createDataFrame(
            [(i, "x")], "k long, v string"), ["k"])
    # v=4: an in-flight writer's partial (no _SUCCESS), ABOVE max
    os.makedirs(os.path.join(path, "v=4"))
    # v=0-style stale partial BELOW max committed: reaped
    os.makedirs(os.path.join(path, "v=1") + "_")  # non-matching: ignored
    assert vacuum(spark, path, keep_last=2) == [1]
    assert os.path.exists(os.path.join(path, "v=4"))  # writer untouched


def test_upsert_null_delete_marker_means_not_deleted(spark, tmp_path):
    from bigslice_spark.operators.upsert import read_latest, upsert
    path = str(tmp_path / "tbl")
    upsert(spark, path, spark.createDataFrame(
        [(1, "a")], "k long, v string"), ["k"])
    upsert(spark, path, spark.createDataFrame(
        [(1, "A", None), (2, "b", None)],
        "k long, v string, __deleted__ boolean"), ["k"])
    got = {r["k"]: r["v"] for r in read_latest(spark, path).collect()}
    assert got == {1: "A", 2: "b"}  # NULL marker upserts, never drops


def test_upsert_partitioned_guards(spark, tmp_path):
    import pytest as _pt
    from bigslice_spark.operators.upsert import upsert
    path = str(tmp_path / "tbl")
    upsert(spark, path, spark.createDataFrame(
        [(1, "a", 1)], "k long, p string, x long"),
        ["k"], partition_by=["p"])
    with _pt.raises(ValueError, match="partition_by"):
        upsert(spark, path, spark.createDataFrame(
            [(1, "a", 1)], "k long, p string, x long"),
            ["k"], partition_by=["x"])
    with _pt.raises(ValueError, match="NULL/empty partition"):
        upsert(spark, path, spark.createDataFrame(
            [(9, None, 9)], "k long, p string, x long"), ["k"])
    with _pt.raises(ValueError, match="partition columns"):
        upsert(spark, path, spark.createDataFrame(
            [(9, 9)], "k long, x long"), ["k"])


def test_upsert_partitioned_schema_evolution(spark, tmp_path):
    from bigslice_spark.operators.upsert import read_latest, upsert
    path = str(tmp_path / "tbl")
    upsert(spark, path, spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2)], "k long, p string, x long"),
        ["k"], partition_by=["p"])
    # batch brings a new column and touches only p=a; p=b carried
    upsert(spark, path, spark.createDataFrame(
        [(1, "a", 11, "new")], "k long, p string, x long, w string"),
        ["k"])
    got = {r["k"]: (r["x"], r["w"])
           for r in read_latest(spark, path).collect()}
    assert got == {1: (11, "new"), 2: (2, None)}


def test_snapshot_diff_new_column_only_change(spark, tmp_path):
    from bigslice_spark.operators.upsert import snapshot_diff, upsert
    path = str(tmp_path / "tbl")
    upsert(spark, path, spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"), ["k"])
    # the ONLY change to key 1 is the newly added column w
    upsert(spark, path, spark.createDataFrame(
        [(1, "a", 7)], "k long, v string, w long"), ["k"])
    got = {r["k"]: r["change"]
           for r in snapshot_diff(spark, path, 1, 2, ["k"]).collect()}
    assert got == {1: "updated"}


def test_snapshot_diff_keys_only_table(spark, tmp_path):
    from bigslice_spark.operators.upsert import snapshot_diff, upsert
    path = str(tmp_path / "tbl")
    upsert(spark, path, spark.createDataFrame(
        [(1,), (2,)], "k long"), ["k"])
    upsert(spark, path, spark.createDataFrame(
        [(2, True), (3, False)], "k long, __deleted__ boolean"), ["k"])
    got = {r["k"]: r["change"]
           for r in snapshot_diff(spark, path, 1, 2, ["k"]).collect()}
    assert got == {2: "deleted", 3: "inserted"}


def test_stream_upsert_partitioned_prunes(spark, tmp_path):
    """Streaming MERGE with partition_by: micro-batches rewrite only
    touched partitions (the fix for the O(table)-per-batch rewrite)."""
    import os
    from bigslice_spark.streaming import stream_upsert
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2)], "k long, p string, x long") \
        .coalesce(1).write.mode("overwrite").parquet(src + "/b0")
    stream = (spark.readStream.schema("k long, p string, x long")
              .parquet(src + "/b0"))
    out = stream_upsert(stream, str(tmp_path / "tbl"),
                        ["k"], str(tmp_path / "ck"),
                        partition_by=["p"])
    got = {r["k"]: (r["p"], r["x"]) for r in out.collect()}
    assert got == {1: ("a", 1), 2: ("b", 2)}
    # follow-up batch touching only p=a
    batch = spark.createDataFrame(
        [(1, "a", 99)], "k long, p string, x long")
    from bigslice_spark.operators.upsert import read_latest, upsert
    upsert(spark, str(tmp_path / "tbl"), batch, ["k"])
    assert _pdirs(os.path.join(str(tmp_path / "tbl"), "v=2")) == ["p=a"]
    got = {r["k"]: r["x"]
           for r in read_latest(spark, str(tmp_path / "tbl")).collect()}
    assert got == {1: 99, 2: 2}


def test_random_projection_ragged_corpus_fails_loudly(spark):
    from bigslice_spark.operators.projection import random_projection
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>")
    got = random_projection(df, out_dim=2, dim=2)
    import pytest as _pt
    with _pt.raises(Exception, match="ragged"):
        got.collect()


def test_compact_partitions_folds_small_files(spark, tmp_path):
    import os
    from bigslice_spark.operators.upsert import (compact_partitions,
                                                 read_latest, upsert)
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", i * 10) for i in range(100)],
        "k long, p string, x long").repartition(8)
    upsert(spark, path, base, ["k"], partition_by=["p"])

    def files(v, rel):
        return [f for f in os.listdir(os.path.join(path, f"v={v}", rel))
                if not f.startswith(("_", "."))]

    assert len(files(1, "p=a")) > 1  # sharded by the 8 input partitions
    assert compact_partitions(spark, path, min_files=2) == 2
    assert len(files(2, "p=a")) == 1 and len(files(2, "p=b")) == 1
    got = {(r["k"], r["p"], r["x"])
           for r in read_latest(spark, path).collect()}
    assert got == {(i, "a" if i % 2 else "b", i * 10)
                   for i in range(100)}
    # nothing qualifies now: no-op, version unchanged
    assert compact_partitions(spark, path, min_files=2) == 2


def test_compact_partitions_carries_untouched(spark, tmp_path):
    import json
    import os
    from bigslice_spark.operators.upsert import (compact_partitions,
                                                 read_latest, upsert)
    path = str(tmp_path / "tbl")
    upsert(spark, path, spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2)], "k long, p string, x long")
        .repartition(4), ["k"], partition_by=["p"])
    # compact ONLY p=a; p=b must carry forward by reference to v=1
    assert compact_partitions(spark, path, partitions=["p=a"]) == 2
    with open(os.path.join(path, "v=2", "_MANIFEST.json")) as fh:
        man = json.load(fh)
    assert man["carried"] == {"p=b": 1}
    assert {r["k"]: r["x"] for r in read_latest(spark, path).collect()} \
        == {1: 1, 2: 2}


def test_snapshot_stats_tracks_files_and_carries(spark, tmp_path):
    from bigslice_spark.operators.upsert import (compact_partitions,
                                                 snapshot_stats, upsert)
    path = str(tmp_path / "tbl")
    upsert(spark, path, spark.createDataFrame(
        [(i, "a" if i % 2 else "b", i) for i in range(40)],
        "k long, p string, x long").repartition(4),
        ["k"], partition_by=["p"])
    before = {r["partition"]: r for r in
              snapshot_stats(spark, path).collect()}
    assert set(before) == {"p=a", "p=b"}
    assert before["p=a"]["n_files"] > 1
    assert before["p=a"]["physical_version"] == 1
    compact_partitions(spark, path, min_files=2)
    after = {r["partition"]: r for r in
             snapshot_stats(spark, path).collect()}
    assert after["p=a"]["n_files"] == 1
    assert after["p=a"]["physical_version"] == 2
    # an untouched-by-merge partition reports its carried physical home
    upsert(spark, path, spark.createDataFrame(
        [(1, "a", 99)], "k long, p string, x long"), ["k"])
    s3 = {r["partition"]: r for r in
          snapshot_stats(spark, path).collect()}
    assert s3["p=b"]["physical_version"] == 2
    assert s3["p=a"]["physical_version"] == 3


def test_upsert_partitioned_special_char_partition_values(spark, tmp_path):
    """Driver-side Hive dir rendering must match Spark's writer bytes
    for escaped values (slash, percent, space, equals, unicode)."""
    import json
    import os
    from bigslice_spark.operators.upsert import read_latest, upsert
    path = str(tmp_path / "tbl")
    vals = ["a/b", "100%", "sp ce", "u=v", "日本語"]
    upsert(spark, path, spark.createDataFrame(
        [(i, v, i) for i, v in enumerate(vals)],
        "k long, p string, x long"), ["k"], partition_by=["p"])
    # touch ONLY the slash partition; the rest must carry by the same
    # escaped relpaths the writer produced
    upsert(spark, path, spark.createDataFrame(
        [(0, "a/b", 99)], "k long, p string, x long"), ["k"])
    with open(os.path.join(path, "v=2", "_MANIFEST.json")) as fh:
        man = json.load(fh)
    assert set(man["carried"]) == {"p=100%25", "p=sp ce", "p=u%3Dv",
                                   "p=日本語"}
    got = {r["p"]: r["x"] for r in read_latest(spark, path).collect()}
    assert got == {"a/b": 99, "100%": 1, "sp ce": 2, "u=v": 3,
                   "日本語": 4}


def test_upsert_partitioned_date_partition_fallback(spark, tmp_path):
    """Non-simple partition types (date) go through the marker-write
    fallback and still prune/carry correctly."""
    import datetime
    import json
    import os
    from bigslice_spark.operators.upsert import read_latest, upsert
    path = str(tmp_path / "tbl")
    d1, d2 = datetime.date(2026, 1, 1), datetime.date(2026, 1, 2)
    upsert(spark, path, spark.createDataFrame(
        [(1, d1, 1), (2, d2, 2)], "k long, d date, x long"),
        ["k"], partition_by=["d"])
    upsert(spark, path, spark.createDataFrame(
        [(1, d1, 11)], "k long, d date, x long"), ["k"])
    with open(os.path.join(path, "v=2", "_MANIFEST.json")) as fh:
        man = json.load(fh)
    assert list(man["carried"].values()) == [1] and \
        list(man["carried"].keys())[0].startswith("d=2026-01-02")
    assert {r["k"]: r["x"] for r in read_latest(spark, path).collect()} \
        == {1: 11, 2: 2}


def test_lm_quality_hand_computed(spark):
    """Add-one bigram LM scores on a 3-doc corpus, hand-checked —
    including an out-of-model document scored against a separate
    reference (the CCNet setup)."""
    import math
    import pytest as _pt
    from bigslice_spark.operators.lm import lm_quality
    ref = spark.createDataFrame(
        [(1, "a b a"), (2, "b a")], "doc_id long, text string")
    # model: c12 = {(a,b):1, (b,a):2}; c1 = {a:1, b:2}; V = 2
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
           for r in lm_quality(ref).collect()}
    d1 = (math.log(2 / 3) + math.log(3 / 4)) / 2
    assert got[1][0] == 2
    assert got[1][1] == _pt.approx(d1, rel=1e-9)
    assert got[2] == (1, _pt.approx(math.log(3 / 4), rel=1e-9))
    # unseen bigram against the same reference: (c,c) -> ln(1/(0+2))
    all3 = spark.createDataFrame(
        [(1, "a b a"), (2, "b a"), (3, "c c")],
        "doc_id long, text string")
    got3 = {r["doc_id"]: r["avg_logprob"]
            for r in lm_quality(all3, ref=ref).collect()}
    assert got3[3] == _pt.approx(math.log(1 / 2), rel=1e-9)
    # single-token / empty docs emit nothing (no bigrams)
    none = lm_quality(spark.createDataFrame(
        [(9, "solo"), (10, "")], "doc_id long, text string"))
    assert none.count() == 0


def test_compact_partitions_zorder_sorts_within_partition(spark, tmp_path):
    """OPTIMIZE ZORDER: compacted partition files hold rows in Morton
    order of the two clustering columns (min/max row-group pruning),
    with the row multiset unchanged."""
    from bigslice_spark.operators.projection import zorder_value
    from bigslice_spark.operators.upsert import (compact_partitions,
                                                 read_latest, upsert)
    import os
    path = str(tmp_path / "tbl")
    rows = [(i, "a", (i * 37) % 101, (i * 53) % 97) for i in range(200)]
    upsert(spark, path, spark.createDataFrame(
        rows, "k long, p string, x long, y long").repartition(8),
        ["k"], partition_by=["p"])
    assert compact_partitions(spark, path, min_files=2,
                              zorder_by=("x", "y")) == 2
    pdir = os.path.join(path, "v=2", "p=a")
    files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
    assert len(files) == 1
    got = spark.read.parquet(os.path.join(pdir, files[0])) \
        .withColumn("z", zorder_value("x", "y")).collect()
    zs = [r["z"] for r in got]
    assert zs == sorted(zs), "rows not in Morton order"
    assert {(r["k"], r["x"], r["y"]) for r in got} == \
        {(k, x, y) for k, _, x, y in rows}
    assert read_latest(spark, path).count() == 200


def test_schema_diff_tracks_evolution(spark, tmp_path):
    from bigslice_spark.operators.upsert import schema_diff, upsert
    path = str(tmp_path / "tbl")
    upsert(spark, path, spark.createDataFrame(
        [(1, "a", 1)], "k long, p string, x long"),
        ["k"], partition_by=["p"])
    upsert(spark, path, spark.createDataFrame(
        [(2, "b", 2, "w")], "k long, p string, x long, w string"),
        ["k"])
    got = [(r["column"], r["change"], r["old_type"], r["new_type"])
           for r in schema_diff(spark, path, 1, 2).collect()]
    assert got == [("w", "added", None, "string")]
    assert schema_diff(spark, path, 1, 1).count() == 0
    # plain (unpartitioned) tables diff via the parquet footer
    p2 = str(tmp_path / "plain")
    upsert(spark, p2, spark.createDataFrame([(1, 5)], "k long, x int"),
           ["k"])
    upsert(spark, p2, spark.createDataFrame(
        [(2, 6)], "k long, x long"), ["k"])
    got2 = {(r["column"], r["change"]) for r in
            schema_diff(spark, p2, 1, 2).collect()}
    assert got2 == {("x", "type_changed")}


def test_label_propagation_self_edge_votes_once(spark):
    """A real (u,u) edge must not change the vote count: own label
    enters exactly once (review r5 counterexample)."""
    from bigslice_spark.operators.graph import label_propagation
    df = spark.createDataFrame([(3, 0), (2, 4), (3, 3), (2, 3)],
                               "src long, dst long")
    got = {r["node"]: r["label"]
           for r in label_propagation(df, iters=1).collect()}
    # node 3: neighbor labels {0, 2} + own 3 -> three-way tie -> min 0
    assert got == {0: 0, 2: 2, 3: 0, 4: 2}
    # a node appearing ONLY in a self-edge keeps its own label
    solo = spark.createDataFrame([(7, 7)], "src long, dst long")
    assert [(r["node"], r["label"]) for r in
            label_propagation(solo, iters=2).collect()] == [(7, 7)]


def test_upsert_partitioned_batch_without_column_keeps_it(spark, tmp_path):
    """Review r5: a merge batch lacking a previously-added column and
    not touching its partition must NOT drop the column — the manifest
    schema is the union of everything the table ever carried."""
    from bigslice_spark.operators.upsert import read_latest, upsert
    path = str(tmp_path / "tbl")
    upsert(spark, path, spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2)], "k long, p string, x long"),
        ["k"], partition_by=["p"])
    # v2 adds w, touching only p=a
    upsert(spark, path, spark.createDataFrame(
        [(1, "a", 11, "kept")], "k long, p string, x long, w string"),
        ["k"])
    # v3 has NO w and touches only p=b
    upsert(spark, path, spark.createDataFrame(
        [(2, "b", 22)], "k long, p string, x long"), ["k"])
    got = {r["k"]: (r["x"], r["w"])
           for r in read_latest(spark, path).collect()}
    assert got == {1: (11, "kept"), 2: (22, None)}
    # new-partition-only batch (touched_base empty) must also keep w
    upsert(spark, path, spark.createDataFrame(
        [(3, "c", 3)], "k long, p string, x long"), ["k"])
    got = {r["k"]: (r["x"], r["w"])
           for r in read_latest(spark, path).collect()}
    assert got == {1: (11, "kept"), 2: (22, None), 3: (3, None)}


def test_upsert_partitioned_numeric_string_partition_values(spark, tmp_path):
    """Review r5: string partition values '01' and '1' are DIFFERENT
    partitions and must survive reads verbatim (no Hive type
    inference re-typing '01' to int 1)."""
    from bigslice_spark.operators.upsert import read_latest, upsert
    path = str(tmp_path / "tbl")
    upsert(spark, path, spark.createDataFrame(
        [(1, "01", 1), (2, "1", 2)], "k long, p string, x long"),
        ["k"], partition_by=["p"])
    got = {r["k"]: r["p"] for r in read_latest(spark, path).collect()}
    assert got == {1: "01", 2: "1"}
    # merge touching only '01' keeps the two partitions distinct
    upsert(spark, path, spark.createDataFrame(
        [(1, "01", 11)], "k long, p string, x long"), ["k"])
    rows = {(r["k"], r["p"], r["x"])
            for r in read_latest(spark, path).collect()}
    assert rows == {(1, "01", 11), (2, "1", 2)}
    import os
    assert sorted(d for d in os.listdir(os.path.join(path, "v=2"))
                  if d.startswith("p=")) == ["p=01"]


def test_random_projection_null_vector_passes_through(spark):
    """Review r5: a NULL vector is missing, not ragged — projections
    come out NULL instead of aborting the job."""
    from bigslice_spark.operators.projection import random_projection
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)],
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["r0"] for r in
           random_projection(df, out_dim=1, dim=2).collect()}
    assert got[2] is None and got[1] is not None


def test_edit_distance_rerank_values_and_filter(spark):
    from bigslice_spark.operators.dedup import edit_distance_rerank
    docs = spark.createDataFrame(
        [(1, "kitten"), (2, "sitting"), (3, "kitten"),
         (4, "日本語テスト"), (5, "日本語てスト")],
        "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "id_a long, id_b long")
    got = {(r["id_a"], r["id_b"]): r["edit_dist"]
           for r in edit_distance_rerank(pairs, docs).collect()}
    # character-exact, including multi-byte text (one substitution)
    assert got == {(1, 2): 3, (1, 3): 0, (4, 5): 1}
    kept = {(r["id_a"], r["id_b"]) for r in
            edit_distance_rerank(pairs, docs, max_dist=1).collect()}
    assert kept == {(1, 3), (4, 5)}


def test_sample_per_key_bounded_and_deterministic(spark, tables):
    from bigslice_spark.operators.sampling import sample_per_key
    docs = tables["documents"]
    s1 = sample_per_key(docs, ["lang"], 2).select("lang", "doc_id")
    s2 = sample_per_key(docs.repartition(13), ["lang"], 2) \
        .select("lang", "doc_id")
    a = {(r["lang"], r["doc_id"]) for r in s1.collect()}
    b = {(r["lang"], r["doc_id"]) for r in s2.collect()}
    assert a == b, "sample must not depend on partitioning"
    from collections import Counter
    per = Counter(l for l, _ in a)
    assert all(v <= 2 for v in per.values())
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert set(per) == langs, "every key with rows must be sampled"


def test_rolling_zscore_matches_numpy_walk(spark):
    import numpy as np
    from bigslice_spark.operators.timeseries import rolling_zscore
    import datetime as dt
    rng = np.random.default_rng(5)
    vals = rng.normal(50.0, 4.0, 60).round(2)
    vals[25] = 500.0   # planted spike
    vals[40] = -400.0  # planted dip
    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0 + dt.timedelta(minutes=i), i, float(vals[i]))
            for i in range(len(vals))]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double")
    got = {r["ts_us"]: r["z"] for r in rolling_zscore(
        df, "user_id", "ts", "value", order_cols=["event_id"],
        window=10, min_n=5, z_threshold=3.0).collect()}
    # python reference walk (float sums are fine at this magnitude)
    expect = {}
    for i in range(len(vals)):
        ref = vals[max(0, i - 10):i]
        if len(ref) < 5:
            continue
        m, sd = ref.mean(), ref.std(ddof=1)
        if sd > 0 and abs((vals[i] - m) / sd) >= 3.0:
            us = int((t0 + dt.timedelta(minutes=i)
                      - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
            expect[us] = (vals[i] - m) / sd
    assert set(got) == set(expect)
    assert all(abs(got[k] - expect[k]) < 1e-9 for k in got)
    # the planted outliers are flagged
    base_us = int((t0 - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    flagged = {int((k - base_us) // 60_000_000) for k in got}
    assert {25, 40} <= flagged


def test_time_rollup_grains_are_consistent(spark, tables):
    from bigslice_spark.operators.timeseries import time_rollup
    rows = time_rollup(tables["events"]).collect()
    total = [r for r in rows if r["week_us"] is None]
    assert len(total) == 1 and total[0]["day_us"] is None
    n_day = sum(r["n_events"] for r in rows
                if r["day_us"] is not None and r["hour_us"] is None)
    n_hour = sum(r["n_events"] for r in rows
                 if r["hour_us"] is not None)
    assert n_day == n_hour == total[0]["n_events"]


def test_kmeans_assign_join_path_matches_unrolled_bitwise(spark, tables):
    from bigslice_spark.operators.clustering import (kmeans_assign,
                                                     seed_centroids)
    from .unrolled_argmin import kmeans_assign_unrolled
    emb = tables["embeddings"]
    cents = seed_centroids(8, 64)
    a = {r["vec_id"]: (r["cell"], r["dist"]) for r in
         kmeans_assign_unrolled(emb, cents).collect()}
    b = {r["vec_id"]: (r["cell"], r["dist"]) for r in
         kmeans_assign(emb, cents).collect()}
    assert a == b  # cells AND exact doubles


def test_kmeans_assign_ivf_exact_when_probing_all_groups(spark, tables):
    """nprobe == k_coarse probes every group, so the two-level
    assignment degenerates to the exact flat argmin — cells AND dist
    doubles must match kmeans_assign bitwise (same left-assoc folds,
    same tie-breaks). The real speedup case (nprobe < k_coarse) is
    oracle-gated by the kmeans_assign_ivf registry entry."""
    from bigslice_spark.operators.clustering import (kmeans_assign,
                                                     kmeans_assign_ivf,
                                                     seed_centroids)
    emb = tables["embeddings"]
    cents = seed_centroids(16, 64)
    flat = {r["vec_id"]: (r["cell"], r["dist"]) for r in
            kmeans_assign(emb, cents).collect()}
    ivf = {r["vec_id"]: (r["cell"], r["dist"]) for r in
           kmeans_assign_ivf(emb, cents, nprobe=4,
                             k_coarse=4).collect()}
    assert flat == ivf


def test_coarse_membership_deterministic_tiebreak():
    from bigslice_spark.operators.clustering import coarse_membership
    # equidistant centroid -> lower group id wins
    assert coarse_membership([[0.0, 0.0]],
                             [[1.0, 0.0], [-1.0, 0.0]]) == [0]
    assert coarse_membership([[0.6, 0.0], [-0.6, 0.0]],
                             [[1.0, 0.0], [-1.0, 0.0]]) == [0, 1]


def test_kmeans_train_reduces_cost_and_is_layout_stable(spark, tables):
    from bigslice_spark.operators.clustering import (kmeans_assign,
                                                     kmeans_train,
                                                     seed_centroids)
    emb = tables["embeddings"]

    def cost(cents):
        return kmeans_assign(emb, cents).agg(
            F.sum("dist")).collect()[0][0]

    c0 = cost(seed_centroids(8, 64))
    t1 = kmeans_train(emb, k=8, dim=64, iters=1)
    t3 = kmeans_train(emb, k=8, dim=64, iters=3)
    assert cost(t1) <= c0 and cost(t3) <= cost(t1)  # Lloyd monotonicity
    t3b = kmeans_train(emb.repartition(17), k=8, dim=64, iters=3)
    assert t3 == t3b, "training must not depend on partitioning"


def test_semantic_dedup_drops_planted_near_dup(spark):
    from bigslice_spark.operators.dedup import semantic_dedup
    base = [0.5] * 4
    near = [0.5, 0.5, 0.5, 0.502]          # cosine ≈ 1 with base
    far = [-0.5, 0.5, -0.5, 0.5]           # orthogonal-ish
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)],
        "vec_id long, embedding array<float>")
    cents = [[0.5] * 4, [-0.5, 0.5, -0.5, 0.5]]
    got = {r["vec_id"]: r["cell"] for r in semantic_dedup(
        df, cents, threshold=0.95).collect()}
    assert set(got) == {1, 3}, got           # 2 dropped (near-dup of 1)
    # precomputed-cell path gives the same answer
    from bigslice_spark.operators.clustering import kmeans_assign
    cells = kmeans_assign(df, cents) \
        .select("vec_id", F.col("cell").alias("c"))
    got2 = {r["vec_id"]: r["cell"] for r in semantic_dedup(
        df.join(cells, on="vec_id"), cents, threshold=0.95,
        cell_col="c").collect()}
    assert got2 == got


def test_nearest_centroid_fold_matches_unrolled_adversarial(spark):
    """The _sq_l2 fold paths (kmeans_assign, kmeans_means,
    semantic_dedup's inline projection, kmeans_assign_ivf probing every
    group) against the unrolled distance text they replaced, on
    adversarial inputs: equidistant centroids (the lower cell must
    win), k=4 over 8 coordinates (the shape the text used to be picked
    for), 32x64 (2,048 terms, past the width Janino rejects), a NULL
    embedding row and an all-zero vector."""
    import math

    from bigslice_spark.operators.clustering import (kmeans_assign,
                                                     kmeans_assign_ivf,
                                                     kmeans_means,
                                                     seed_centroids)
    from bigslice_spark.operators.dedup import semantic_dedup
    from .unrolled_argmin import (kmeans_assign_unrolled,
                                  kmeans_means_unrolled)

    schema = "vec_id long, embedding array<double>"

    def frame(dim, k):
        cents = seed_centroids(k, dim, scale=0.5)
        mid = [(a + b) / 2 for a, b in zip(cents[1], cents[2])]
        rows = [(1, mid), (2, [0.0] * dim), (3, None),
                (4, [x * 2 for x in cents[k - 1]])]
        rows += [(10 + i, [math.sin(i * 7 + j) / 4 for j in range(dim)])
                 for i in range(40)]
        return spark.createDataFrame(rows, schema), cents

    # (0.5, 0.5) is exactly equidistant from both centroids, and so is
    # the all-zero vector
    tie = (spark.createDataFrame([(1, [0.5, 0.5]), (2, [0.0, 0.0]),
                                  (3, None), (4, [2.0, 0.0])], schema),
           [[0.0, 1.0], [1.0, 0.0]])
    rows = lambda d: sorted(map(tuple, d.collect()))
    for df, cents in (tie, frame(8, 4), frame(64, 32)):
        ref = rows(kmeans_assign_unrolled(df, cents))
        assert rows(kmeans_assign(df, cents)) == ref, len(cents)
        by_id = {i: c for i, c, _ in ref}
        assert by_id[3] == 0 and ref[2][2] is None  # NULL row
        if len(cents) == 2:
            assert by_id == {1: 0, 2: 0, 3: 0, 4: 1}
        # probing every coarse group is the exact argmin
        ivf = rows(kmeans_assign_ivf(df, cents, nprobe=2, k_coarse=2))
        assert ([r for r in ivf if r[0] != 3]
                == [r for r in ref if r[0] != 3]), len(cents)
        assert (rows(kmeans_means(df, cents))
                == rows(kmeans_means_unrolled(df, cents))), len(cents)
        # threshold 2.0 drops nothing: the survivors carry every cell
        sem = {r["vec_id"]: r["cell"]
               for r in semantic_dedup(df, cents, threshold=2.0).collect()}
        assert sem == by_id, len(cents)


@pytest.mark.parametrize("k", [8, 32])
def test_semantic_dedup_inline_assignment_matches_unrolled(spark, tables,
                                                           k):
    """semantic_dedup's inline fold projection returns the rows the
    unrolled argmin text gives, fed in as precomputed cells."""
    from bigslice_spark.operators.clustering import seed_centroids
    from bigslice_spark.operators.dedup import semantic_dedup
    from .unrolled_argmin import kmeans_assign_unrolled
    emb = tables["embeddings"]
    cents = seed_centroids(k, 64)
    cells = kmeans_assign_unrolled(emb, cents) \
        .select("vec_id", F.col("cell").alias("c"))
    ref = semantic_dedup(emb.join(cells, on="vec_id"), cents,
                         threshold=0.35, cell_col="c")
    got = semantic_dedup(emb, cents, threshold=0.35)
    rows = lambda d: sorted(map(tuple, d.collect()))
    assert rows(got) == rows(ref)


def test_bpe_merge_loop_hand_computed():
    from bigslice_spark.operators.bpe import _EOW, _merge_loop
    merges = _merge_loop([("ab", 5), ("abc", 3)], 10)
    assert merges == [
        (0, "a", "b", 8),          # most frequent pair
        (1, "ab", _EOW, 5),
        (2, "ab", "c", 3),         # tie vs (c,EOW): lexicographic
        (3, "abc", _EOW, 3),
    ]


def test_bpe_train_layout_stable_and_encode(spark, tables):
    from bigslice_spark.operators.bpe import (bpe_encode, bpe_train,
                                              _EOW)
    docs = tables["documents"]
    m1 = bpe_train(docs, num_merges=25)
    m2 = bpe_train(docs.repartition(13), num_merges=25)
    assert m1 == m2 and len(m1) == 25
    # encode with a hand vocabulary: "ab"→1 tok, "abc"→1, "xyz"→4
    merges = [(0, "a", "b", 8), (1, "ab", _EOW, 5),
              (2, "ab", "c", 3), (3, "abc", _EOW, 3)]
    df = spark.createDataFrame([(1, "ab abc xyz")],
                               "doc_id long, text string")
    got = bpe_encode(df, merges).collect()
    assert [(r["doc_id"], r["n_tokens"]) for r in got] == [(1, 6)]


def _bpe_encode_rowwise(df, merges, text_col="text", id_col="doc_id",
                        lowercase=True):
    """Parity reference: bpe_encode row at a time (an Arrow-batched
    pandas UDF over the documents relation, a per-worker memo over
    distinct words), the shape the distinct-word join plan replaced."""
    import re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from bigslice_spark.operators.bpe import _encode_word
    ranks = {(a, b): r for r, a, b, _ in merges}
    cache: dict[str, int] = {}
    # same tokenizer as training/word_counts and the join plan:
    # Java-regex \s is ASCII-only, so split with re.ASCII
    ws = re.compile(r"\s+", re.ASCII)

    @pandas_udf("long")
    def n_tokens(texts: pd.Series) -> pd.Series:
        def enc(w: str) -> int:
            n = cache.get(w)
            if n is None:
                n = cache[w] = _encode_word(w, ranks)
            return n

        def doc(t):
            if t is None:
                return 0
            if lowercase:
                t = t.lower()
            return sum(enc(w) for w in ws.split(t) if w)

        return texts.map(doc)

    return df.select(F.col(id_col),
                     n_tokens(F.col(text_col)).alias("n_tokens"))


def test_bpe_encode_join_plan_matches_rowwise(spark, tables):
    """The plan-native encoder (distinct-word encode + join-back) must
    be count-identical to the row-at-a-time reference on real data,
    including empty/NULL documents (0 tokens via the left join)."""
    from bigslice_spark.operators.bpe import bpe_encode, bpe_train
    docs = tables["documents"]
    merges = bpe_train(docs, num_merges=25)
    edge = spark.createDataFrame(
        [(900001, None), (900002, ""), (900003, "   ")],
        "doc_id long, text string")
    both = docs.select("doc_id", "text").unionByName(edge)
    plan = {r["doc_id"]: r["n_tokens"]
            for r in bpe_encode(both, merges).collect()}
    ref = {r["doc_id"]: r["n_tokens"]
           for r in _bpe_encode_rowwise(both, merges).collect()}
    assert plan == ref
    assert plan[900001] == plan[900002] == plan[900003] == 0


def test_bpe_pinned_vocab_matches_training(spark):
    """_BPE_PINNED (the literal vocabulary baked into the
    bpe_token_counts oracle SQL) must stay bit-identical to what
    bpe_train derives from the sf0.01 corpus — if the corpus or the
    trainer changes, this fails before the driver's hash gate does."""
    from bigslice_spark.operators.bpe import bpe_train
    from bigslice_spark.queries import _BPE_PINNED
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert bpe_train(docs, num_merges=40) == _BPE_PINNED


def test_bpe_sequential_replay_equals_priority_encoder():
    """The oracle replays encoding ONE MERGE PASS AT A TIME (each pass
    a greedy left-to-right non-overlapping rewrite); the engine's
    _encode_word applies the lowest-RANK applicable merge anywhere.
    For vocabularies produced by the trainer these are equivalent (a
    merge's components are learned at strictly lower ranks, so a pass
    cannot create an adjacency an earlier pass would have taken) —
    pinned here over the pinned vocabulary and adversarial run-heavy
    words, mirroring the SQL's gaps-and-islands selection in Python."""
    from bigslice_spark.operators.bpe import (_EOW, _encode_word,
                                              _merge_loop)
    from bigslice_spark.queries import _BPE_PINNED

    def sequential(word, merges):
        syms = [*word] + [_EOW]
        for _, a, b, _n in merges:
            out, i = [], 0
            while i < len(syms):   # greedy left-to-right, one pass
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    ranks = {(a, b): r for r, a, b, _ in _BPE_PINNED}
    words = ["customer", "column", "batch", "scan", "hash", "join",
             "row", "partition", "erer", "ererer", "aaaa", "aaaaaaa",
             "atatat", "stst", "owowow", "lulu", "x", "", "the"]
    for w in words:
        assert sequential(w, _BPE_PINNED) == _encode_word(w, ranks), w
    # and on a trained-from-scratch vocab over a run-heavy corpus
    corpus = [("aaaa", 9), ("aaab", 7), ("abab", 6), ("bbbb", 5),
              ("aab", 4), ("ba", 3)]
    merges = _merge_loop(corpus, 8)
    ranks2 = {(a, b): r for r, a, b, _ in merges}
    for w in ("aaaaaaaa", "ababab", "bbbbbb", "aabbaabb", "baaab"):
        assert sequential(w, merges) == _encode_word(w, ranks2), w


def test_epoch_order_is_deterministic_permutation(spark, tables):
    """epoch_order: positions are exactly 0..N-1 (a permutation),
    identical under a different input partitioning (the range-sampled
    boundaries must not leak into positions), and a different epoch
    produces a different order of the same rows."""
    from bigslice_spark.operators.sampling import epoch_order
    docs = tables["documents"].select("doc_id", "lang")
    # contract: rows gain ONLY pos — no internal column leaks
    assert epoch_order(docs, seed=7, epoch=1).columns \
        == ["doc_id", "lang", "pos"]
    a = {r["doc_id"]: r["pos"]
         for r in epoch_order(docs, seed=7, epoch=1).collect()}
    n = len(a)
    assert sorted(a.values()) == list(range(n))
    b = {r["doc_id"]: r["pos"]
         for r in epoch_order(docs.repartition(13), seed=7,
                              epoch=1).collect()}
    assert a == b, "positions depend on input partitioning"
    c = {r["doc_id"]: r["pos"]
         for r in epoch_order(docs, seed=7, epoch=2).collect()}
    assert sorted(c.values()) == list(range(n))
    assert a != c, "epoch bump must reshuffle"


def test_gopher_rules_each_rule_fires(spark):
    from bigslice_spark.operators.text import gopher_rules
    good = ("the cat and the dog be friends that have fun with " * 6)
    docs = [
        (1, good),                                   # passes all
        (2, "the of"),                               # too short
        (3, "#a #b #c #d #e #f #g #h " + good),      # hash ratio
        (4, good + "\n" + "\n".join(["- b"] * 40)),  # bullets
        (5, good + "\n" + "\n".join(["x..."] * 40)), # ellipses
        (6, ("aaaaaaaaaaaaaaaaaaaaaaaa " * 60) + "the of"),  # word len
        (7, ("12 34 " * 30) + "the of"),             # alpha ratio
        (8, ("cat dog " * 30)),                      # no stopwords
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r["doc_id"]: r.asDict() for r in
            gopher_rules(df, min_words=20).collect()}
    assert rows[1]["passes"]
    assert not rows[2]["r_word_count"]
    assert not rows[3]["r_hash_ratio"]
    assert not rows[4]["r_bullet_lines"]
    assert not rows[5]["r_ellipsis_lines"]
    assert not rows[6]["r_mean_word_len"]
    assert not rows[7]["r_alpha_words"]
    assert not rows[8]["r_stopwords"]
    for d in range(2, 9):
        assert not rows[d]["passes"], d


def test_data_checks_null_counts_as_violation(spark):
    from bigslice_spark.operators.checks import data_checks
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, -1.0)], "k long, v double")
    got = {r["check"]: (r["n_violations"], r["n_rows"]) for r in
           data_checks(df, {
               "v_nonneg": F.col("v") >= 0,
               "k_not_null": F.col("k").isNotNull(),
           }).collect()}
    assert got == {"v_nonneg": (2, 3),   # NULL and -1 both violate
                   "k_not_null": (0, 3)}


def test_write_range_sorted_files_are_disjoint_bands(spark, tables,
                                                     tmp_path):
    from bigslice_spark.operators.projection import write_range_sorted
    path = str(tmp_path / "sorted")
    write_range_sorted(tables["orders"], path, ["o_orderkey"],
                       n_files=4)
    got = (spark.read.parquet(path)
           .select(F.input_file_name().alias("f"), "o_orderkey")
           .groupBy("f")
           .agg(F.min("o_orderkey").alias("lo"),
                F.max("o_orderkey").alias("hi"),
                F.count(F.lit(1)).alias("n"))
           .collect())
    spans = sorted((r["lo"], r["hi"]) for r in got)
    assert len(spans) > 1
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, f"overlapping file bands: {spans}"


def test_mixture_sample_quotas_and_determinism(spark, tables):
    import math
    from bigslice_spark.operators.sampling import (mix_weights,
                                                   mixture_sample)
    docs = tables["documents"]
    got = mixture_sample(docs, "source", total=100).collect()
    got2 = mixture_sample(docs.repartition(11), "source",
                          total=100).collect()
    assert {r["doc_id"] for r in got} == {r["doc_id"] for r in got2}
    # per-stratum sizes equal the floor quotas from the weights
    ws = {r["source"]: r["weight"]
          for r in mix_weights(docs, "source").collect()}
    wtot = sum(ws.values())
    from collections import Counter
    sizes = Counter(r["source"] for r in got)
    for s, w in ws.items():
        expect = math.floor(100.0 * w / wtot)
        assert sizes.get(s, 0) == expect, (s, sizes.get(s), expect)


def test_retention_cohorts_triangle_invariants(spark, tables):
    from bigslice_spark.operators.timeseries import retention_cohorts
    rows = retention_cohorts(tables["events"]).collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_wk"], {})[r["weeks_since"]] = \
            r["n_users"]
    n_users = tables["events"].select("user_id").distinct().count()
    # week-0 cells partition the user base; no cell exceeds week 0
    assert sum(c[0] for c in by_cohort.values()) == n_users
    for c in by_cohort.values():
        assert all(v <= c[0] for v in c.values())
        assert min(c) == 0 and all(k >= 0 for k in c)


def test_ts_pattern_search_finds_planted_pattern(spark):
    import datetime as dt
    from bigslice_spark.operators.timeseries import ts_pattern_search
    t0 = dt.datetime(2024, 1, 1)
    pattern = [10.0, 20.0, 30.0, 40.0]
    vals = [500.0] * 20
    vals[8:12] = pattern            # plant an exact match at rows 8-11
    rows = [(1, t0 + dt.timedelta(minutes=i), i, vals[i])
            for i in range(len(vals))]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double")
    top = ts_pattern_search(df, "user_id", "ts", "value", pattern,
                            k=1, order_cols=["event_id"]).collect()
    assert len(top) == 1 and top[0]["dist"] == 0.0
    # window END timestamp = minute 11
    base = int((t0 - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    assert (top[0]["ts_us"] - base) // 60_000_000 == 11


def test_key_percentiles_matches_numpy_nearest_rank(spark):
    import math
    import numpy as np
    rng = np.random.default_rng(11)
    rows = [(int(k), i, float(v)) for i, (k, v) in enumerate(
        zip(rng.integers(0, 4, 300), rng.normal(100, 20, 300)))]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, value double")
    from bigslice_spark.operators.rank import key_percentiles
    got = {r["user_id"]: r for r in key_percentiles(
        df, "user_id", "value", order_cols=["event_id"]).collect()}
    import collections
    per = collections.defaultdict(list)
    for k, _, v in rows:
        per[k].append(v)
    for k, vs in per.items():
        vs = sorted(vs)
        n = len(vs)
        assert got[k]["n"] == n
        for p, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            assert got[k][col] == vs[math.ceil(p * n) - 1], (k, col)


def test_scd2_intervals_tile_the_timeline(spark):
    import datetime as dt
    from bigslice_spark.operators.upsert import scd2_intervals
    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, 1 + i % 2, t0 + dt.timedelta(hours=i), float(i))
            for i in range(10)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double")
    got = scd2_intervals(df, ["user_id"], "ts",
                         order_cols=["event_id"]).collect()
    by_user = {}
    for r in got:
        by_user.setdefault(r["user_id"], []).append(r)
    for u, ivs in by_user.items():
        ivs.sort(key=lambda r: r["eff_from_us"])
        # consecutive intervals chain exactly; only the last is open
        for a, b in zip(ivs, ivs[1:]):
            assert a["eff_to_us"] == b["eff_from_us"]
            assert not a["is_current"]
        assert ivs[-1]["is_current"] and ivs[-1]["eff_to_us"] is None


def test_table_profile_counts(spark):
    from bigslice_spark.operators.checks import table_profile
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")],
        "k long, s string")
    got = {r["column"]: (r["n_rows"], r["n_nulls"], r["n_distinct"])
           for r in table_profile(df, ["k", "s"]).collect()}
    assert got == {"k": (4, 1, 3), "s": (4, 1, 2)}


def test_data_checks_arbitrary_names(spark):
    from bigslice_spark.operators.checks import data_checks
    df = spark.createDataFrame([(1,)], "k long")
    got = {r["check"]: r["n_violations"] for r in data_checks(df, {
        "qty-range": F.col("k") > 0,
        "has 'quote' and space": F.col("k") < 0,
    }).collect()}
    assert got == {"qty-range": 0, "has 'quote' and space": 1}


def test_k_core_peels_chain_keeps_clique(spark):
    from bigslice_spark.operators.graph import k_core
    # 4-clique (1-4) + a pendant chain 4-5-6-7: the 2-core is exactly
    # the clique, and the chain needs MULTIPLE rounds to peel (7 goes,
    # then 6, then 5)
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6), (6, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["degree"]
           for r in k_core(df, k=2, iters=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # one round is NOT enough — the chain peels one link per round
    partial = {r["node"] for r in k_core(df, k=2, iters=1).collect()}
    assert 5 in partial or 6 in partial
    # fixpoint: an extra round changes nothing
    again = {r["node"]: r["degree"]
             for r in k_core(df, k=2, iters=4).collect()}
    assert again == got


def test_k_core_converges_on_deep_chain(spark):
    """Default (iters=None) peels to the FIXPOINT whatever the graph
    diameter: a 12-node pendant chain off a 4-clique needs ~12 peel
    rounds — far past any fixed small bound — and the converged 2-core
    must be exactly the clique, while a 2-round bound returns a
    superset (the documented fixed-iters contract)."""
    from bigslice_spark.operators.graph import k_core
    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    chain = [(4 + i, 5 + i) for i in range(12)]  # 4-5-6-...-16
    df = spark.createDataFrame(clique + chain, "src long, dst long")
    got = {r["node"]: r["degree"] for r in k_core(df, k=2).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    bounded = {r["node"] for r in k_core(df, k=2, iters=2).collect()}
    assert bounded > set(got)  # strict superset: chain not yet peeled


def _k_core_edge_peel(edges, k, iters=None):
    """Parity reference: the k_core shape the node-sized rounds
    replaced. Every round materializes the surviving ORIENTED edge list
    (both directions of each simple edge) and the fixpoint is an
    unchanged edge count."""
    from bigslice_spark.checkpoint import materialize, release
    from bigslice_spark.operators.graph import _oriented
    from pyspark.sql import Observation
    e = edges.select(F.col("src").cast("long").alias("u"),
                     F.col("dst").cast("long").alias("v"))
    obs0 = Observation()
    cur = materialize(
        _oriented(e.filter(F.col("u") != F.col("v"))).distinct()
        .observe(obs0, F.count(F.lit(1)).alias("__rows__")))

    def peel(g, obs=None):
        deg = g.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
        alive = deg.filter(F.col("degree") >= k).select("u")
        out = (g.join(alive, on="u", how="left_semi")
               .join(alive.select(F.col("u").alias("v")),
                     on="v", how="left_semi"))
        if obs is not None:
            out = out.observe(obs, F.count(F.lit(1)).alias("__rows__"))
        return materialize(out)

    if iters is not None:
        for _ in range(iters):
            nxt = peel(cur)
            release(cur)
            cur = nxt
    else:
        n = obs0.get["__rows__"]
        while n:
            obs = Observation()
            nxt = peel(cur, obs)
            release(cur)
            cur = nxt
            m = obs.get["__rows__"]
            if m == n:
                break
            n = m
    got = {r["u"]: r["degree"] for r in
           cur.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
           .filter(F.col("degree") >= k).collect()}
    release(cur)
    return got


# A 4-clique {1..4} with a tail 20-21-22 that peels one node per round
# at k=3 (22, then 21, then 20), a triangle 10-11-12 gone in round one
# at k=3, and the inputs the canonical pairs must collapse or drop:
# both orientations of an edge, duplicate rows, self-loops, NULLs.
KCORE_ADVERSARIAL = [
    (1, 2), (2, 1), (1, 3), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
    (4, 3), (20, 1), (20, 2), (20, 21), (21, 3), (21, 22), (22, 21),
    (10, 11), (11, 12), (12, 10), (3, 3), (22, 22), (30, 30),
    (None, 4), (12, None), (None, None)]


@pytest.mark.parametrize("k", [0, 1, 3])
def test_k_core_matches_edge_list_peel(spark, cluster_checkpoint, k):
    """Equivalence pin: k_core's node-sized rounds (one canonical pair
    list, a materialized alive set per round) return the same
    (node, degree) rows as the edge-list peel they replaced, for every
    iters mode, on the broadcast-hinted and unhinted semi-join paths
    and on reliable checkpoints, over adversarial and empty inputs."""
    from bigslice_spark.operators.graph import k_core
    df = spark.createDataFrame(KCORE_ADVERSARIAL, "src long, dst long")
    empty = spark.createDataFrame([], "src long, dst long")

    def run(edges, iters):
        out = k_core(edges, k=k, iters=iters)
        assert [(f.name, f.dataType.simpleString())
                for f in out.schema.fields] == [("node", "bigint"),
                                                ("degree", "bigint")]
        return {r["node"]: r["degree"] for r in out.collect()}

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    want = {}
    for iters in (0, 1, 2, None):
        want[iters] = _k_core_edge_peel(df, k, iters)
        assert run(df, iters) == want[iters], iters
        assert run(empty, iters) == {}, iters
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            assert run(df, iters) == want[iters], iters
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        with cluster_checkpoint():
            assert run(df, iters) == want[iters], iters
    assert _k_core_edge_peel(empty, k) == {}
    if k == 3:  # the tail peels one node per round
        assert [len(want[i]) for i in (0, 1, 2, None)] == [6, 5, 4, 4]


def test_asof_tolerance_rejects_stale_matches(spark):
    import datetime as dt
    from bigslice_spark.operators.asof import asof_join
    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t0 + dt.timedelta(hours=5), "p1"),
         (1, t0 + dt.timedelta(minutes=10), "p2"),
         (2, t0, "p3")],
        "user_id long, ts timestamp, tag string")
    right = spark.createDataFrame(
        [(1, t0, 100.0)], "user_id long, vts timestamp, v double")
    got = {r["tag"]: r["v"] for r in asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="vts",
        value_cols=["v"], tolerance=3600).collect()}
    # p2 is 10 min after the right row (inside 1h); p1 is 5h (stale);
    # p3 has no match at all
    assert got == {"p1": None, "p2": 100.0, "p3": None}


def test_asof_carries_nearest_row_atomically(spark):
    """A NULL value column in the NEAREST right row stays NULL — it is
    never backfilled from an older right row (pandas merge_asof /
    DuckDB ASOF JOIN whole-row semantics), and the tolerance gate
    checks the timestamp of the same row whose values it accepts."""
    import datetime as dt
    from bigslice_spark.operators.asof import asof_join
    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=30), "p1")],
        "user_id long, ts timestamp, tag string")
    right = spark.createDataFrame(
        [(1, t0 - dt.timedelta(hours=10), 999.0, "old"),
         (1, t0, None, "nearest")],
        "user_id long, vts timestamp, v double, w string")
    # no tolerance: nearest row's NULL v must NOT be backfilled to 999
    row = asof_join(left, right, on="user_id", left_ts="ts",
                    right_ts="vts", value_cols=["v", "w"]).collect()[0]
    assert row["v"] is None and row["w"] == "nearest"
    # tolerance 1h: nearest row (30 min back) is in range even though
    # one of its columns is NULL; the 10h-old row must play no part
    row = asof_join(left, right, on="user_id", left_ts="ts",
                    right_ts="vts", value_cols=["v", "w"],
                    tolerance=3600).collect()[0]
    assert row["v"] is None and row["w"] == "nearest"


def test_cc_jobs_bounded_per_round(spark):
    """Convergence detection is piggybacked onto the label aggregation
    (the __old__ column) and probed with a filter over the MATERIALIZED
    round result — so a CC run launches ≤2 jobs per round (materialize
    + probe), never a third join job. Path graph 0-…-10 converges in
    11 rounds (min label walks one hop per round + a confirming
    round)."""
    from bigslice_spark.operators.graph import connected_components
    edges = [(i, i + 1) for i in range(10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    tracker = spark.sparkContext.statusTracker()
    # AQE runs every shuffle stage as its own job, which would make
    # "jobs" count stages; with it off, one driver ACTION == one job,
    # which is the metric this gate pins (no third action per round).
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        before = set(tracker.getJobIdsForGroup(None))
        out = {r["node"]: r["component"]
               for r in connected_components(df, max_iter=15).collect()}
        new_jobs = set(tracker.getJobIdsForGroup(None)) - before
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert out == {i: 0 for i in range(11)}
    # 2 setup materializations + 11 rounds x (materialize + probe)
    # + the final collect; a third per-round action would blow past
    assert len(new_jobs) <= 30, len(new_jobs)


def test_release_frees_superseded_checkpoint_blocks(spark):
    """materialize()'s localCheckpoint path tracks the RDD ids it
    persists; release() unpersists exactly those and is idempotent.
    End-to-end: a converging CC run releases every superseded round,
    so it finishes holding O(1) persisted RDDs, not O(rounds) — the
    difference between a flat and a degrading long-lived JVM on
    iterative workloads (lpa at sf1: 75.1s -> 32.4s)."""
    from bigslice_spark.checkpoint import materialize, release

    jsc = spark.sparkContext._jsc

    def persisted():
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    base = persisted()
    df = materialize(spark.range(100).selectExpr("id", "id * 2 AS y"))
    assert persisted() - base, "localCheckpoint should persist blocks"
    assert release(df) is True
    assert not (persisted() - base), "release must unpersist them all"
    assert release(df) is False, "second release is a tracked no-op"
    # untracked frames (never materialized) are a safe no-op too
    assert release(spark.range(3)) is False

    # release_all: the between-queries hook frees every tracked frame
    from bigslice_spark.checkpoint import release_all
    a = materialize(spark.range(10).selectExpr("id AS a"))
    b = materialize(spark.range(10).selectExpr("id AS b"))
    assert release_all(spark) >= 2
    assert not (persisted() - base)
    assert release(a) is False and release(b) is False
    assert release_all(spark) == 0

    from bigslice_spark.operators.graph import connected_components
    e = spark.createDataFrame([(i, i + 1) for i in range(10)],
                              "src long, dst long")
    before = persisted()
    out = connected_components(e, max_iter=15)
    assert out.count() == 11
    leftover = persisted() - before
    # only the final round's blocks (the returned frame's backing) may
    # survive; 11 rounds of a path graph would leak ~12 without release
    assert len(leftover) <= 3, leftover


# Components {1,2,3} (a path plus a duplicate and both orientations),
# {10,11} with a self-loop, {20,...,23} (a star with reversed copies),
# a lone self-loop node 30, and the inputs the operators must collapse:
# duplicate rows, both orientations of an edge, self-loops.
GRAPH_ADVERSARIAL = [
    (1, 2), (2, 1), (1, 2), (2, 3), (10, 11), (11, 11), (10, 10),
    (20, 21), (20, 22), (22, 20), (23, 20), (20, 23), (30, 30)]
# isolated nodes for connected_components(nodes=): 40 and 41 are new,
# 3 and 30 already sit in the edge list and must not be duplicated
GRAPH_EXTRA_NODES = [3, 30, 40, 41]


def _cc_ref(edges, nodes=()):
    """Min reachable id per node, by repeated relaxation."""
    lab = {x: x for e in edges for x in e}
    lab.update({x: x for x in nodes if x not in lab})
    changed = True
    while changed:
        changed = False
        for u, v in edges:
            m = min(lab[u], lab[v])
            if lab[u] != m or lab[v] != m:
                lab[u] = lab[v] = m
                changed = True
    return lab


def _lpa_ref(edges, iters):
    """Synchronous LPA: each round a node takes the most frequent label
    over its distinct neighbors plus itself once, ties to the min."""
    nbrs = {}
    for u, v in edges:
        for a, b in ((u, v), (v, u), (u, u), (v, v)):
            nbrs.setdefault(a, set()).add(b)
    lab = {x: x for x in nbrs}
    for _ in range(iters):
        new = {}
        for x, ns in nbrs.items():
            c = {}
            for y in ns:
                c[lab[y]] = c.get(lab[y], 0) + 1
            new[x] = min(c, key=lambda la: (-c[la], la))
        lab = new
    return lab


def _pagerank_ordered_ref(edges, iters, damping=0.85):
    """pagerank(ordered=True) in the same double op order: in-edge
    contributions folded in source-id order from 0.0."""
    e = sorted(set(edges))
    nodes = {x for ed in e for x in ed}
    n = float(len(nodes))
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {x: 1.0 / n for x in nodes}
    for _ in range(iters):
        acc = {}
        for s, d in e:                   # sorted: s ascending per d
            acc[d] = acc.get(d, 0.0) + rank[s] / outdeg[s]
        rank = {x: (1.0 - damping) / n + damping * acc.get(x, 0.0)
                for x in nodes}
    return rank


def test_graph_loops_same_rows_on_every_plan_path(spark,
                                                  cluster_checkpoint):
    """Equivalence pin: connected_components, label_propagation and
    pagerank(ordered=True) return identical rows whether the node-sized
    relation is broadcast (session threshold), exchanged (threshold
    -1) or checkpointed reliably (the cluster path), and those rows
    are the definitions' — over duplicate and both-orientation edges,
    self-loops, isolated ``nodes=`` and an empty input."""
    import contextlib

    from bigslice_spark.operators.graph import (_broadcast_if_fits,
                                                connected_components,
                                                label_propagation,
                                                pagerank)
    schema = "src long, dst long"
    df = spark.createDataFrame(GRAPH_ADVERSARIAL, schema)
    empty = spark.createDataFrame([], schema)
    nodes = spark.createDataFrame([(x,) for x in GRAPH_EXTRA_NODES],
                                  "node long")

    def runs():
        cc = {r["node"]: r["component"]
              for r in connected_components(df).collect()}
        ccn = {r["node"]: r["component"]
               for r in connected_components(df, nodes=nodes).collect()}
        lpa = {r["node"]: r["label"]
               for r in label_propagation(df, iters=3).collect()}
        pr = {r["node"]: r["rank"]
              for r in pagerank(df, iters=3, ordered=True).collect()}
        empties = (connected_components(empty).collect(),
                   label_propagation(empty).collect(),
                   pagerank(empty, ordered=True).collect())
        only_nodes = {r["node"]: r["component"] for r in
                      connected_components(empty, nodes=nodes).collect()}
        return cc, ccn, lpa, pr, empties, only_nodes

    want = (_cc_ref(GRAPH_ADVERSARIAL),
            _cc_ref(GRAPH_ADVERSARIAL, GRAPH_EXTRA_NODES),
            _lpa_ref(GRAPH_ADVERSARIAL, 3),
            _pagerank_ordered_ref(GRAPH_ADVERSARIAL, 3),
            ([], [], []),
            {x: x for x in GRAPH_EXTRA_NODES})
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    assert _broadcast_if_fits(spark, 16, 1000) is F.broadcast
    for path in (contextlib.nullcontext, cluster_checkpoint):
        with path():
            assert runs() == want, path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert _broadcast_if_fits(spark, 16, 0) is not F.broadcast
        assert runs() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_connected_components_releases_on_no_convergence(spark,
                                                         monkeypatch):
    """A run that hits max_iter raises AND frees what it materialized:
    the symmetric edge list and the last round are no longer tracked
    (so no executor blocks stay pinned for the session)."""
    from bigslice_spark import checkpoint
    from bigslice_spark.operators import graph
    made = []

    def recording(df):
        out = checkpoint.materialize(df)
        made.append(out)
        return out

    monkeypatch.setattr(graph, "materialize", recording)
    path = spark.createDataFrame([(i, i + 1) for i in range(6)],
                                 "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(path, max_iter=1)
    assert len(made) == 3  # sym, the initial labels, round one
    assert not [m for m in made if m in checkpoint._TRACKED]


def test_k_core_leaves_only_its_result_persisted(spark):
    """k_core releases its pair list and every superseded round: after
    a call at most the returned frame's own RDD stays persisted, and
    release_all frees that too: the result must be a tracked
    materialize handle, since an untracked persisted round is out of
    release_all's reach."""
    from bigslice_spark.checkpoint import release_all
    from bigslice_spark.operators.graph import k_core

    jsc = spark.sparkContext._jsc

    def persisted():
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    e = spark.createDataFrame(KCORE_ADVERSARIAL, "src long, dst long")
    release_all(spark)
    for iters, n in ((0, 6), (1, 5), (None, 4)):
        before = persisted()
        out = k_core(e, k=3, iters=iters)
        assert len(persisted() - before) <= 1, iters
        assert out.count() == n, iters
        release_all(spark)
        assert not (persisted() - before), iters


def test_materialize_attribution_is_direct(spark):
    """materialize() reads the persisted-RDD id straight off the
    LogicalRDD the localCheckpoint returned — a concurrently persisted
    unrelated frame can never be misattributed (and later killed by
    release); ADVICE r10 checkpoint.py:71."""
    from bigslice_spark.checkpoint import _TRACKED, materialize, release

    bystander = spark.range(50).selectExpr("id AS z").cache()
    bystander.count()
    out = materialize(spark.range(20).selectExpr("id", "id + 1 AS w"))
    _, ids = _TRACKED[out]
    direct = int(out._jdf.queryExecution().analyzed().rdd().id())
    assert ids == [direct]
    release(out)
    # the bystander's cache survives the release untouched
    assert bystander.storageLevel.useMemory
    bystander.unpersist()


def test_iterative_graph_ops_zero_iters_collectable(spark):
    """iters=0 returns a frame still DERIVING from the materialized
    loop inputs; the input blocks must not be released out from under
    it (localCheckpoint truncates lineage, so a released input fails
    instead of recomputing); ADVICE r10 graph.py:266."""
    from bigslice_spark.operators.graph import (k_core,
                                                label_propagation,
                                                pagerank)
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    r = {row["node"]: row["rank"]
         for row in pagerank(e, iters=0).collect()}
    assert set(r) == {1, 2, 3}
    assert all(abs(v - 1.0 / 3.0) < 1e-12 for v in r.values())
    lab = {row["node"]: row["label"]
           for row in label_propagation(e, iters=0).collect()}
    assert lab == {1: 1, 2: 2, 3: 3}
    deg = {row["node"]: row["degree"]
           for row in k_core(e, k=1, iters=0).collect()}
    assert deg == {1: 1, 2: 2, 3: 1}


def test_bloom_broadcast_rekeys_on_context_change(spark):
    """Bloom.broadcast_for caches per (context, broadcast): a Bloom
    reused after a session restart rebuilds instead of returning a
    dead/foreign broadcast; ADVICE r10 bloom.py:80."""
    from bigslice_spark.operators.bloom import bloom_build
    keys = spark.range(100).selectExpr("id AS k")
    bloom = bloom_build(keys, "k")
    sc = spark.sparkContext
    bc1 = bloom.broadcast_for(sc)
    assert bloom.broadcast_for(sc) is bc1  # same context: cached
    stale = object()
    bloom._bc = (stale, bc1)               # simulate a dead context
    bc2 = bloom.broadcast_for(sc)
    assert bc2 is not bc1 or bloom._bc[0] is sc
    assert bloom._bc[0] is sc
    bloom.unpersist()
    assert bloom._bc is None


def test_upsert_concurrent_writer_fails_fast(spark, tmp_path):
    """Atomic rename commit: when two writers race on the same v=N,
    exactly one publishes; the loser raises ConcurrentWriteError, its
    temp dir is removed, and the winner's snapshot is untouched."""
    import os
    import pytest as _pt
    from bigslice_spark.operators import upsert as U
    path = str(tmp_path / "tbl")
    one = spark.createDataFrame([(1, "a")], "k long, val string")
    assert U.upsert(spark, path, one, ["k"]) == 1
    winner = spark.createDataFrame([(2, "w")], "k long, val string")
    assert U.upsert(spark, path, winner, ["k"]) == 2
    # a second writer that ALSO chose v=2 (it read the table before
    # the winner committed) must lose its rename, not interleave
    loser = spark.createDataFrame([(1, "CLOBBER")], "k long, val string")
    with _pt.raises(U.ConcurrentWriteError):
        U._write_committed(loser, os.path.join(path, "v=2"), None, None)
    rows = {(r["k"], r["val"])
            for r in U.read_latest(spark, path).collect()}
    assert rows == {(1, "a"), (2, "w")}
    assert not [d for d in os.listdir(path) if "inprogress" in d]


def test_vacuum_reaps_lost_race_temps(spark, tmp_path):
    """A crashed/lost-race writer's v=N.inprogress-* temp at or below
    the max committed version is dead by construction — vacuum removes
    it once STALE (>1h mtime: a live doomed writer mid-parquet-job
    keeps its temp so it reaches its clean fail-fast); one above max
    committed may be in flight and is left alone regardless. Stale
    v=N.dead-* rename-aside debris is reaped on the same guard."""
    import os
    from bigslice_spark.operators import upsert as U
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "k long, val string")
    U.upsert(spark, path, df, ["k"])
    U.upsert(spark, path, df, ["k"])
    old = (U._now_ms() - 2 * 3_600_000) / 1000.0
    for name in ("v=2.inprogress-deadbeef", "v=3.inprogress-cafe0001",
                 "v=1.dead-0ddba11", "v=2.inprogress-11ffee00",
                 "v=2.dead-f4e5d6"):
        os.makedirs(os.path.join(path, name))
    for stale in ("v=2.inprogress-deadbeef", "v=3.inprogress-cafe0001",
                  "v=1.dead-0ddba11"):
        os.utime(os.path.join(path, stale), (old, old))
    U.vacuum(spark, path, keep_last=2)
    names = set(os.listdir(path))
    assert "v=2.inprogress-deadbeef" not in names      # stale + dead
    assert "v=3.inprogress-cafe0001" in names  # stale but maybe live
    assert "v=1.dead-0ddba11" not in names             # stale debris
    assert "v=2.inprogress-11ffee00" in names  # fresh: writer may live
    assert "v=2.dead-f4e5d6" in names          # fresh debris kept


def test_vacuum_restores_stolen_commit_from_dead_debris(spark,
                                                        tmp_path):
    """The rename-aside crash corner: a v=N.dead-* dir CONTAINING
    _SUCCESS is a committed snapshot a grabbing writer stole and then
    crashed before restoring. vacuum must put it back at v=N (never
    reap it) when no live v=N exists — deleting it would permanently
    lose an acknowledged commit; a dead dir whose version was
    re-committed meanwhile is a superseded duplicate and is reaped
    once stale."""
    import os
    from bigslice_spark.operators import upsert as U
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "k long, val string")
    U.upsert(spark, path, df, ["k"])                       # v=1
    two = spark.createDataFrame([(2, "b")], "k long, val string")
    U.upsert(spark, path, two, ["k"])                      # v=2
    # simulate: v=2 was stolen into debris by a crashed grabber
    os.rename(os.path.join(path, "v=2"),
              os.path.join(path, "v=2.dead-abc123"))
    old = (U._now_ms() - 2 * 3_600_000) / 1000.0
    os.utime(os.path.join(path, "v=2.dead-abc123"), (old, old))
    U.vacuum(spark, path, keep_last=2)
    assert os.path.exists(os.path.join(path, "v=2", "_SUCCESS"))
    assert not os.path.exists(os.path.join(path, "v=2.dead-abc123"))
    rows = {(r["k"], r["val"])
            for r in U.read_latest(spark, path).collect()}
    assert rows == {(1, "a"), (2, "b")}
    # superseded duplicate: committed v=2 exists AND stale debris with
    # _SUCCESS for the same version — committed debris is NEVER
    # deleted (ambiguous with a reaped-history dir) and never restored
    # over the live version; it stays for manual adjudication
    os.makedirs(os.path.join(path, "v=2.dead-0dd999", ))
    open(os.path.join(path, "v=2.dead-0dd999", "_SUCCESS"),
         "w").write("")
    os.utime(os.path.join(path, "v=2.dead-0dd999"), (old, old))
    U.vacuum(spark, path, keep_last=2)
    assert os.path.exists(os.path.join(path, "v=2.dead-0dd999"))
    assert os.path.exists(os.path.join(path, "v=2", "_SUCCESS"))
    rows2 = {(r["k"], r["val"])
             for r in U.read_latest(spark, path).collect()}
    assert rows2 == rows                   # live table untouched


def test_vacuum_never_resurrects_reaped_versions(spark, tmp_path):
    """Dead-* debris at/below the committed tip must never be
    RESTORED, even with _SUCCESS inside: that shape is ambiguous
    between a superseded duplicate and a snapshot an earlier vacuum
    legitimately reaped, and restoring would resurrect data below the
    keep window. It is also never DELETED (it may be the only
    standalone copy of an acknowledged commit) — it just stays,
    invisible to readers. Only debris ABOVE the tip (a stolen commit
    no later writer re-issued) is restored."""
    import os
    from bigslice_spark.operators import upsert as U
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "k long, val string")
    for _ in range(3):
        U.upsert(spark, path, df, ["k"])          # v=1..3
    old = (U._now_ms() - 2 * 3_600_000) / 1000.0
    # simulate an old reaped snapshot lingering as debris
    os.makedirs(os.path.join(path, "v=1.dead-01d001"))
    open(os.path.join(path, "v=1.dead-01d001", "_SUCCESS"),
         "w").write("")
    os.utime(os.path.join(path, "v=1.dead-01d001"), (old, old))
    U.vacuum(spark, path, keep_last=2)            # reaps v=1 itself
    names = set(os.listdir(path))
    assert "v=1.dead-01d001" in names              # kept, not restored
    assert "v=1" not in names                      # v=1 stayed dead
    assert U._versions(spark, path) == [2, 3]


def test_vacuum_restores_live_referenced_stolen_partition_version(
        spark, tmp_path):
    """The carried-forward repair: on a PARTITIONED table, a stolen
    physical version AT/BELOW the tip is restored when a kept
    manifest still references its partition dirs — the steal broke
    every carried-forward read of the newer snapshot, and vacuum puts
    the data back."""
    import os
    import pytest as _pt
    from bigslice_spark.operators import upsert as U
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "k long, val string, p string")
    U.upsert(spark, path, base, ["k"], partition_by=["p"])   # v=1
    # touch only partition p=x: v=2's manifest CARRIES p=y from v=1
    upd = spark.createDataFrame([(1, "A", "x")],
                                "k long, val string, p string")
    U.upsert(spark, path, upd, ["k"], partition_by=["p"])    # v=2
    # steal v=1 (referenced by v=2's carried map) into dead debris
    os.rename(os.path.join(path, "v=1"),
              os.path.join(path, "v=1.dead-5701e0"))
    with _pt.raises(Exception):
        U.read_latest(spark, path).collect()   # carried refs broken
    U.vacuum(spark, path, keep_last=2)
    assert os.path.exists(os.path.join(path, "v=1", "_SUCCESS"))
    assert not os.path.exists(os.path.join(path, "v=1.dead-5701e0"))
    rows = {(r["k"], r["val"], r["p"])
            for r in U.read_latest(spark, path).collect()}
    assert rows == {(1, "A", "x"), (2, "b", "y")}   # repaired


def test_media_decoders_roundtrip():
    """Pure-Python PPM/BMP/WAV codecs: builder → decoder round-trips
    bytes exactly, including BMP row padding (width not a multiple of
    4) and PPM header comments."""
    import numpy as np
    from bigslice_spark.operators.multimodal import (
        decode_image, decode_wav, make_bmp, make_ppm, make_wav)
    px = bytes(range(5 * 3 * 3))  # 5x3 RGB, stride 15 -> 1 pad byte
    assert decode_image(make_ppm(5, 3, px)) == (5, 3, px)
    assert decode_image(make_bmp(5, 3, px)) == (5, 3, px)
    # PPM with a comment line in the header
    ppm = b"P6\n# a comment\n5 3\n255\n" + px
    assert decode_image(ppm) == (5, 3, px)
    samples = [0, 100, -100, 32767, -32768, 7]
    rate, ch, data = decode_wav(make_wav(8000, samples))
    assert (rate, ch) == (8000, 1)
    assert data.tolist() == samples
    assert data.dtype == np.int16
    import pytest as _pt
    with _pt.raises(ValueError):
        decode_image(b"\xff\xd8\xffJPEG...")
    with _pt.raises(ValueError):
        decode_wav(b"OggS...")


def test_png_codec_roundtrip():
    """Stdlib-zlib PNG codec: encode/decode round-trips exact RGB
    bytes under ALL FIVE scanline filter types (None/Sub/Up/Average/
    Paeth), handles gray (type 0, replicated) and RGBA (type 6, alpha
    dropped), and fails loudly on CRC corruption instead of decoding
    noise."""
    import struct
    import zlib
    import pytest as _pt
    from bigslice_spark.operators.multimodal import (
        _png_decode, decode_image, make_png)
    px = bytes((i * 7 + 3) % 256 for i in range(5 * 3 * 3))
    for ft in range(5):
        assert decode_image(make_png(5, 3, px, filter_type=ft)) \
            == (5, 3, px), f"filter {ft}"

    def build(ctype, bpp, raw_px, w, h):
        stride = w * bpp
        raw = b"".join(b"\x00" + raw_px[y * stride:(y + 1) * stride]
                       for y in range(h))

        def chunk(tag, data):
            return (struct.pack(">I", len(data)) + tag + data
                    + struct.pack(">I", zlib.crc32(tag + data)))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b""))

    gray = bytes(range(16))
    assert _png_decode(build(0, 1, gray, 4, 4))[2] \
        == b"".join(bytes((g, g, g)) for g in gray)
    rgba = bytes(i % 256 for i in range(4 * 4 * 4))
    assert _png_decode(build(6, 4, rgba, 4, 4))[2] \
        == b"".join(rgba[i * 4:i * 4 + 3] for i in range(16))
    blob = bytearray(make_png(5, 3, px, filter_type=2))
    blob[40] ^= 0xFF
    with _pt.raises(ValueError, match="CRC"):
        _png_decode(bytes(blob))
    with _pt.raises(ValueError, match="PLTE"):
        _png_decode(build(3, 1, gray, 4, 4))   # palette without PLTE


def test_png_palette_and_low_depth(spark):
    """Palette PNGs (color type 3 — the common web icon/sprite form)
    at depths 1/4/8 decode through the PLTE lookup exactly, sub-byte
    grayscale (depths 1/2/4) scales to the full 0-255 range, and an
    index past the palette fails loudly."""
    import struct
    import zlib
    import pytest as _pt
    from bigslice_spark.operators.multimodal import (_png_chunk,
                                                     _png_decode)

    def build(w, h, ctype, depth, rows, plte=None):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
        raw = b"".join(b"\x00" + r for r in rows)
        out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
        if plte is not None:
            out += _png_chunk(b"PLTE", plte)
        return (out + _png_chunk(b"IDAT", zlib.compress(raw))
                + _png_chunk(b"IEND", b""))

    def pack4(vals):
        out = bytearray()
        for i in range(0, len(vals), 2):
            out.append((vals[i] << 4)
                       | (vals[i + 1] if i + 1 < len(vals) else 0))
        return bytes(out)

    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 7, 8, 9])
    rows = [bytes([0, 1, 2, 3, 2]), bytes([3, 3, 0, 1, 0])]
    exp = b"".join(plte[i * 3:i * 3 + 3] for r in rows for i in r)
    assert _png_decode(build(5, 2, 3, 8, rows, plte)) == (5, 2, exp)
    rows4 = [pack4([0, 1, 2, 3, 2]), pack4([3, 3, 0, 1, 0])]
    assert _png_decode(build(5, 2, 3, 4, rows4, plte)) == (5, 2, exp)
    plte2 = bytes([10, 20, 30, 200, 210, 220])
    vals = [0, 1, 1, 0, 1, 0, 0, 1, 1, 1]
    packed = bytes([int("".join(map(str, vals[:8])), 2),
                    (vals[8] << 7) | (vals[9] << 6)])
    exp1 = b"".join(plte2[v * 3:v * 3 + 3] for v in vals)
    assert _png_decode(build(10, 1, 3, 1, [packed], plte2)) \
        == (10, 1, exp1)
    g = pack4([0, 15, 8, 3, 12])
    expg = b"".join(bytes([v * 17] * 3) for v in [0, 15, 8, 3, 12])
    assert _png_decode(build(5, 1, 0, 4, [g])) == (5, 1, expg)
    with _pt.raises(ValueError, match="index"):
        _png_decode(build(2, 1, 3, 8, [bytes([0, 9])], plte))


def test_extract_features_real_decode(spark):
    """fake=False really decodes: hand-computed channel means for an
    image and the exact sample mean for a WAV."""
    from bigslice_spark.operators.multimodal import (extract_features,
                                                     make_ppm, make_wav,
                                                     pack_media)
    px = bytes([10, 20, 30, 50, 60, 70])       # 2x1 RGB
    wav = make_wav(16000, [100, -50, 1, 1])
    df = spark.createDataFrame(
        [(1, bytearray(make_ppm(2, 1, px))), (2, bytearray(wav))],
        "id long, payload binary")
    out = {r["id"]: r for r in extract_features(
        pack_media(df, "payload", "id"), fake=False).collect()}
    assert out[1]["feat"] == [1.0, 2.0, 1.0, 3.0, 2.0, 30.0, 40.0, 50.0]
    assert out[2]["feat"] == [2.0, 16000.0, 1.0, 16.0, 4.0, 13.0,
                              0.0, 0.0]
    assert out[1]["n_bytes"] == len(make_ppm(2, 1, px))


def test_table_profile_approx_mode(spark):
    """rsd= switches per-column cardinality to HLL: no Expand in the
    plan (one plain pass whatever the column count) and estimates
    within the rsd band on a known-cardinality frame."""
    from bigslice_spark.operators.checks import table_profile
    df = spark.range(2000).selectExpr(
        "id", "id % 37 AS a", "CAST(id % 5 AS STRING) AS b")
    exact = {r["column"]: r["n_distinct"]
             for r in table_profile(df, ["a", "b"]).collect()}
    assert exact == {"a": 37, "b": 5}
    approx = table_profile(df, ["a", "b"], rsd=0.02)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan[:800]
    got = {r["column"]: r["n_distinct"] for r in approx.collect()}
    assert abs(got["a"] - 37) <= 3 and abs(got["b"] - 5) <= 1


def test_bpe_tokenizers_agree_on_unicode_whitespace(spark):
    """All three BPE paths (training word table, join-plan encoder,
    row-wise reference) must split on the SAME whitespace class —
    Java-regex ASCII \\s. Real unicode whitespace (NBSP, thin space)
    is NOT a separator for any of them; a bare python str.split()
    in the row-wise path would silently disagree."""
    from bigslice_spark.operators.bpe import bpe_encode
    merges = []  # no merges: every word costs len(word)+1 (EOW)
    df = spark.createDataFrame(
        [(1, "ab\u00a0cd ef"), (2, "x\ty \u2009z")],
        "doc_id long, text string")
    plan = {r["doc_id"]: r["n_tokens"]
            for r in bpe_encode(df, merges).collect()}
    ref = {r["doc_id"]: r["n_tokens"]
           for r in _bpe_encode_rowwise(df, merges).collect()}
    assert plan == ref
    # doc1: NBSP not a separator -> ['ab\xa0cd', 'ef'] -> 6 + 3
    # doc2: tab + space are -> ['x', 'y', '\u2009z'] -> 2 + 2 + 3
    assert plan == {1: 9, 2: 7}


def test_vacuum_reaps_stale_touched_scratch(spark, tmp_path):
    """A crashed writer's _touched-* partition-name scratch is reaped
    by vacuum once stale (>1h mtime); a fresh one (possibly a live
    writer's) is left alone."""
    import os
    from bigslice_spark.operators import upsert as U
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "k long, val string")
    U.upsert(spark, path, df, ["k"])
    U.upsert(spark, path, df, ["k"])
    stale = os.path.join(path, "_touched-deadbeef")
    fresh = os.path.join(path, "_touched-cafe0001")
    os.makedirs(stale)
    os.makedirs(fresh)
    old = (os.path.getmtime(stale) - 7200)
    os.utime(stale, (old, old))
    U.vacuum(spark, path, keep_last=2)
    names = set(os.listdir(path))
    assert "_touched-deadbeef" not in names
    assert "_touched-cafe0001" in names


def test_ivf_accepts_precomputed_centers(spark, tables):
    """centers= skips the MLlib fit (the production shape: quantizer
    trained once per corpus snapshot); results with the model's own
    centers are identical to the in-call fit."""
    from bigslice_spark.operators.similarity import ivf_topk
    import pyspark.sql.functions as F
    emb = tables["embeddings"]
    qs = emb.filter(F.col("vec_id") < 3)
    a = ivf_topk(emb, qs, k=5, ncells=4, nprobe=2, dim=64)
    # derive the same centers the fit produced by re-running the fit
    # deterministically (same seed), then pass them explicitly
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from bigslice_spark.operators.similarity import _prep
    corpus = _prep(emb, "embedding", "vec_id")
    km = KMeans(k=4, seed=42, featuresCol="feat", maxIter=8)
    model = km.fit(corpus.withColumn("feat", array_to_vector("v")))
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    b = ivf_topk(emb, qs, k=5, ncells=4, nprobe=2, dim=64,
                 centers=centers)
    rows = lambda d: sorted((r["qid"], r["nid"]) for r in d.collect())
    assert rows(a) == rows(b)
    import pytest as _pt
    with _pt.raises(ValueError, match="dim"):
        ivf_topk(emb, qs, k=5, dim=64, centers=[[0.0, 1.0]])


def test_ivf_join_assignment_matches_unrolled_bitwise(spark, tables):
    """ivf_topk's broadcast-fold assignment agrees on every (qid, nid,
    cosine, rank) with the unrolled distance text it replaced — the
    fold computes the identical left-associative float sums."""
    import pyspark.sql.functions as F
    from bigslice_spark.operators.clustering import seed_centroids
    from bigslice_spark.operators.similarity import ivf_topk
    from .unrolled_argmin import ivf_topk_unrolled
    emb = tables["embeddings"]
    qs = emb.filter(F.col("vec_id") < 3)
    cents = seed_centroids(24, 64)
    un = ivf_topk_unrolled(emb, qs, cents, k=5, nprobe=3)
    jo = ivf_topk(emb, qs, k=5, nprobe=3, dim=64, centers=cents)
    au = ivf_topk(emb, qs, k=5, nprobe=3, dim=64, centers=cents)
    rows = lambda d: sorted(map(tuple, d.collect()))
    assert rows(un) == rows(jo) == rows(au)
    # plan gate: no cell count carries the unrolled argmin
    # mega-expression (array_min over inline distances — measured
    # interpreted/Janino-failing at these widths). (zip_with is no
    # discriminator: _dot_wide is itself a zip_with fold.)
    from bigslice_spark.plans import explain_str
    assert "array_min" not in explain_str(au).lower()
    small = ivf_topk(emb, qs, k=5, nprobe=3, dim=64,
                     centers=seed_centroids(8, 64))
    assert "array_min" not in explain_str(small).lower()


def test_ivf_auto_ncells_rule():
    """ncells=None sizes ~N/cell_target with floor 16, a 4·√N cap
    (keeps index build at the standard IVF O(N^1.5) instead of the
    quadratic cliff an uncapped N/target rule has), and a hard 65536
    cap bounding the broadcast centroid table."""
    from bigslice_spark.operators.similarity import _auto_ncells
    assert _auto_ncells(1_000, 4096) == 16            # floor
    assert _auto_ncells(1_000_000, 4096) == 245       # ceil(N/target)
    assert _auto_ncells(4096 * 20, 4096) == 20
    assert _auto_ncells(100_000_000, 4096) == 24_415  # N/target binds
    assert _auto_ncells(1_000_000, 16) == 4_000        # 4·√N cap binds
    # hard cap at mega-scale
    assert _auto_ncells(24_000_000_000, 4096) == 65_536


def test_real_decode_null_vs_garbage(spark):
    """fake=False: NULL and b'' payloads are MISSING blobs (zero
    descriptor, row flows through — empty bytes is the common
    missing-blob encoding and must not surface as a bogus 'not a
    RIFF/WAVE' corruption error); non-empty garbage is a corrupt file
    and must fail loudly with an error naming the real condition."""
    import pytest as _pt
    from bigslice_spark.operators.multimodal import (extract_features,
                                                     make_wav,
                                                     pack_media)
    df = spark.createDataFrame(
        [(1, None), (2, bytearray(make_wav(8000, [5, -5]))),
         (3, bytearray(b""))],
        "id long, payload binary")
    out = {r["id"]: r for r in extract_features(
        pack_media(df, "payload", "id"), fake=False).collect()}
    assert out[1]["feat"] == [0.0] * 8 and out[1]["n_bytes"] == 0
    assert out[3]["feat"] == [0.0] * 8 and out[3]["n_bytes"] == 0
    assert out[2]["feat"][0] == 2.0
    bad = spark.createDataFrame([(3, bytearray(b"\x00garbage"))],
                                "id long, payload binary")
    with _pt.raises(Exception, match="RIFF|PPM/BMP"):
        extract_features(pack_media(bad, "payload", "id"),
                         fake=False).collect()


def test_upsert_clobbers_uncommitted_partial_not_committed(spark,
                                                           tmp_path):
    """A crashed writer's PARTIAL v=N (no _SUCCESS) must not block the
    table forever — the next commit clobbers it; a COMMITTED v=N
    still fails fast."""
    import os
    import pytest as _pt
    from bigslice_spark.operators import upsert as U
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "k long, val string")
    assert U.upsert(spark, path, df, ["k"]) == 1
    # simulate a crashed writer: v=2 exists with data but no _SUCCESS
    partial = os.path.join(path, "v=2")
    os.makedirs(partial)
    open(os.path.join(partial, "part-junk.parquet"), "w").write("x")
    two = spark.createDataFrame([(2, "b")], "k long, val string")
    assert U.upsert(spark, path, two, ["k"]) == 2
    rows = {(r["k"], r["val"])
            for r in U.read_latest(spark, path).collect()}
    assert rows == {(1, "a"), (2, "b")}
    assert not os.path.exists(os.path.join(partial, "part-junk.parquet"))
    # the partial was moved ASIDE atomically (not deleted in place):
    # its junk now lives in a v=2.dead-* debris dir, invisible to
    # readers and reaped by vacuum once stale
    dead = [d for d in os.listdir(path) if d.startswith("v=2.dead-")]
    assert len(dead) == 1
    assert os.path.exists(
        os.path.join(path, dead[0], "part-junk.parquet"))
    # committed version still protected
    with _pt.raises(U.ConcurrentWriteError):
        U._write_committed(two, partial, None, None)


def test_upsert_grab_restores_stolen_commit(spark, tmp_path,
                                            monkeypatch):
    """The crashed-partial rename-aside race: if a concurrent writer
    commits v=N between this writer's _SUCCESS probe and its grab of
    the partial, the grab steals a COMMITTED dir — _write_committed
    must detect the _SUCCESS inside the debris, rename it back, and
    lose cleanly (no silent lost commit)."""
    import os
    import pytest as _pt
    from bigslice_spark.operators import upsert as U
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "k long, val string")
    assert U.upsert(spark, path, df, ["k"]) == 1
    # v=2 starts as a crashed partial (no _SUCCESS)
    partial = os.path.join(path, "v=2")
    os.makedirs(partial)
    open(os.path.join(partial, "part-racer.parquet"), "w").write("r")
    real = U._rename_no_overwrite

    def racing(spark_, jvm, fs, src, dst):
        # the racer's commit lands an instant before the grab executes
        if (dst.getName() != "v=2"
                and not os.path.exists(
                    os.path.join(partial, "_SUCCESS"))):
            open(os.path.join(partial, "_SUCCESS"), "w").write("")
        return real(spark_, jvm, fs, src, dst)

    monkeypatch.setattr(U, "_rename_no_overwrite", racing)
    loser = spark.createDataFrame([(9, "LOST")], "k long, val string")
    with _pt.raises(U.ConcurrentWriteError):
        U._write_committed(loser, partial, None, None)
    # the racer's commit survived, restored at v=2 with its _SUCCESS
    assert os.path.exists(os.path.join(partial, "_SUCCESS"))
    assert os.path.exists(os.path.join(partial, "part-racer.parquet"))
    assert not [d for d in os.listdir(path) if "inprogress" in d]


def test_rename_no_overwrite_outcomes(spark, tmp_path):
    """The atomic publish primitive: ok on free dst, 'exists' on an
    occupied dst (no nesting inside it), 'missing-src' when src is
    gone — classified by java exception class, not message text."""
    import os
    from bigslice_spark.operators import upsert as U
    jvm, fs, _ = U._jfs(spark, str(tmp_path))
    P = jvm.org.apache.hadoop.fs.Path
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(a)
    open(os.path.join(a, "x"), "w").write("x")
    assert U._rename_no_overwrite(spark, jvm, fs, P(a), P(b)) == "ok"
    assert os.path.exists(os.path.join(b, "x"))
    os.makedirs(a)
    assert U._rename_no_overwrite(spark, jvm, fs, P(a), P(b)) == "exists"
    assert os.path.exists(a)          # src untouched on a lost race
    assert not os.path.exists(os.path.join(b, "a"))   # never nested
    gone = str(tmp_path / "nope")
    out = U._rename_no_overwrite(spark, jvm, fs, P(gone), P(b))
    assert out in ("missing-src", "exists")  # AbstractFS raises FNF;
    # a FileSystem fallback reports the occupied dst first — either
    # way the caller cannot mistake it for success


def test_vacuum_ambiguous_debris_escape_hatch(spark, tmp_path):
    """reap_ambiguous_debris_older_than (r7 verdict watch item): the
    age-gated reap of committed debris vacuum otherwise keeps forever.
    Default-off keeps everything; with the hatch on, only debris OLDER
    than the given age goes; younger ambiguous debris stays; restorable
    debris is still RESTORED first (never reaped); the live table is
    untouched throughout."""
    import os
    import pytest as _pt
    from bigslice_spark.operators import upsert as U
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "k long, val string")
    for _ in range(3):
        U.upsert(spark, path, df, ["k"])          # v=1..3
    day = 86400.0
    old = (U._now_ms() - 3 * day * 1000) / 1000.0
    for name, ts in (("v=1.dead-aaaa01", old), ("v=2.dead-bbbb02", None)):
        os.makedirs(os.path.join(path, name))
        open(os.path.join(path, name, "_SUCCESS"), "w").write("")
        if ts is not None:
            os.utime(os.path.join(path, name), (ts, ts))
    # a stolen tip commit as OLD debris: restorable, must never reap
    os.rename(os.path.join(path, "v=3"),
              os.path.join(path, "v=3.dead-cccc03"))
    os.utime(os.path.join(path, "v=3.dead-cccc03"), (old, old))
    # default off: restore the tip, keep both ambiguous dirs
    U.vacuum(spark, path, keep_last=3)
    names = set(os.listdir(path))
    assert os.path.exists(os.path.join(path, "v=3", "_SUCCESS"))
    assert {"v=1.dead-aaaa01", "v=2.dead-bbbb02"} <= names
    # hatch on, 1-day age: the 3-day-old ambiguous dir goes, the
    # fresh one stays, the restored tip is untouched
    U.vacuum(spark, path, keep_last=3,
             reap_ambiguous_debris_older_than=day)
    names = set(os.listdir(path))
    assert "v=1.dead-aaaa01" not in names
    assert "v=2.dead-bbbb02" in names
    assert os.path.exists(os.path.join(path, "v=3", "_SUCCESS"))
    rows = {(r["k"], r["val"])
            for r in U.read_latest(spark, path).collect()}
    assert rows == {(1, "a")}
    with _pt.raises(ValueError, match="positive"):
        U.vacuum(spark, path, reap_ambiguous_debris_older_than=0)


def test_url_tools(spark):
    """URL normalization edge cases: userinfo dropped, default ports
    (http 80 / https 443) stripped while non-default survive, empty
    path -> '/', tracking params removed with the OTHER params' order
    preserved, fragment dropped, tracking-only query -> no '?';
    registrable_domain handles co.uk-style suffixes, bare 2-label
    hosts, and IPv4 passthrough; url_dedup_keys keeps the lowest id
    per canonical URL."""
    import pyspark.sql.functions as F
    from bigslice_spark.operators.web import (registrable_domain,
                                              url_dedup_keys,
                                              url_normalize)
    cases = [
        (1, "http://user:pw@Host.COM:80/a#frag", "http://host.com/a"),
        (2, "HTTPS://EXAMPLE.org:443/", "https://example.org/"),
        (3, "https://example.org:8443/x?b=2&utm_source=s&a=1",
         "https://example.org:8443/x?b=2&a=1"),
        (4, "http://site.de", "http://site.de/"),
        (5, "http://site.de/?utm_campaign=z&fbclid=f", "http://site.de/"),
        (6, "http://HostB.com/a", "http://hostb.com/a"),
        (7, "http://hostb.com/a", "http://hostb.com/a"),
    ]
    df = spark.createDataFrame([(i, u) for i, u, _ in cases],
                               "doc_id long, url string")
    got = {r["doc_id"]: r["url_norm"]
           for r in url_normalize(df).collect()}
    for i, _u, want in cases:
        assert got[i] == want, (i, got[i], want)
    doms = spark.createDataFrame(
        [("www.example.co.uk",), ("sub.a.example.com",), ("site.de",),
         ("192.168.10.1",), ("localhost",), ("a.gov.uk",)],
        "h string").select(registrable_domain("h").alias("d")).collect()
    assert [r["d"] for r in doms] == [
        "example.co.uk", "example.com", "site.de", "192.168.10.1",
        "localhost", "a.gov.uk"]
    # dedup: 6/7 normalize identically (case), and 5 collapses onto 4
    # (tracking-only query vs bare) -> lowest id keeps in both groups
    keep = {r["doc_id"]: r["keep"]
            for r in url_dedup_keys(df).collect()}
    assert keep[6] is True and keep[7] is False
    assert keep[4] is True and keep[5] is False
    assert all(keep[i] for i in (1, 2, 3))
    # scale shape: normalization is a zero-shuffle projection
    from bigslice_spark.plans import count_exchanges
    assert count_exchanges(url_normalize(df)) == 0


def test_clean_text_normalizes_unicode_zoo(spark):
    from bigslice_spark.operators.text import normalize_text
    dirty = ("\u201cQuoted\u201d \u2018s\u2019 \u2014 dash\u2026"
             " a\u00a0\u00a0b x\u200bzw ctl\u0007done\t\ttabs"
             "\n\n\n\npara\u2009\u2003end ")
    df = spark.createDataFrame([(1, dirty)], "id long, text string")
    got = normalize_text(df).collect()[0]["clean_text"]
    assert got == ('"Quoted" \'s\' - dash... a b xzw ctldone tabs'
                   "\n\npara end")


def test_clean_text_is_identity_on_clean_ascii(spark):
    from bigslice_spark.operators.text import normalize_text
    df = spark.createDataFrame(
        [(1, "already clean single spaced text")],
        "id long, text string")
    got = normalize_text(df).collect()[0]["clean_text"]
    assert got == "already clean single spaced text"


def test_clean_text_plan_is_pure_projection(spark):
    from bigslice_spark.operators.text import normalize_text
    from bigslice_spark.plans import count_exchanges, explain_str
    df = spark.createDataFrame([(1, "x")], "id long, text string")
    out = normalize_text(df)
    assert count_exchanges(out) == 0
    plan = explain_str(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hll_sketches_merge_like_partial_aggs(spark, tables):
    # the sketch_rollup invariant at unit scale: building one sketch
    # per slice and unioning equals building one sketch over the
    # whole input (register-max merge), and both track the exact
    # distinct within the lgK=14 error bound
    import pyspark.sql.functions as F
    ev = tables["events"]
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    merged = sk.agg(F.hll_sketch_estimate(
        F.hll_union_agg("sk", F.lit(False))).alias("m")).collect()[0]["m"]
    direct = ev.agg(F.hll_sketch_estimate(
        F.hll_sketch_agg("user_id", F.lit(14))).alias("d")).collect()[0]["d"]
    exact = ev.select("user_id").distinct().count()
    assert abs(merged - direct) <= 0.005 * max(direct, 1.0)
    assert abs(merged - exact) <= 0.02 * max(exact, 1)


def test_pq_encode_roundtrip_properties(spark, tables):
    # codes are m small ints from exactly one fused exchange, and equal
    # the unrolled least() text's codes (same argmin objective, same
    # (d, cell) tie-break)
    from bigslice_spark.operators.pq import pq_encode, pq_train
    from bigslice_spark.plans import count_exchanges
    from .unrolled_argmin import pq_encode_unrolled
    emb = tables["embeddings"]
    books = pq_train(emb, m=4, ksub=8, dim=64, iters=1)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    enc = pq_encode(emb, books, dim=64)
    assert count_exchanges(enc) == 1
    rows = enc.collect()
    assert all(len(r["codes"]) == 4 for r in rows)
    assert all(0 <= c < 8 for r in rows for c in r["codes"])
    again = {r["nid"]: list(r["codes"])
             for r in pq_encode_unrolled(emb, books, dim=64).collect()}
    assert len(again) == len(rows)
    assert all(list(r["codes"]) == again[r["nid"]] for r in rows)


def test_pq_joint_train_matches_per_subspace_kmeans(spark, tables):
    # the joint one-job-per-iteration trainer is bitwise-identical to
    # m independent clustering.kmeans_train loops over the sliced
    # subvectors (same seeded init, fold distances, decimal means)
    import pyspark.sql.functions as F
    from bigslice_spark.operators.clustering import kmeans_train
    from bigslice_spark.operators.pq import _normed, pq_train
    emb = tables["embeddings"]
    books = pq_train(emb, m=4, ksub=8, dim=64, iters=2)
    unit = _normed(emb, "embedding", "vec_id")
    for j in range(4):
        sub = unit.select(F.col("nid").alias("vec_id"),
                          F.slice("v", j * 16 + 1, 16).alias("sub"))
        ref = kmeans_train(sub, k=8, dim=16, iters=2, vec_col="sub",
                           id_col="vec_id", seed=7 + j)
        assert books[j] == ref, f"subspace {j} diverged"


def test_pq_train_sample_mod_is_deterministic_subset(spark, tables):
    # sample_mod trains on the xxhash64 % mod == 0 slice — the same
    # codebooks as training on that pre-filtered corpus directly
    import pyspark.sql.functions as F
    from bigslice_spark.operators.pq import pq_train
    emb = tables["embeddings"]
    sampled = pq_train(emb, m=4, ksub=8, dim=64, iters=1,
                       sample_mod=2)
    manual = pq_train(
        emb.filter(F.pmod(F.xxhash64(F.col("vec_id")), 2) == 0),
        m=4, ksub=8, dim=64, iters=1)
    assert sampled == manual


def test_pq_topk_beats_random_and_reranks_exact(spark, tables):
    import pyspark.sql.functions as F
    from bigslice_spark.operators.pq import pq_topk, pq_train
    from bigslice_spark.operators.similarity import brute_force_topk
    emb = tables["embeddings"]
    qs = emb.filter(F.col("vec_id") < 3)
    books = pq_train(emb, m=8, ksub=16, dim=64, iters=2)
    pq = pq_topk(emb, qs, books, k=10, dim=64, oversample=16)
    bf = brute_force_topk(emb, qs, k=10)
    # exact cosine on returned rows: PQ's cosine for a (qid, nid) it
    # shares with brute force must MATCH brute force's bitwise
    bfv = {(r["qid"], r["nid"]): r["cosine"] for r in bf.collect()}
    hits = 0
    for r in pq.collect():
        key = (r["qid"], r["nid"])
        if key in bfv:
            hits += 1
            assert r["cosine"] == bfv[key]
    assert hits >= 15, hits  # recall >= 0.5 over 3 queries x 10


def test_resize_rgb_box_and_nearest_exact():
    import numpy as np
    from bigslice_spark.operators.multimodal import resize_rgb
    # 4x4 -> 2x2 box mean, hand-checked
    a = np.arange(4 * 4 * 3, dtype=np.uint8)
    out = np.frombuffer(resize_rgb(a.tobytes(), 4, 4, 2, 2), np.uint8)
    g = a.reshape(4, 4, 3)
    want = []
    for y in (0, 2):
        for x in (0, 2):
            for c in range(3):
                s = int(g[y, x, c]) + int(g[y, x+1, c]) \
                    + int(g[y+1, x, c]) + int(g[y+1, x+1, c])
                want.append(s // 4)
    assert out.tolist() == want
    # 4x4 -> 3x3 nearest: index map (i*4)//3 = 0,1,2
    out3 = np.frombuffer(resize_rgb(a.tobytes(), 4, 4, 3, 3),
                         np.uint8).reshape(3, 3, 3)
    for y in range(3):
        for x in range(3):
            assert (out3[y, x] == g[(y*4)//3, (x*4)//3]).all()
    # identity
    assert resize_rgb(a.tobytes(), 4, 4, 4, 4) == a.tobytes()
    # upscale nearest duplicates rows/cols
    up = np.frombuffer(resize_rgb(a.tobytes(), 4, 4, 8, 8),
                       np.uint8).reshape(8, 8, 3)
    assert (up[0, 0] == g[0, 0]).all() and (up[1, 1] == g[0, 0]).all()


def test_resize_images_end_to_end(spark):
    import numpy as np
    from bigslice_spark.operators.multimodal import make_ppm, resize_images
    px = bytes(range(192))                       # 8x8x3
    df = spark.createDataFrame([(1, make_ppm(8, 8, px))],
                               "doc_id long, media binary")
    r = resize_images(df, 4, 4).collect()[0]
    a = np.frombuffer(px, np.uint8).reshape(8, 8, 3).astype(int)
    want = (a.reshape(4, 2, 4, 2, 3).sum(axis=(1, 3)) // 4) \
        .astype(np.uint8).tobytes()
    assert bytes(r["raster"]) == want and r["width"] == 4
    # id type derives from the input schema: a string id round-trips
    sdf = spark.createDataFrame([("img-1", make_ppm(8, 8, px))],
                                "doc_id string, media binary")
    sr = resize_images(sdf, 4, 4).collect()[0]
    assert sr["doc_id"] == "img-1" and bytes(sr["raster"]) == want


def test_code_detect_discriminates(spark):
    """code_detect (operators/text.py): real code trips the verdict,
    prose does not, and single-signal lookalikes (math-symbol prose,
    indented poetry) are rejected for lack of corroboration."""
    from bigslice_spark.operators.text import code_detect
    docs = [
        (1, "def add(a, b):\n    return a + b\n\n"
            "class Greeter:\n    def hi(self):\n"
            "        print('hi');\n        x = [1, 2];\n"),
        (2, "const greet = (name) => {\n    let msg = name;\n"
            "    return msg;\n};\n"),
        (3, "The quick brown fox jumps over the lazy dog. It was a "
            "bright cold day in April and the clocks were striking "
            "thirteen across the town."),
        # math-heavy prose: symbols without structure or keywords
        (4, "x = y = z = (1) = [2] = {3} <> ok " * 5),
        # poetry: indentation without symbol density
        (5, "    roses are red\n    violets are blue\n"
            "    sugar is sweet\n    and so are you\n"),
        # empty / whitespace-only docs are NOT code (degenerate 0>=0
        # ratios must not fire — r11 review finding)
        (6, ""),
        (7, "   \n\t\n"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in code_detect(df).collect()}
    assert out[1]["is_code"] and out[2]["is_code"]
    assert not out[3]["is_code"]
    assert out[4]["r_symbols"] and not out[4]["is_code"]
    assert out[5]["r_indent"] and not out[5]["is_code"]
    assert not out[6]["is_code"] and not out[6]["r_symbols"]
    assert not out[6]["r_indent"]
    assert not out[7]["is_code"]          # no symbol density: no code
    # counts are exact, not heuristic: verify one by hand
    assert out[3]["n_sym"] == 0 and out[3]["n_kw"] == 0


def test_code_detect_plan_zero_shuffle(spark):
    """code_detect is one codegen projection: no exchange, no Python
    eval nodes at any corpus size."""
    from bigslice_spark.operators.text import code_detect
    df = spark.createDataFrame([(1, "def f():\n    return 1")],
                               "doc_id long, text string")
    plan = code_detect(df)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "Exchange" not in plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan


def test_c4_filters_rules_fire_both_ways(spark):
    """c4_filters (operators/text.py): line retention keeps prose
    sentences and drops short/unterminated/javascript lines; page
    flags catch lorem/brace/blocklist; clean multi-sentence pages
    pass."""
    from bigslice_spark.operators.text import c4_filters
    good = ("This is a perfectly normal prose sentence here.\n"
            "Another full sentence follows the first one!\n"
            "Does a third sentence complete the page?")
    docs = [
        (1, good),                                   # passes
        (2, "one two three four.\nshort.\nno terminal punct here"),
        (3, good + "\nlorem ipsum dolor sit amet today."),
        (4, good + "\ntemplate { braces } in the page today."),
        (5, good.replace("normal", "nsfw")),          # blocklist word
        (6, "Please enable javascript to view this page now.\n" + good),
        (7, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_filters(df).collect()}
    assert out[1]["passes"] and out[1]["n_kept"] == 3
    assert out[1]["n_sentences"] == 3
    # doc 2: first line has only 4 words -> dropped; others dropped too
    assert out[2]["n_kept"] == 0 and not out[2]["passes"]
    assert not out[3]["r_no_lorem"] and not out[3]["passes"]
    assert not out[4]["r_no_brace"] and not out[4]["passes"]
    assert not out[5]["r_no_badwords"] and not out[5]["passes"]
    # javascript line is dropped from kept_text but page still passes
    assert out[6]["n_kept"] == 3 and out[6]["passes"]
    assert "javascript" not in out[6]["kept_text"]
    assert out[7]["n_kept"] == 0 and not out[7]["passes"]


def test_c4_filters_plan_zero_shuffle(spark):
    """c4_filters is one codegen projection: no exchange, no Python
    eval nodes at any corpus size."""
    from bigslice_spark.operators.text import c4_filters
    df = spark.createDataFrame([(1, "A full sentence sits here.")],
                               "doc_id long, text string")
    plan = c4_filters(df)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "Exchange" not in plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan


def test_split_sentences_trim_fragment_empty(spark):
    """split_sentences (operators/text.py): trailing unterminated
    fragments are kept, sentences are TRIMMED (regression: passing
    F.trim to F.transform invokes two-parameter TRIM with the element
    index as the trim set), punctuation-only remainders drop, and
    empty docs yield no rows."""
    from bigslice_spark.operators.text import split_sentences
    docs = [
        (1, "First one here.   Second one!   trailing fragment"),
        (2, "Ends on punctuation. "),
        (3, ""),
        (4, "no punctuation at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {}
    for r in split_sentences(df).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["sent_idx"], r["sentence"], r["n_words"]))
    for v in out.values():
        v.sort()
    assert out[1] == [(0, "First one here.", 3),
                      (1, "Second one!", 2),
                      (2, "trailing fragment", 2)]
    assert out[2] == [(0, "Ends on punctuation.", 3)]
    assert 3 not in out and out[4] == [(0, "no punctuation at all", 4)]


def test_c4_filters_trims_line_whitespace(spark):
    """Indented prose lines still count as retained sentences (the
    same transform/trim regression, on the line path)."""
    from bigslice_spark.operators.text import c4_filters
    df = spark.createDataFrame(
        [(1, "   An indented full prose sentence sits here.   \n"
             "   A second indented sentence follows it now!   \n"
             "   And a third one closes out the page.   ")],
        "doc_id long, text string")
    row = c4_filters(df).collect()[0]
    assert row["n_kept"] == 3 and row["passes"]
    assert row["kept_text"].startswith("An indented")


def test_zip_reader_multi_archive_and_corruption(spark, tmp_path):
    """zip_reader (sources/__init__.py): entries from SEVERAL archives
    in one directory land with their archive attribution, directories
    are skipped, stored and deflated bodies inflate byte-exactly, and
    a corrupt central directory raises instead of yielding rows."""
    import zipfile

    import pytest as _pytest

    from bigslice_spark.sources import zip_reader
    a = tmp_path / "one.zip"
    with zipfile.ZipFile(a, "w") as zf:
        zf.writestr("d/", "")
        zf.writestr(zipfile.ZipInfo("d/x.bin"), b"\x00\x01\x02" * 100,
                    compress_type=zipfile.ZIP_DEFLATED)
    b = tmp_path / "two.zip"
    with zipfile.ZipFile(b, "w") as zf:
        zf.writestr(zipfile.ZipInfo("y.txt"), b"hello",
                    compress_type=zipfile.ZIP_STORED)
    rows = {r["name"]: r for r in
            zip_reader(spark, str(tmp_path)).collect()}
    assert set(rows) == {"d/x.bin", "y.txt"}
    assert bytes(rows["d/x.bin"]["body"]) == b"\x00\x01\x02" * 100
    assert rows["d/x.bin"]["method"] == "deflate"
    assert rows["d/x.bin"]["compressed"] < rows["d/x.bin"]["size"]
    assert rows["y.txt"]["method"] == "stored"
    assert rows["y.txt"]["size"] == 5
    # truncate archive two -> the task must fail loudly
    raw = b.read_bytes()
    b.write_bytes(raw[: len(raw) // 2])
    with _pytest.raises(Exception):
        zip_reader(spark, str(tmp_path)).collect()


def test_avro_reader_spark_and_contracts(spark, tmp_path):
    """avro_reader (sources/avro.py): multi-file reads land with the
    pinned schema, writer-schema name mismatches raise, unsupported
    constructs raise BY NAME, and spec varint test vectors hold."""
    import json

    import pytest as _pytest

    from bigslice_spark.sources.avro import (avro_reader, make_avro,
                                             read_avro_blob)
    sch = json.dumps({"type": "record", "name": "t", "fields": [
        {"name": "k", "type": "long"},
        {"name": "v", "type": ["null", "string"]}]})
    (tmp_path / "a.avro").write_bytes(
        make_avro(sch, [(1, "x"), (2, None)], codec="deflate"))
    (tmp_path / "b.avro").write_bytes(
        make_avro(sch, [(3, "z")], codec="null"))
    got = sorted((r["k"], r["v"]) for r in avro_reader(
        spark, str(tmp_path), "k long, v string").collect())
    assert got == [(1, "x"), (2, None), (3, "z")]
    with _pytest.raises(Exception, match="writer schema"):
        avro_reader(spark, str(tmp_path), "k long, other string") \
            .collect()
    # honest raises, by name
    weird = json.dumps({"type": "record", "name": "t", "fields": [
        {"name": "e", "type": {"type": "decimalish"}}]})
    with _pytest.raises(NotImplementedError, match="complex type"):
        make_avro(weird, [])
    with _pytest.raises(NotImplementedError, match="codec"):
        make_avro(sch, [], codec="lz4")     # unknown codec
    # every supported codec round-trips; zstd writes the SPEC name
    # "zstandard" into avro.codec (r13b interop fix)
    for c in ("zstd", "zstandard", "bzip2", "xz"):
        blob = make_avro(sch, [(9, "z")], codec=c)
        if c.startswith("zst"):
            assert b"zstandard" in blob and b'"zstd"' not in blob
        _, rt = read_avro_blob(blob)
        assert rt == [(9, "z")]
    u3 = json.dumps({"type": "record", "name": "t", "fields": [
        {"name": "u", "type": ["null", "long", "string"]}]})
    with _pytest.raises(NotImplementedError, match="union"):
        make_avro(u3, [])
    # bad magic
    with _pytest.raises(ValueError, match="bad magic"):
        read_avro_blob(b"PAR1" + b"\x00" * 32)


def test_avro_complex_types_snappy_and_union_order(spark, tmp_path):
    """avro (sources/avro.py, round-12 extension): arrays/maps/nested
    records round-trip, VALUE-FIRST null unions decode per their
    declared branch order (ADVICE r11 — branch index is the position
    in the union array, not a hardcoded null=0), the snappy codec
    round-trips with its big-endian CRC32 trailer, and a flipped
    payload bit raises the CRC mismatch."""
    import json

    import pytest as _pytest

    from bigslice_spark.sources.avro import (avro_reader, make_avro,
                                             read_avro_blob,
                                             snappy_decompress)
    sch = json.dumps({"type": "record", "name": "t", "fields": [
        {"name": "k", "type": "long"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "props", "type": {"type": "map", "values": "long"}},
        {"name": "info", "type": {
            "type": "record", "name": "info_t", "fields": [
                {"name": "name", "type": "string"},
                {"name": "len", "type": "long"}]}},
        # value-first union: branch 0 = string, branch 1 = null
        {"name": "c", "type": ["string", "null"]}]})
    rows = [
        (1, ["a", "b"], {"x": 7, "y": -2}, {"name": "n1", "len": 2},
         "hello"),
        (2, [], {}, {"name": "", "len": 0}, None),
    ]
    for codec in ("null", "deflate", "snappy"):
        blob = make_avro(sch, rows, codec=codec, block_rows=1)
        _, got = read_avro_blob(blob)
        assert got == rows, codec
    # spark read-back with complex DDL (commas inside types exercise
    # ddl_field_names) — scalars projected out for value checks
    (tmp_path / "c.avro").write_bytes(
        make_avro(sch, rows, codec="snappy"))
    df = avro_reader(
        spark, str(tmp_path),
        "k long, tags array<string>, props map<string,long>, "
        "info struct<name:string,len:long>, c string")
    out = {r["k"]: r for r in df.collect()}
    assert list(out[1]["tags"]) == ["a", "b"]
    assert dict(out[1]["props"]) == {"x": 7, "y": -2}
    assert out[1]["info"]["name"] == "n1"
    assert out[1]["c"] == "hello" and out[2]["c"] is None
    # snappy CRC integrity: corrupt one payload byte inside the block
    blob = bytearray(make_avro(sch, rows, codec="snappy"))
    # find the block payload (after header sync); flip a late byte
    # (the last 20 bytes before the trailing sync include payload)
    blob[-25] ^= 0xFF
    with _pytest.raises(ValueError,
                        match="CRC mismatch|truncated|snappy|sync"):
        read_avro_blob(bytes(blob))
    # enum/fixed structural contracts: out-of-vocabulary enum value
    # and wrong-size fixed raise on ENCODE; a corrupt enum index
    # raises on DECODE
    ef = json.dumps({"type": "record", "name": "t", "fields": [
        {"name": "g", "type": {"type": "enum", "name": "G",
                               "symbols": ["A", "B"]}},
        {"name": "f", "type": {"type": "fixed", "name": "F2",
                               "size": 2}}]})
    blob = make_avro(ef, [("B", b"xy")])
    _, got = read_avro_blob(blob)
    assert got == [("B", b"xy")]
    with _pytest.raises(ValueError, match="enum symbols"):
        make_avro(ef, [("Z", b"xy")])
    with _pytest.raises(ValueError, match="fixed"):
        make_avro(ef, [("A", b"xyz")])
    # the encoded enum index for "B" is zigzag(1)=2; patch it to an
    # out-of-range zigzag(9)=18 and decode must reject
    bad_e = blob.replace(b"\x02xy", b"\x12xy")
    with _pytest.raises(ValueError, match="enum index"):
        read_avro_blob(bad_e)
    # snappy copy elements (the decoder half real compressors emit):
    # literal "abcd" + copy1(len=4, off=4) -> "abcdabcd"
    enc = bytes([8, (3 << 2), ord("a"), ord("b"), ord("c"), ord("d"),
                 (0 << 5) | ((4 - 4) << 2) | 1, 4])
    assert snappy_decompress(enc) == b"abcdabcd"
    # overlapping copy (run-length): literal "x" + copy1(len=5, off=1)
    enc = bytes([6, (0 << 2), ord("x"), ((5 - 4) << 2) | 1, 1])
    assert snappy_decompress(enc) == b"xxxxxx"


_AVRO_STR_SCHEMA = ('{"type": "record", "name": "t", "fields": '
                    '[{"name": "s", "type": "string"}]}')


def _avro_one_block(codec, data, count=1):
    """A ``codec`` container of one string column whose only block
    holds ``count`` rows in the payload ``data``."""
    from bigslice_spark.sources.avro import _write_long, make_avro
    blob = bytearray(make_avro(_AVRO_STR_SCHEMA, [], codec=codec))
    _write_long(blob, count)
    _write_long(blob, len(data))
    return bytes(blob + data + b"0123456789abcdef")


@pytest.mark.parametrize("codec",
                         ["deflate", "snappy", "zstandard", "bzip2", "xz"])
def test_avro_corrupt_block_raises_value_error(codec):
    """A flipped or truncated block payload raises the container's
    ValueError contract for every compressed codec, not the codec
    library's own error type."""
    from bigslice_spark.sources.avro import (_read_long, make_avro,
                                             read_avro_blob)
    rows = [(f"row {i} " * 5,) for i in range(200)]
    head = len(make_avro(_AVRO_STR_SCHEMA, [], codec=codec))
    blob = make_avro(_AVRO_STR_SCHEMA, rows, codec=codec)
    count, i = _read_long(blob, head)
    size, i = _read_long(blob, i)
    payload = blob[i:i + size]
    assert read_avro_blob(_avro_one_block(codec, payload, count))[1] \
        == rows
    flipped = bytes([payload[0] ^ 0xFF]) + payload[1:]
    for data in (flipped, payload[:size // 2]):
        with pytest.raises(ValueError, match=f"avro: {codec} block"):
            read_avro_blob(_avro_one_block(codec, data, count))


def test_avro_snappy_preamble_checked_before_decode():
    """The snappy length preamble is validated against the block
    before anything is allocated, and must equal the decoded length."""
    import zlib

    from bigslice_spark.sources.avro import read_avro_blob
    # preamble = 2**34 bytes (varint) over a 3-byte literal body
    huge = bytes([0x80, 0x80, 0x80, 0x80, 0x40]) + bytes([4, 0x61, 0x62])
    with pytest.raises(ValueError, match="preamble"):
        read_avro_blob(_avro_one_block(
            "snappy", huge + zlib.crc32(b"ab").to_bytes(4, "big")))
    # preamble says 10 bytes; literal "x" + copy1(len=5, off=1) is 6
    short = bytes([10, 0, ord("x"), (1 << 2) | 1, 1])
    with pytest.raises(ValueError, match="avro: snappy block"):
        read_avro_blob(_avro_one_block(
            "snappy", short + zlib.crc32(b"x" * 6).to_bytes(4, "big")))


def test_protobuf_reader_nested_and_repeated_columns(spark, tmp_path):
    """protobuf_reader (r12b): repeated primitives land as Spark
    ARRAY columns and nested messages as STRUCT columns (None for
    absent — proto3 presence), through the Arrow conversion with a
    complex pinned DDL."""
    from bigslice_spark.sources.protobuf import (make_delimited,
                                                 protobuf_reader)
    geo = {1: ("lat", "sint64"), 2: ("lon", "sint64")}
    sch = {1: ("k", "int64"), 2: ("tags", "repeated string"),
           3: ("geo", geo)}
    rows = [{"k": 1, "tags": ["a", "b"], "geo": {"lat": -3, "lon": 9}},
            {"k": 2, "tags": [], "geo": None}]
    (tmp_path / "a.pb").write_bytes(make_delimited(sch, rows))
    got = {r["k"]: r for r in protobuf_reader(
        spark, str(tmp_path), sch,
        "k long, tags array<string>, geo struct<lat:long,lon:long>")
        .collect()}
    assert list(got[1]["tags"]) == ["a", "b"]
    assert (got[1]["geo"]["lat"], got[1]["geo"]["lon"]) == (-3, 9)
    assert list(got[2]["tags"]) == [] and got[2]["geo"] is None


def test_tfrecord_crc_vectors_and_spark(spark, tmp_path):
    """tfrecord (sources/tfrecord.py): public CRC32C vectors hold,
    multi-file reads land ordered per file, and a flipped payload bit
    raises on read (the format's integrity contract)."""
    import pytest as _pytest

    from bigslice_spark.sources.tfrecord import (crc32c, make_tfrecord,
                                                 tfrecord_reader)
    assert crc32c(b"123456789") == 0xE3069283      # RFC 3720 vector
    assert crc32c(b"\x00" * 32) == 0x8A9136AA      # iSCSI zero block
    (tmp_path / "a.tfrecord").write_bytes(
        make_tfrecord([b"alpha", b"beta"]))
    (tmp_path / "b.tfrecord").write_bytes(make_tfrecord([b"\x00\xff"]))
    rows = sorted((r["record"], bytes(r["payload"]))
                  for r in tfrecord_reader(spark, str(tmp_path))
                  .collect())
    assert rows == [(0, b"\x00\xff"), (0, b"alpha"), (1, b"beta")]
    blob = bytearray(make_tfrecord([b"corrupt me"]))
    blob[14] ^= 1
    (tmp_path / "b.tfrecord").write_bytes(bytes(blob))
    with _pytest.raises(Exception, match="CRC mismatch"):
        tfrecord_reader(spark, str(tmp_path)).collect()


def test_webdataset_grouping_semantics(spark, tmp_path):
    """webdataset_samples (sources): key = basename to FIRST dot with
    directory prefix kept; multi-dot exts survive whole; extensionless
    members group under ext ''."""
    import io
    import tarfile

    from bigslice_spark.sources import webdataset_samples
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, body in [("s/0001.jpg", b"IMG1"),
                           ("s/0001.meta.json", b"{}"),
                           ("t/0001.jpg", b"OTHERDIR"),
                           ("noext", b"X")]:
            info = tarfile.TarInfo(name=name)
            info.size = len(body)
            tf.addfile(info, io.BytesIO(body))
    (tmp_path / "w.tar").write_bytes(buf.getvalue())
    rows = {r["key"]: {e: bytes(b) for e, b in r["parts"].items()}
            for r in webdataset_samples(spark, str(tmp_path)).collect()}
    assert rows == {
        "s/0001": {"jpg": b"IMG1", "meta.json": b"{}"},
        "t/0001": {"jpg": b"OTHERDIR"},
        "noext": {"": b"X"},
    }


def test_image_dhash_invariance_and_pairs(spark):
    """image_dhash (operators/imagehash.py): the hash is identical
    across PPM/BMP/PNG encodings of the same pixels (decode
    invariance), a small perturbation moves it only a few bits, a
    different image is far, and dhash_pairs finds exactly the near
    pair via the banded join."""
    from bigslice_spark.operators.imagehash import (dhash_bytes,
                                                    dhash_pairs,
                                                    image_dhash)
    from bigslice_spark.operators.multimodal import (make_bmp, make_png,
                                                     make_ppm)

    def pix(seed, delta=0):
        out = bytearray()
        for y in range(16):
            for x in range(18):
                r = (seed*53 + x*x*13 + y*29
                     + (delta*53 if x == 8 else 0)) % 256
                g = (seed*13 + x*29 + y*y*53) % 256
                b = (seed*29 + x*53 + y*13) % 256
                out += bytes((r, g, b))
        return bytes(out)

    base = pix(4)
    h_ppm = dhash_bytes(make_ppm(18, 16, base))
    assert h_ppm == dhash_bytes(make_bmp(18, 16, base))
    assert h_ppm == dhash_bytes(make_png(18, 16, base))
    near = dhash_bytes(make_ppm(18, 16, pix(4, delta=7)))
    far = dhash_bytes(make_ppm(18, 16, pix(9)))
    assert 0 <= bin(h_ppm ^ near).count("1") <= 3
    assert bin(h_ppm ^ far).count("1") > 3
    df = spark.createDataFrame(
        [(1, bytearray(make_ppm(18, 16, base))),
         (2, bytearray(make_ppm(18, 16, pix(4, delta=7)))),
         (3, bytearray(make_ppm(18, 16, pix(9))))],
        "id long, media binary")
    hashes = image_dhash(df)
    got = {(r["a"], r["b"]): r["hamming"]
           for r in dhash_pairs(hashes).collect()}
    assert set(got) == {(1, 2)}


def test_dhash_pairs_plan_no_cartesian(spark):
    """The pair stage must be a banded equi-join — no cartesian/BNL
    node at any corpus size."""
    from bigslice_spark.operators.imagehash import dhash_pairs
    hashes = spark.createDataFrame(
        [(1, 7), (2, 5)], "id long, dhash long")
    plan = dhash_pairs(hashes)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_video_dhash_and_pairs(spark):
    """video_dhash/video_pairs (operators/imagehash.py): GIF frames
    hash losslessly, a clip sharing 3 of 4 frames pairs up, an
    unrelated clip does not, and MJPEG clips go through the same
    path; geometry mismatches raise."""
    import pytest as _pytest

    from bigslice_spark.operators.gif import make_gif
    from bigslice_spark.operators.imagehash import (video_dhash,
                                                    video_pairs)

    def raster(seed, f):
        out = bytearray()
        for y in range(16):
            for x in range(18):
                c = (x + 2 * y + seed * 5 + f * 11) % 24
                out += bytes(((c * 37) % 256, (c * 59 + 7) % 256,
                              (c * 83 + 13) % 256))
        return bytes(out)

    base = [raster(2, f) for f in range(4)]
    variant = [raster(9, 0)] + base[1:]          # shares frames 1..3
    other = [raster(5, f) for f in range(4)]
    df = spark.createDataFrame(
        [(1, bytearray(make_gif(18, 16, base))),
         (2, bytearray(make_gif(18, 16, variant))),
         (3, bytearray(make_gif(18, 16, other)))],
        "id long, media binary")
    frames = video_dhash(df, width=18, height=16)
    assert frames.count() == 12
    pairs = {(r["a"], r["b"]): r["shared_frames"]
             for r in video_pairs(frames).collect()}
    assert pairs == {(1, 2): 3}
    with _pytest.raises(Exception, match="geometry"):
        video_dhash(df, width=8, height=8).collect()


def test_exact_auc_matches_pair_counting(spark):
    """exact_auc (operators/classify.py): the midrank rational equals
    all-pairs tie-aware counting (0.5 per tied pair), perfect and
    inverted orderings hit 1.0/0.0, and the num/den ints divide to
    the reported double exactly."""
    import random

    from bigslice_spark.operators.classify import exact_auc
    random.seed(11)
    rows = [(random.choice([0.1, 0.2, 0.5, 0.5, 0.8]),
             random.randint(0, 1)) for _ in range(300)]
    df = spark.createDataFrame(rows, "score double, label int")
    r = exact_auc(df).collect()[0]
    pos = [s for s, l in rows if l == 1]
    neg = [s for s, l in rows if l == 0]
    ref = sum(1.0 if p > n else 0.5 if p == n else 0.0
              for p in pos for n in neg) / (len(pos) * len(neg))
    assert r["auc"] == r["auc_num"] / r["auc_den"] == ref
    perfect = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)],
        "score double, label int")
    assert exact_auc(perfect).collect()[0]["auc"] == 1.0
    inverted = spark.createDataFrame(
        [(0.1, 1), (0.9, 0)], "score double, label int")
    assert exact_auc(inverted).collect()[0]["auc"] == 0.0


def test_eval_thresholds_empty_class_nulls(spark):
    """0/0 ratios surface as NULL, never a fake number."""
    from bigslice_spark.operators.classify import eval_thresholds
    df = spark.createDataFrame([(0.9, 1), (0.8, 1)],
                               "score double, label int")
    rows = {r["threshold"]: r
            for r in eval_thresholds(df, thresholds=(0.5,)).collect()}
    r = rows[0.5]
    assert r["tp"] == 2 and r["fp"] == 0 and r["tn"] == 0
    assert r["precision"] == 1.0 and r["recall"] == 1.0
    high = eval_thresholds(df, thresholds=(0.95,)).collect()[0]
    assert high["tp"] == 0 and high["precision"] is None


def test_unigram_viterbi_objective_vs_bruteforce():
    """viterbi_segment (operators/unigram.py): equals exhaustive
    search under the exact integer objective (fewest pieces, then
    max summed count, then longest-first/smallest-i) for every word
    up to length 8 over a small vocab."""
    from itertools import combinations

    from bigslice_spark.operators.unigram import (_NPIECE_SHIFT,
                                                  viterbi_segment)
    vocab = {"ab": 5, "bc": 5, "abc": 3, "cd": 9, "abcd": 1,
             "a": 0, "b": 0, "c": 0, "d": 0}

    def brute(word):
        n = len(word)
        best = None
        for k in range(n):             # k split points
            for cuts in combinations(range(1, n), k):
                pts = [0, *cuts, n]
                pieces = [word[pts[i]:pts[i + 1]]
                          for i in range(len(pts) - 1)]
                if any(len(p) > 4 or (len(p) > 1 and p not in vocab)
                       for p in pieces):
                    continue
                score = (-(len(pieces) << _NPIECE_SHIFT)
                         + sum(vocab.get(p, 0) for p in pieces))
                # tiebreak: longest FINAL piece, recursively ==
                # lexicographically largest REVERSED length sequence
                key = (score, tuple(len(p) for p in reversed(pieces)))
                if best is None or key > best[0]:
                    best = (key, pieces)
        return best[1]

    for word in ("abcd", "abcdcd", "abcabc", "dddd", "abccd",
                 "dcba", "abcdabcd"):
        assert viterbi_segment(word, vocab) == brute(word), word


def test_unigram_train_and_token_counts(spark):
    """train_unigram: EM keeps coverage (every word still segments),
    compounds split at real word boundaries, and token counts join
    back exactly."""
    from bigslice_spark.operators.unigram import (train_unigram,
                                                  unigram_token_counts,
                                                  viterbi_segment)
    docs = [(i, "fast scan fastscan tablekey table key")
            for i in range(4)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    _vocab, counts = train_unigram(df, iters=2, seed_top=50,
                                   min_word_count=2)
    assert viterbi_segment("fastscan", counts) == ["fast", "scan"]
    # 'table' exceeds max_piece=4, so the best 2-piece split under
    # the objective is tabl+ekey (fewest pieces dominates)
    assert viterbi_segment("tablekey", counts) == ["tabl", "ekey"]
    tc = {r["doc_id"]: (r["n_words"], r["n_tokens"])
          for r in unigram_token_counts(df, counts).collect()}
    n_tok = sum(len(viterbi_segment(w, counts))
                for w in "fast scan fastscan tablekey table key"
                .split())
    assert all(v == (6, n_tok) for v in tc.values())


def test_avro_schema_resolution(spark, tmp_path):
    """Schema Resolution (sources/avro.py, r14 — the Avro spec's
    reader-vs-writer rules): name/alias field matching across
    reorders, reader defaults for writer-missing fields, writer-only
    field drop, primitive promotion (int->long/double,
    string<->bytes), nested records / arrays / null unions, and
    honest ValueErrors on unresolvable pairs."""
    import json

    import pytest as _pytest

    from bigslice_spark.sources.avro import (avro_reader, make_avro,
                                             read_avro_blob)

    w1 = json.dumps({"type": "record", "name": "t", "fields": [
        {"name": "name", "type": "string"},
        {"name": "key", "type": "int"},
        {"name": "junk", "type": "string"}]})
    w2 = json.dumps({"type": "record", "name": "t", "fields": [
        {"name": "key", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "region", "type": "long"}]})
    reader = json.dumps({"type": "record", "name": "t", "fields": [
        {"name": "key", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "region", "type": "long", "default": 99}]})
    (tmp_path / "v1.avro").write_bytes(
        make_avro(w1, [("a", 1, "x"), ("b", 2, "y")], codec="deflate"))
    (tmp_path / "v2.avro").write_bytes(
        make_avro(w2, [(3, "c", 7)], codec="null"))
    got = sorted(tuple(r) for r in avro_reader(
        spark, str(tmp_path), "key long, name string, region long",
        reader_schema=reader).collect())
    assert got == [(1, "a", 99), (2, "b", 99), (3, "c", 7)]

    blob = make_avro(w1, [("a", 5, "x")])
    # aliases + promotion to double + string->bytes
    r2 = json.dumps({"type": "record", "name": "t", "fields": [
        {"name": "k2", "aliases": ["key"], "type": "double"},
        {"name": "name", "type": "bytes"}]})
    fields, rows = read_avro_blob(blob, r2)
    assert [n for n, _ in fields] == ["k2", "name"]
    assert rows == [(5.0, b"a")]
    # nested record + array + union resolution
    w3 = json.dumps({"type": "record", "name": "o", "fields": [
        {"name": "rec", "type": {"type": "record", "name": "i",
                                 "fields": [
            {"name": "a", "type": "int"},
            {"name": "b", "type": "string"}]}},
        {"name": "xs", "type": {"type": "array", "items": "int"}},
        {"name": "u", "type": ["null", "int"]}]})
    r3 = json.dumps({"type": "record", "name": "o", "fields": [
        {"name": "rec", "type": {"type": "record", "name": "i",
                                 "fields": [
            {"name": "b", "type": "string"},
            {"name": "c", "type": "long", "default": -1}]}},
        {"name": "xs", "type": {"type": "array", "items": "double"}},
        {"name": "u", "type": ["null", "long"]}]})
    blob3 = make_avro(w3, [({"a": 1, "b": "z"}, [1, 2], None),
                           ({"a": 2, "b": "w"}, [], 9)])
    _, rows3 = read_avro_blob(blob3, r3)
    assert rows3 == [({"b": "z", "c": -1}, [1.0, 2.0], None),
                     ({"b": "w", "c": -1}, [], 9)]
    # unresolvable pairs raise by name
    with _pytest.raises(ValueError, match="absent from the writer"):
        read_avro_blob(blob, json.dumps({
            "type": "record", "name": "t", "fields": [
                {"name": "nope", "type": "long"}]}))
    with _pytest.raises(ValueError, match="cannot promote"):
        read_avro_blob(make_avro(w2, [(1, "a", 2)]), json.dumps({
            "type": "record", "name": "t", "fields": [
                {"name": "key", "type": "int"}]}))
    # writer null where the reader dropped the null branch
    wu = json.dumps({"type": "record", "name": "t", "fields": [
        {"name": "u", "type": ["null", "int"]}]})
    ru = json.dumps({"type": "record", "name": "t", "fields": [
        {"name": "u", "type": "long"}]})
    with _pytest.raises(ValueError, match="null branch"):
        read_avro_blob(make_avro(wu, [(None,)]), ru)
    # but non-null values resolve fine through the de-null path
    _, ok = read_avro_blob(make_avro(wu, [(4,)]), ru)
    assert ok == [(4,)]
