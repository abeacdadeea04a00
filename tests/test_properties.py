"""Property-based tests (Hypothesis) mirroring the reference's
testing/quick + gofuzz strategy (SURVEY §5.3): random (nshard,
key→values) inputs asserting aggregate invariants, as in the
reference's example/max_test.go:20-121 and randomized reshuffle tests
(reshuffle_test.go).

Inputs deliberately include the reference corpus's edge cases: empty
string key, unicode keys, negative/zero values, heavy key skew."""

import os

from collections import Counter, defaultdict

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings, strategies as st

KEYS = st.sampled_from(["", "a", "b", "hot", "ключ", "日本語", "x y"])
VALS = st.integers(min_value=-(2**40), max_value=2**40)
PAIRS = st.lists(st.tuples(KEYS, VALS), min_size=1, max_size=120)
NSHARD = st.integers(min_value=1, max_value=6)

PROP = settings(max_examples=5, deadline=None,
                suppress_health_check=list(HealthCheck))


def _const(session, pairs, nshard):
    keys = [k for k, _ in pairs]
    vals = [v for _, v in pairs]
    return session.const(nshard, keys, vals, names=["key", "val"],
                         schema="key string, val long")


@PROP
@given(pairs=PAIRS, nshard=NSHARD)
def test_reduce_sum_matches_python(session, pairs, nshard):
    """Mirror of example/max_test.go's quick-check: keyed reduce equals
    the per-key python fold for any input and any shard count."""
    got = {r["key"]: r["val"]
           for r in _const(session, pairs, nshard).reduce_("sum").df.collect()}
    want = defaultdict(int)
    for k, v in pairs:
        want[k] += v
    assert got == dict(want)


@PROP
@given(pairs=PAIRS, nshard=NSHARD)
def test_fold_min_max_count_matches_python(session, pairs, nshard):
    sl = _const(session, pairs, nshard).fold(aggs={
        "mn": F.min("val"), "mx": F.max("val"),
        "n": F.count(F.lit(1))})
    got = {r["key"]: (r["mn"], r["mx"], r["n"]) for r in sl.df.collect()}
    want = {}
    for k, v in pairs:
        mn, mx, n = want.get(k, (v, v, 0))
        want[k] = (min(mn, v), max(mx, v), n + 1)
    assert got == want


@PROP
@given(pairs=PAIRS, pairs_b=PAIRS, nshard=NSHARD)
def test_cogroup_full_outer_zero_groups(session, pairs, pairs_b, nshard):
    """Pin the reference's full-outer semantics (cogroup.go:244-258):
    every key from either input appears exactly once; a missing group is
    an EMPTY list, never null; groups hold the exact value multiset."""
    a = _const(session, pairs, nshard)
    b = _const(session, pairs_b, nshard)
    rows = a.cogroup(b).df.collect()
    want_a, want_b = defaultdict(list), defaultdict(list)
    for k, v in pairs:
        want_a[k].append(v)
    for k, v in pairs_b:
        want_b[k].append(v)
    all_keys = set(want_a) | set(want_b)
    assert {r["key"] for r in rows} == all_keys
    assert len(rows) == len(all_keys)
    for r in rows:
        ga, gb = r["g0"], r["g1"]
        assert ga is not None and gb is not None, "empty group must be []"
        assert sorted(x["val"] for x in ga) == sorted(want_a[r["key"]])
        assert sorted(x["val"] for x in gb) == sorted(want_b[r["key"]])


@PROP
@given(pairs=PAIRS, nshard=NSHARD, nshard2=NSHARD)
def test_reshuffle_reshard_preserve_rows(session, pairs, nshard, nshard2):
    """reshuffle/reshard move rows between shards but never change the
    row multiset (reshuffle_test.go's randomized invariant)."""
    sl = _const(session, pairs, nshard)
    base = Counter((r["key"], r["val"]) for r in sl.df.collect())
    resh = sl.reshuffle()
    assert Counter((r["key"], r["val"]) for r in resh.df.collect()) == base
    assert resh.num_shard() >= 1
    rs = sl.reshard(nshard2)
    assert Counter((r["key"], r["val"]) for r in rs.df.collect()) == base
    assert rs.num_shard() == nshard2


@PROP
@given(pairs=PAIRS, nshard=NSHARD, n=st.integers(min_value=1, max_value=8))
def test_head_per_shard_bound_and_subset(session, pairs, nshard, n):
    """Head is per-shard (reference slice.go:957-994): ≤ n rows from each
    of the nshard partitions, and every row comes from the input."""
    sl = _const(session, pairs, nshard)
    rows = Counter((r["key"], r["val"]) for r in sl.head(n).df.collect())
    base = Counter((r["key"], r["val"]) for r in sl.df.collect())
    assert sum(rows.values()) <= n * nshard
    assert all(rows[x] <= base[x] for x in rows)


@PROP
@given(pairs=PAIRS, nshard=NSHARD)
def test_repartition_func_preserves_rows(session, pairs, nshard):
    """Custom partition function (reference reshuffle.go:44-76): rows are
    placed by fn but the multiset is invariant."""
    sl = _const(session, pairs, max(1, nshard // 2))
    out = sl.repartition_func(nshard, F.crc32(F.col("key")) % nshard)
    base = Counter((r["key"], r["val"]) for r in sl.df.collect())
    assert Counter((r["key"], r["val"]) for r in out.df.collect()) == base


@PROP
@given(ids=st.lists(st.integers(min_value=-(2**40), max_value=2**40),
                    min_size=1, max_size=120, unique=True),
       nshard=NSHARD)
def test_hash_split_partition_and_determinism(session, spark, ids,
                                              nshard):
    """Every row gets exactly one split; assignment is a pure function
    of the id (repartition-invariant) in both hash modes."""
    from bigslice_spark.operators.sampling import hash_split
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long") \
        .repartition(nshard)
    for portable in (False, True):
        out = hash_split(df, portable=portable).collect()
        assert len(out) == len(ids)
        assign = {r["doc_id"]: r["split"] for r in out}
        assert set(assign.values()) <= {"train", "val", "test"}
        again = {r["doc_id"]: r["split"]
                 for r in hash_split(df.repartition(1),
                                     portable=portable).collect()}
        assert assign == again


@PROP
@given(rows=st.lists(st.tuples(KEYS,
                               st.integers(min_value=0, max_value=50)),
                     min_size=1, max_size=80),
       budget=st.integers(min_value=1, max_value=200))
def test_budget_sample_matches_python(session, spark, rows, budget):
    """budget_sample equals the sequential python walk: per key (in id
    order), keep while cumulative weight fits; first weighted row of a
    group is always kept."""
    from bigslice_spark.operators.sampling import budget_sample
    data = [(i, k, w) for i, (k, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, k string, w long")
    got = {r["doc_id"] for r in
           budget_sample(df, "w", budget=budget, key_col="k",
                         order_col="doc_id").collect()}
    want = set()
    cum = defaultdict(int)
    seen = set()
    for i, k, w in data:
        first = k not in seen
        seen.add(k)
        cum[k] += w
        if cum[k] <= budget or first:
            want.add(i)
    assert got == want


TEXTS = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=40), min_size=1,
    max_size=12)


@PROP
@given(texts=TEXTS,
       chunk=st.integers(min_value=1, max_value=7))
def test_chunk_documents_reconstructs_tokens(spark, texts, chunk):
    """Disjoint chunking loses nothing: re-concatenating each doc's
    chunks in chunk_id order yields exactly the original token list."""
    from bigslice_spark.operators.text import chunk_documents
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = defaultdict(list)
    for r in chunk_documents(df, chunk_tokens=chunk).collect():
        got[r["doc_id"]].append((r["chunk_id"], r["chunk_text"]))
    for i, t in enumerate(texts):
        toks = t.split()
        if not toks:
            assert i not in got
            continue
        pieces = [c for _, c in sorted(got[i])]
        assert " ".join(pieces).split() == toks
        # every chunk but the last is exactly `chunk` tokens
        sizes = [len(p.split()) for p in pieces]
        assert all(s == chunk for s in sizes[:-1])
        assert 1 <= sizes[-1] <= chunk


@PROP
@given(ab=st.lists(st.tuples(st.integers(0, 2**16 - 1),
                             st.integers(0, 2**16 - 1)),
                   min_size=1, max_size=40))
def test_zorder_value_is_bijective_16bit(spark, ab):
    """Morton interleave must be invertible on 16-bit pairs — collisions
    would silently merge distinct (a,b) cells in the layout sort."""
    from bigslice_spark.operators.projection import zorder_value
    df = spark.createDataFrame(ab, "a long, b long")
    rows = df.select("a", "b",
                     zorder_value("a", "b").alias("z")).collect()
    for r in rows:
        a, b, z = r["a"], r["b"], r["z"]
        ra = sum(((z >> (2 * i)) & 1) << i for i in range(16))
        rb = sum(((z >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (ra, rb) == (a, b)


@PROP
@given(edges=st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)),
                      min_size=0, max_size=60))
def test_triangle_count_matches_bruteforce(spark, edges):
    from itertools import combinations
    from bigslice_spark.operators.graph import triangle_count
    df = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    got = triangle_count(df).collect()[0]["n_triangles"]
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = {n for e in und for n in e}
    want = sum(1 for a, b, c in combinations(sorted(nodes), 3)
               if (a, b) in und and (b, c) in und and (a, c) in und)
    assert got == want


@PROP
@given(ev=st.lists(st.tuples(st.integers(1, 4),
                             st.sampled_from(["s1", "s2", "s3", "junk"]),
                             st.integers(0, 50)),
                   min_size=1, max_size=60))
def test_funnel_matches_python_walk(spark, ev):
    """Greedy-earliest funnel equals the obvious per-user python walk."""
    from bigslice_spark.operators.funnel import funnel
    df = spark.createDataFrame(
        [(u, t, s * 1_000_000) for u, t, s in ev],
        "user_id long, event_type string, us long",
    ).select("user_id", "event_type",
             F.timestamp_micros("us").alias("ts"))
    steps = ["s1", "s2", "s3"]
    got = {r["user_id"]: (r["t1"], r["t2"], r["t3"], r["depth"])
           for r in funnel(df, steps).collect()}
    by_user = defaultdict(list)
    for u, t, s in ev:
        by_user[u].append((t, s * 1_000_000))
    for u, evs in by_user.items():
        ts = [None, None, None]
        prev = None
        for i, stp in enumerate(steps):
            cand = [s for t, s in evs
                    if t == stp and (prev is None or s >= prev)]
            if i == 0:
                cand = [s for t, s in evs if t == stp]
            ts[i] = min(cand) if cand else None
            prev = ts[i]
            if prev is None:
                break
        if ts[0] is None:
            assert u not in got
        else:
            depth = sum(1 for x in ts if x is not None)
            assert got[u] == (ts[0], ts[1], ts[2], depth)


@PROP
@given(toks=st.lists(st.sampled_from(list("abcdefgh")), min_size=1,
                     max_size=200),
       nshard=st.integers(min_value=1, max_value=6))
def test_heavy_hitters_exact_any_partitioning(spark, toks, nshard):
    """The MG sketch bounds work, never the answer: output equals the
    brute-force HAVING for any input under any partitioning."""
    from bigslice_spark.operators.sketch import heavy_hitters
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)],
        "doc_id long, text string").repartition(nshard)
    got = {(r["tok"], r["n"]) for r in
           heavy_hitters(df, phi=0.1).collect()}
    want = {(t, c) for t, c in Counter(toks).items()
            if c >= 0.1 * len(toks)}
    assert got == want


@PROP
@given(toks=st.lists(st.sampled_from(list("abcdefgh")), min_size=1,
                     max_size=200),
       nshard=st.integers(min_value=1, max_value=6))
def test_heavy_hitters_approx_bounds_any_partitioning(spark, toks, nshard):
    """One-pass Misra-Gries mode: for any input and partitioning, every
    output bound brackets the true count with error ≤ floor(N/(k+1)),
    and no true φ-heavy hitter is missed."""
    import math
    from bigslice_spark.operators.sketch import heavy_hitters
    phi = 0.1
    k = int(math.ceil(2.0 / phi))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)],
        "doc_id long, text string").repartition(nshard)
    rows = heavy_hitters(df, phi=phi, exact=False).collect()
    true = Counter(toks)
    n = len(toks)
    got = {r["tok"]: r for r in rows}
    for tok, r in got.items():
        assert r["n_total"] == n
        assert r["n_hi"] == r["n_lo"] + n // (k + 1)
        assert r["n_lo"] <= true[tok] <= r["n_hi"], \
            (tok, r["n_lo"], true[tok], r["n_hi"])
    for tok, c in true.items():  # completeness: superset of the answer
        if c >= phi * n:
            assert tok in got, (tok, c, n)


@PROP
@given(edges=st.lists(st.tuples(st.integers(0, 10), st.integers(0, 10)),
                      min_size=1, max_size=40),
       nshard=st.integers(min_value=1, max_value=4))
def test_label_propagation_matches_python_walk(spark, edges, nshard):
    """Deterministic synchronous LPA: the distributed result after k
    rounds equals a literal single-threaded replay of the same rule
    (distinct non-self neighbors' labels + own exactly once, count
    DESC then min label) for any edge list — including self-edges —
    under any partitioning."""
    from bigslice_spark.operators.graph import label_propagation
    iters = 3
    df = spark.createDataFrame(edges, "src long, dst long") \
        .repartition(nshard)
    got = {r["node"]: r["label"]
           for r in label_propagation(df, iters=iters).collect()}
    sym = set()
    nodes = set()
    for u, v in edges:
        nodes.add(u)
        nodes.add(v)
        if u != v:  # self-edges ignored: own label votes exactly once
            sym.add((u, v))
            sym.add((v, u))
    lab = {n: n for n in nodes}
    for _ in range(iters):
        new = {}
        for n in nodes:
            cnt = Counter(lab[b] for a, b in sym if a == n)
            cnt[lab[n]] += 1
            new[n] = sorted(cnt.items(),
                            key=lambda kv: (-kv[1], kv[0]))[0][0]
        lab = new
    assert got == lab


@PROP
@given(rows=st.lists(st.tuples(st.integers(0, 3),
                               st.floats(min_value=-100, max_value=100,
                                         allow_nan=False,
                                         width=32)),
                     min_size=1, max_size=60),
       nshard=NSHARD)
def test_ewma_matches_python_fold(spark, rows, nshard):
    """ewma_last equals the literal python left fold (same IEEE ops in
    the same order -> exact equality, not approx) for any input under
    any partitioning."""
    from bigslice_spark.operators.timeseries import ewma_last
    import datetime
    a = 0.3
    data = [(k, datetime.datetime(2026, 1, 1)
             + datetime.timedelta(seconds=i), i, float(v))
            for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "k long, ts timestamp, eid long, value double") \
        .repartition(nshard)
    got = {r["k"]: (r["n_events"], r["ewma"]) for r in
           ewma_last(df, "k", "ts", "value",
                     order_cols=["eid"], alpha=a).collect()}
    want = {}
    for k, _, _, v in data:  # already in (ts, eid) order
        if k not in want:
            want[k] = (1, v)
        else:
            n, s = want[k]
            want[k] = (n + 1, a * v + (1.0 - a) * s)
    assert got == want


@PROP
@given(vals=st.lists(st.integers(-50, 50), min_size=1, max_size=100),
       nshard=NSHARD, k=st.integers(min_value=1, max_value=7))
def test_equidepth_histogram_matches_python(spark, vals, nshard, k):
    """Exact equi-depth buckets equal the brute-force sorted walk for
    any input, bucket count, and partitioning — the two-level rank is
    indistinguishable from a global sort."""
    from bigslice_spark.operators.rank import equidepth_histogram
    data = [(float(v), i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(data, "x double, id long") \
        .repartition(nshard)
    got = {r["bucket"]: (r["n_rows"], r["lo"], r["hi"]) for r in
           equidepth_histogram(df, "x", "id", k=k).collect()}
    srt = sorted(data)
    n = len(srt)
    want = {}
    for rn0, (x, _) in enumerate(srt):
        b = rn0 * k // n
        c, lo, hi = want.get(b, (0, x, x))
        want[b] = (c + 1, min(lo, x), max(hi, x))
    assert got == want


@PROP
@given(vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=80,
                     unique=True),
       nshard=NSHARD)
def test_global_rank_equals_sorted_position(spark, vals, nshard):
    from bigslice_spark.operators.rank import global_rank
    df = spark.createDataFrame([(v,) for v in vals], "x long") \
        .repartition(nshard)
    got = {r["x"]: r["rank"]
           for r in global_rank(df, ["x"]).collect()}
    assert got == {v: i + 1 for i, v in enumerate(sorted(vals))}


VECS = st.lists(
    st.tuples(st.integers(0, 10**6),
              st.lists(st.floats(min_value=-1.0, max_value=1.0,
                                 allow_nan=False, width=16),
                       min_size=4, max_size=4)),
    min_size=2, max_size=40, unique_by=lambda t: t[0])


@PROP
@given(vecs=VECS, tau=st.sampled_from([0.5, 0.9, 0.99]))
def test_semantic_dedup_matches_brute_force(spark, vecs, tau):
    """Survivors == python brute-force greedy drop within cells: the
    salted cell join and inline assignment must not change semantics.
    Double vectors end-to-end, identical expression order, so the
    comparison is exact — no tolerance."""
    import math

    from bigslice_spark.operators.clustering import seed_centroids
    from bigslice_spark.operators.dedup import semantic_dedup
    cents = seed_centroids(2, 4)
    df = spark.createDataFrame(vecs,
                               "vec_id long, embedding array<double>")
    got = {r["vec_id"] for r in
           semantic_dedup(df, cents, threshold=tau).collect()}

    def cell(v):
        return min(((sum((x - c) * (x - c) for x, c in zip(v, cc)), ci)
                    for ci, cc in enumerate(cents)))[1]

    rows = sorted(vecs)
    cells = {i: cell(v) for i, v in rows}
    norms = {i: math.sqrt(sum(x * x for x in v)) for i, v in rows}
    dropped = {
        j for j, vj in rows for i, vi in rows
        if i < j and cells[i] == cells[j]
        and norms[i] > 0 and norms[j] > 0
        and (sum(a * b for a, b in zip(vi, vj))
             / (norms[i] * norms[j])) >= tau}
    assert got == {i for i, _ in rows if i not in dropped}


EDGES = st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)),
                 min_size=1, max_size=40)


@PROP
@given(edges=EDGES, k=st.integers(min_value=1, max_value=4),
       iters=st.integers(min_value=1, max_value=4))
def test_k_core_matches_python_peel(spark, edges, k, iters):
    """The distributed peel equals a literal python replay of the same
    synchronous rounds (degrees over the simple symmetric graph)."""
    from bigslice_spark.operators.graph import k_core
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["degree"]
           for r in k_core(df, k=k, iters=iters).collect()}
    sym = {(u, v) for u, v in edges if u != v}
    sym |= {(v, u) for u, v in sym}
    for _ in range(iters):
        deg = Counter(u for u, _ in sym)
        alive = {u for u, d in deg.items() if d >= k}
        sym = {(u, v) for u, v in sym if u in alive and v in alive}
    deg = Counter(u for u, _ in sym)
    expect = {u: d for u, d in deg.items() if d >= k}
    assert got == expect


@PROP
@given(vals=st.lists(st.floats(min_value=-100, max_value=100,
                               allow_nan=False, width=16),
                     min_size=4, max_size=30),
       kk=st.integers(min_value=1, max_value=5))
def test_ts_pattern_search_matches_python_walk(spark, vals, kk):
    import datetime as dt
    from bigslice_spark.operators.timeseries import ts_pattern_search
    pattern = [1.0, 2.0, 3.0]
    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0 + dt.timedelta(minutes=i), i, v)
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double")
    got = [(r["ts_us"], r["dist"]) for r in ts_pattern_search(
        df, "user_id", "ts", "value", pattern, k=kk,
        order_cols=["event_id"]).collect()]
    base = int((t0 - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    cand = []
    for i in range(2, len(vals)):
        w = vals[i - 2:i + 1]
        d = 0.0
        for a, b in zip(w, pattern):
            d = d + (a - b) * (a - b)
        cand.append((base + i * 60_000_000, d))
    expect = sorted(cand, key=lambda t: (t[1], 1, t[0]))[:kk]
    assert sorted(got) == sorted(expect)


@PROP
@given(edges=EDGES, k=st.integers(min_value=1, max_value=4))
def test_k_core_fixpoint_matches_python_fixpoint(spark, edges, k):
    """Default mode (iters=None) peels until nothing changes — the
    result must equal the literal python peel run to ITS fixpoint,
    whatever the graph shape (not just iters/iters+1 agreement)."""
    from bigslice_spark.operators.graph import k_core
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["degree"] for r in k_core(df, k=k).collect()}
    sym = {(u, v) for u, v in edges if u != v}
    sym |= {(v, u) for u, v in sym}
    while True:
        deg = Counter(u for u, _ in sym)
        alive = {u for u, d in deg.items() if d >= k}
        nxt = {(u, v) for u, v in sym if u in alive and v in alive}
        if nxt == sym:
            break
        sym = nxt
    deg = Counter(u for u, _ in sym)
    expect = {u: d for u, d in deg.items() if d >= k}
    assert got == expect


ASOF_LEFT = st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)),
                     min_size=1, max_size=25)
ASOF_RIGHT = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50),
              st.one_of(st.none(), st.floats(-10, 10, allow_nan=False,
                                             width=16))),
    min_size=0, max_size=25)


@PROP
@given(lrows=ASOF_LEFT, rrows=ASOF_RIGHT,
       strict=st.booleans(),
       direction=st.sampled_from(["backward", "forward"]),
       tol=st.sampled_from([None, 5, 1]))
def test_asof_join_matches_pandas_merge_asof(spark, lrows, rrows,
                                             strict, direction, tol):
    """The union-sort-carry asof_join must agree with pandas
    merge_asof itself on random keyed series — every combination of
    direction x strictness x tolerance, including NULL value columns
    in the nearest row (the r5-ADVICE atomicity corner: pandas never
    backfills them from older rows, and neither may we)."""
    import datetime as dt
    import math
    import pandas as pd
    from bigslice_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1)
    ts = lambda s: t0 + dt.timedelta(seconds=s)  # noqa: E731
    # which of several right rows sharing an exact (k, ts) is carried
    # is documented-unspecified in the distributed join (no input
    # order to preserve), so dedupe them before comparing to pandas
    rmap = {(k, s): v for k, s, v in rrows}
    lpdf = pd.DataFrame({
        "k": pd.Series([k for k, _ in lrows], dtype="int64"),
        "ts": pd.Series([ts(s) for _, s in lrows],
                        dtype="datetime64[ns]"),
        "lid": pd.Series(range(len(lrows)), dtype="int64"),
    }).sort_values("ts")
    rpdf = pd.DataFrame({
        "k": pd.Series([k for k, _ in rmap], dtype="int64"),
        "rts": pd.Series([ts(s) for _, s in rmap],
                         dtype="datetime64[ns]"),
        "v": pd.Series(list(rmap.values()), dtype="float64"),
    }).sort_values("rts")
    want_df = pd.merge_asof(
        lpdf, rpdf, left_on="ts", right_on="rts", by="k",
        direction=direction, allow_exact_matches=not strict,
        tolerance=None if tol is None else pd.Timedelta(seconds=tol))
    want = {int(r.lid): None if math.isnan(r.v) else round(r.v, 6)
            for r in want_df.itertuples()}

    left = spark.createDataFrame(
        lpdf, "k long, ts timestamp, lid long")
    right = spark.createDataFrame(
        rpdf, "k long, rts timestamp, v double")
    got = {r["lid"]: None if r["v"] is None else round(r["v"], 6)
           for r in asof_join(left, right, on="k", left_ts="ts",
                              right_ts="rts", value_cols=["v"],
                              strict=strict, direction=direction,
                              tolerance=tol).collect()}
    assert got == want


BATCHES = st.lists(
    st.dictionaries(st.integers(0, 6),
                    st.tuples(st.integers(-50, 50), st.booleans()),
                    min_size=1, max_size=6),
    min_size=1, max_size=4)


@PROP
@given(batches=BATCHES, partitioned=st.booleans())
def test_upsert_random_batches_match_dict_replay(spark, batches,
                                                 partitioned):
    """Any sequence of keyed merge/delete batches (through the atomic
    rename commit path, unpartitioned AND partition-pruned) ends in
    exactly the state a python dict replay produces — including after
    a closing vacuum, which must preserve manifest-referenced
    partition data."""
    import shutil
    import tempfile
    from bigslice_spark.operators.upsert import (read_latest, upsert,
                                                 vacuum)
    root = tempfile.mkdtemp(prefix="upsert_prop_")
    try:
        path = root + "/t"
        pb = ["p"] if partitioned else None
        for batch in batches:
            rows = [(k, k % 2, v, d) for k, (v, d) in batch.items()]
            df = spark.createDataFrame(
                rows, "k long, p long, v long, __deleted__ boolean")
            upsert(spark, path, df, ["k"], partition_by=pb)
        state: dict[int, int] = {}
        for batch in batches:
            for k, (v, d) in batch.items():
                if d:
                    state.pop(k, None)
                else:
                    state[k] = v
        got = {r["k"]: r["v"]
               for r in read_latest(spark, path).collect()}
        assert got == state
        vacuum(spark, path, keep_last=1)
        after = {r["k"]: r["v"]
                 for r in read_latest(spark, path).collect()}
        assert after == state
    finally:
        shutil.rmtree(root, ignore_errors=True)


@settings(max_examples=40, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(w=st.integers(min_value=1, max_value=12),
       h=st.integers(min_value=1, max_value=12),
       filter_type=st.integers(min_value=0, max_value=4),
       data=st.data())
def test_png_codec_roundtrip_property(w, h, filter_type, data):
    """Random image × random scanline filter: make_png → decode_image
    must round-trip the exact RGB bytes — the unfilter arithmetic
    (per-lane cumsum for Sub, wrapping adds for Up, the sequential
    Average/Paeth recurrences) has byte-wrap edge cases a fixed
    fixture can miss."""
    from bigslice_spark.operators.multimodal import (decode_image,
                                                     make_png)
    px = bytes(data.draw(st.lists(
        st.integers(min_value=0, max_value=255),
        min_size=w * h * 3, max_size=w * h * 3)))
    assert decode_image(make_png(w, h, px, filter_type=filter_type)) \
        == (w, h, px)


@settings(max_examples=25, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(n=st.integers(min_value=0, max_value=10**13),
       target=st.integers(min_value=1, max_value=1 << 20))
def test_ivf_auto_ncells_bounds_property(n, target):
    """The auto cell count always respects floor 16, the 4·√N build
    cap, the hard 65536 cap, and never undercuts N/target unless a
    cap binds."""
    import math
    from bigslice_spark.operators.similarity import _auto_ncells
    c = _auto_ncells(n, target)
    assert 16 <= c <= 65536
    assert c <= max(16, 4 * max(1, math.isqrt(n)))
    want = -(-n // target)
    if want <= min(max(16, 4 * max(1, math.isqrt(n))), 65536):
        assert c == max(16, want)


# ---------------------------------------------------------------------
# Hub-key fold paths (VERDICT r7 task 5): the distributed/segmented
# implementations must agree with the sequential reference fold.

EVENTS = st.lists(
    st.tuples(KEYS, st.integers(min_value=0, max_value=10**6),
              st.floats(min_value=-1e6, max_value=1e6,
                        allow_nan=False, allow_infinity=False)),
    min_size=1, max_size=150)


def _ewma_py(rows, alpha):
    """Sequential reference recurrence, grouped by key in (t, rid)
    order — the ground truth both Spark paths must match."""
    by_key = defaultdict(list)
    for rid, (k, t, v) in enumerate(rows):
        by_key[k].append((t, rid, v))
    out = {}
    for k, evs in by_key.items():
        evs.sort()
        s = evs[0][2]
        for _, _, v in evs[1:]:
            s = alpha * v + (1.0 - alpha) * s
        out[k] = (len(evs), s)
    return out


def _ewma_df(spark, rows):
    return spark.createDataFrame(
        [(k, t, i, v) for i, (k, t, v) in enumerate(rows)],
        "k string, tus long, rid long, v double"
    ).select("k", F.timestamp_micros("tus").alias("ts"), "rid", "v")


@PROP
@given(rows=EVENTS, alpha=st.sampled_from([0.1, 0.3, 0.5, 0.9, 1.0]))
def test_ewma_distributed_matches_list_fold(spark, rows, alpha):
    """The closed-form weighted sum (method='distributed') equals the
    sequential list fold for any input: same counts, values within
    float re-association tolerance of the python recurrence."""
    import math

    from bigslice_spark.operators.timeseries import ewma_last
    df = _ewma_df(spark, rows)
    want = _ewma_py(rows, alpha)
    for method in ("list", "distributed"):
        got = {r["k"]: (r["n_events"], r["ewma"])
               for r in ewma_last(df, "k", "ts", "v",
                                  order_cols=["rid"], alpha=alpha,
                                  method=method).collect()}
        assert set(got) == set(want)
        for k, (n, s) in want.items():
            assert got[k][0] == n
            assert math.isclose(got[k][1], s, rel_tol=1e-9,
                                abs_tol=1e-9), (method, k, got[k][1], s)


@PROP
@given(rows=st.lists(
    st.tuples(KEYS, st.integers(min_value=0, max_value=10**6),
              st.integers(min_value=-1000, max_value=1000)),
    min_size=1, max_size=40))
def test_ewma_distributed_dyadic_exact(spark, rows):
    """With α=0.5 and small integer inputs every sequential
    intermediate is an exact dyadic double, so the distributed path is
    BITWISE equal to the python recurrence — the same exactness the
    ewma_hub oracle replays through DECIMAL sums."""
    from bigslice_spark.operators.timeseries import ewma_last
    rows = [(k, t, float(v)) for k, t, v in rows]
    df = _ewma_df(spark, rows)
    want = {k: s for k, (_n, s) in _ewma_py(rows, 0.5).items()}
    for kw in ({}, {"segment_s": 1}, {"segment_s": 3600}):
        got = {r["k"]: r["ewma"]
               for r in ewma_last(df, "k", "ts", "v",
                                  order_cols=["rid"], alpha=0.5,
                                  method="distributed", **kw).collect()}
        assert got == want, kw


@PROP
@given(pairs=st.lists(st.tuples(KEYS, st.integers(0, 9), VALS),
                      min_size=1, max_size=120),
       nshard=NSHARD)
def test_fold_stream_segmented_matches_oneshot(session, pairs, nshard):
    """fold_stream(segment_col=, merge=) — the two-stage hub-key path —
    produces exactly the one-shot fold's answer for any key/segment mix
    (count + sum accumulator, merge in segment order)."""
    keys = [k for k, _, _ in pairs]
    segs = [s for _, s, _ in pairs]
    vals = [v for _, _, v in pairs]
    sl = session.const(nshard, keys, segs, vals,
                       names=["key", "seg", "val"],
                       schema="key string, seg int, val long")

    def init():
        return [0, 0]

    def step(acc, chunk):
        return [acc[0] + len(chunk), acc[1] + int(chunk["val"].sum())]

    def merge(a, b):
        return [a[0] + b[0], a[1] + b[1]]

    def emit(key, acc):
        return {"key": key[0], "n": acc[0], "total": acc[1]}

    got = {r["key"]: (r["n"], r["total"])
           for r in sl.fold_stream(init, step, emit,
                                   "key string, n long, total long",
                                   segment_col="seg",
                                   merge=merge).df.collect()}
    want = defaultdict(lambda: [0, 0])
    for k, _s, v in pairs:
        want[k][0] += 1
        want[k][1] += v
    assert got == {k: tuple(v) for k, v in want.items()}


def test_ewma_distributed_domain_guard(spark):
    """Out-of-domain inputs fail LOUDLY per key, never silently: a NaN
    value yields NaN (matching the list path's propagation), a finite
    value past decimal(38,18)'s range yields NaN instead of silently
    dropping its term from the weighted sum, and well-behaved keys in
    the same frame are unaffected."""
    import math

    from bigslice_spark.operators.timeseries import ewma_last
    df = _ewma_df(spark, [("a", 1, 2.0), ("a", 2, float("nan")),
                          ("b", 1, 1e21), ("b", 2, 3.0),
                          ("c", 1, 5.0), ("c", 2, 7.0)])
    got = {r["k"]: r["ewma"]
           for r in ewma_last(df, "k", "ts", "v", order_cols=["rid"],
                              alpha=0.5,
                              method="distributed").collect()}
    assert math.isnan(got["a"]) and math.isnan(got["b"])
    assert got["c"] == 6.0


# ---- round-9c properties: text normalization, charset, dup spans ----

TEXTS = st.text(
    alphabet=st.characters(min_codepoint=1, max_codepoint=0x2100),
    max_size=120)


@PROP
@given(texts=st.lists(TEXTS, min_size=1, max_size=12))
def test_clean_text_idempotent(spark, texts):
    """clean(clean(x)) == clean(x): the normalizer is a projection
    onto its own fixed-point set, for arbitrary unicode input."""
    from bigslice_spark.operators.text import normalize_text
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string")
    once = normalize_text(df).select(
        "id", F.col("clean_text").alias("text"))
    twice = {r["id"]: r["clean_text"]
             for r in normalize_text(once).collect()}
    for r in normalize_text(df).collect():
        assert twice[r["id"]] == r["clean_text"], repr(r["clean_text"])


ASCII_TEXTS = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
    min_size=0, max_size=80)


@PROP
@given(texts=st.lists(ASCII_TEXTS, min_size=1, max_size=8),
       charset=st.sampled_from(["utf-8", "utf-16-le-bom", "latin-1"]))
def test_charset_decode_roundtrips_random_ascii(spark, texts, charset):
    """encode(text) -> decode_auto == text for every detectable wire
    form (ASCII payloads are representable in all of them; a non-ascii
    marker byte forces the intended class where needed)."""
    from bigslice_spark.operators.charset import decode_auto
    rows = []
    for i, t in enumerate(texts):
        if charset == "utf-8":
            want = t + "\u00e9"            # force multibyte
            payload = want.encode("utf-8")
        elif charset == "utf-16-le-bom":
            want = t
            payload = b"\xff\xfe" + t.encode("utf-16-le")
        else:
            want = t + "\u00e9"            # high byte, invalid utf-8
            payload = want.encode("latin-1")
        rows.append((i, payload, want))
    df = spark.createDataFrame([(i, p) for i, p, _ in rows],
                               "id long, payload binary")
    got = {r["id"]: r["text"] for r in decode_auto(df).collect()}
    for i, _, want in rows:
        assert got[i] == want, (charset, i, repr(want), repr(got[i]))


WORDS = st.sampled_from(["a", "b", "c", "d", "boiler", "plate", "x"])
DOCS = st.lists(st.lists(WORDS, min_size=0, max_size=14), min_size=1,
                max_size=8)


@PROP
@given(docs=DOCS)
def test_dup_span_invariants(spark, docs):
    """For any corpus and w=3: 0 <= dup_tokens <= n_tokens; spans and
    windows are consistent; and strip_dup_spans keeps EXACTLY the
    uncovered tokens (clean token count == n_tokens - dup_tokens)."""
    from bigslice_spark.operators.spans import (dup_span_report,
                                                strip_dup_spans)
    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rep = {r["doc_id"]: r for r in dup_span_report(df, w=3).collect()}
    stripped = {r["doc_id"]: r for r in strip_dup_spans(df, w=3).collect()}
    for i, d in enumerate(docs):
        if not d:
            assert i not in rep
            continue
        r = rep[i]
        assert r["n_tokens"] == len(d)
        assert 0 <= r["dup_tokens"] <= r["n_tokens"]
        assert (r["n_dup_spans"] == 0) == (r["dup_tokens"] == 0)
        if r["n_dup_windows"]:
            # every flagged window covers w tokens before merging
            assert r["dup_tokens"] >= 3
        s = stripped[i]
        clean_n = len([t for t in s["clean_text"].split(" ") if t])
        assert clean_n == r["n_tokens"] - r["dup_tokens"]
        assert s["dup_tokens"] == r["dup_tokens"]


# --------------------------------------------------------------------
# url_normalize / charset_decode fuzzing (r9 verdict task 7): both are
# codegen string transforms whose registry oracles replay hand-built
# fixtures — these suites drive them with generated inputs against
# pure-Python references of their documented rules, 200 examples each
# (every example batches several inputs through one Spark collect).

# 50 examples by default (each still batches several inputs per
# Spark collect); the three suites on this profile are LATENCY-bound
# — ~0.5s of Spark round-trip per example, 327s of the suite's 1889s
# wall at 200 (r15 durations profile) — and SPARK_GRAFT_FULL_TESTS=1
# (set on every seal/CI run) restores the full 200.
URL_PROP = settings(
    max_examples=200 if os.environ.get("SPARK_GRAFT_FULL_TESTS")
    else 50,
    deadline=None, suppress_health_check=list(HealthCheck))

_SCHEME = st.sampled_from(["http", "HTTP", "https", "HtTpS", "ftp",
                           "FTP"])
# labels start with a letter: Java's URI parser (behind parse_url)
# treats an all-numeric last label as a malformed IPv4 and returns
# NULL host for e.g. "http://0.0" — out of scope for this suite
_LABEL = st.tuples(
    st.sampled_from("abcDEF"),
    st.text(alphabet="abcdefgHIJKLmnop0123456789", max_size=5)
).map(lambda t: t[0] + t[1])
_HOSTG = st.lists(_LABEL, min_size=1, max_size=4).map(".".join)
_PCT = st.integers(0, 255).map(lambda b: "%%%02X" % b)
_SAFE = st.text(alphabet="abcXYZ019._~-", min_size=0, max_size=5)
_SEG = st.lists(st.one_of(_SAFE, _PCT), min_size=0,
                max_size=3).map("".join)
_PATHG = st.one_of(
    st.just(""),
    st.lists(_SEG, min_size=1, max_size=3).map(
        lambda segs: "/" + "/".join(segs)))
_PORTG = st.sampled_from(["", "80", "443", "8080", "65535"])
_QKEY = st.one_of(
    st.sampled_from(["utm_source", "utm_campaign", "gclid", "fbclid",
                     "UTM_SOURCE", "Gclid"]),   # case-sensitive match
    st.text(alphabet="abcxyz_09", min_size=1, max_size=6))
_QVAL = st.lists(st.one_of(_SAFE, _PCT), min_size=0,
                 max_size=2).map("".join)
_QTOK = st.one_of(
    st.just(""),                                 # the '&&' case
    _QKEY,                                       # flag param, no '='
    st.tuples(_QKEY, _QVAL).map(lambda kv: f"{kv[0]}={kv[1]}"))
_QG = st.lists(_QTOK, min_size=0, max_size=4)
_USERG = st.sampled_from(["", "u@", "user:pw@"])
_FRAGG = st.sampled_from(["", "#top", "#a%20b"])
_WSG = st.sampled_from(["", " ", "  \t"])

_URLCASE = st.tuples(_SCHEME, _USERG, _HOSTG, _PORTG, _PATHG, _QG,
                     _FRAGG, _WSG)


def _expected_norm(scheme, host, port, path, qtoks):
    from bigslice_spark.operators.web import DEFAULT_TRACKING_PARAMS
    s, h = scheme.lower(), host.lower()
    default = (s == "http" and port == "80") or \
              (s == "https" and port == "443")
    pp = "" if (port == "" or default) else ":" + port
    pa = path if path else "/"
    kept = [t for t in qtoks
            if t != "" and t.split("=")[0] not in
            set(DEFAULT_TRACKING_PARAMS)]
    q = "?" + "&".join(kept) if kept else ""
    return f"{s}://{h}{pp}{pa}{q}"


@URL_PROP
@given(cases=st.lists(_URLCASE, min_size=1, max_size=6))
def test_url_normalize_matches_reference(spark, cases):
    from bigslice_spark.operators.web import url_normalize
    rows, want = [], []
    for i, (sch, user, host, port, path, qtoks, frag, ws) in \
            enumerate(cases):
        url = (f"{ws}{sch}://{user}{host}"
               + (f":{port}" if port else "") + path
               + ("?" + "&".join(qtoks) if qtoks else "")
               + frag + ws)
        rows.append((i, url))
        want.append(_expected_norm(sch, host, port, path, qtoks))
    df = spark.createDataFrame(rows, "i long, url string")
    got = {r["i"]: r["url_norm"]
           for r in url_normalize(df).collect()}
    for i, w in enumerate(want):
        assert got[i] == w, (cases[i], got[i], w)


# --- charset detection/decoding vs a pure-Python rule reference ---

def _ref_charset(b: bytes) -> str:
    if b[:2] in (b"\xff\xfe", b"\xfe\xff"):
        if len(b) % 2:
            return "utf-16-corrupt"
        return "utf-16le" if b[:2] == b"\xff\xfe" else "utf-16be"
    if b[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    try:
        b.decode("utf-8")
        return "ascii" if all(c < 0x80 for c in b) else "utf-8"
    except UnicodeDecodeError:
        if any(0x80 <= c <= 0x9F for c in b):
            return "windows-1252"
        return "iso-8859-1"


def _cp1252_table():
    t = {}
    for x in range(0x80, 0xA0):
        try:
            t[chr(x)] = bytes([x]).decode("cp1252")
        except UnicodeDecodeError:
            pass                        # 81 8D 8F 90 9D pass through
    return t


_CPT = _cp1252_table()


def _ref_decode(b: bytes, label: str):
    if label in ("ascii", "utf-8"):
        return b.decode("utf-8")
    if label == "utf-8-sig":
        return b[3:].decode("utf-8")    # callers gate on validity
    if label == "windows-1252":
        return "".join(_CPT.get(ch, ch) for ch in b.decode("latin-1"))
    if label == "iso-8859-1":
        return b.decode("latin-1")
    if label in ("utf-16le", "utf-16be"):
        return b.decode("utf-16")       # BOM-aware, like Java UTF-16
    return None                          # utf-16-corrupt


def _valid_u8(b: bytes) -> bool:
    try:
        b.decode("utf-8")
        return True
    except UnicodeDecodeError:
        return False


def _decode_comparable(b: bytes, label: str) -> bool:
    # arbitrary bytes after a BOM can be malformed in ways whose
    # replacement/REPORT semantics differ by engine — the reference
    # compares decode only where the documented contract is total
    if label in ("ascii", "utf-8", "windows-1252", "iso-8859-1",
                 "utf-16-corrupt"):
        return True
    if label == "utf-8-sig":
        return _valid_u8(b[3:])
    return False                         # BOM'd utf-16: structured gen


@URL_PROP
@given(blobs=st.lists(st.binary(max_size=24), min_size=1, max_size=8))
def test_charset_detect_arbitrary_bytes(spark, blobs):
    from bigslice_spark.operators.charset import decode_auto
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(blobs)],
        "i long, payload binary")
    got = {r["i"]: (r["charset"], r["text"])
           for r in decode_auto(df, utf16=False).collect()}
    for i, b in enumerate(blobs):
        label = _ref_charset(b)
        assert got[i][0] == label, (b, got[i][0], label)
        if _decode_comparable(b, label) and label != "utf-16-corrupt":
            assert got[i][1] == _ref_decode(b, label), (b, label)
        if label == "utf-16-corrupt":
            assert got[i][1] is None


_TEXTG = st.text(alphabet=st.characters(
    blacklist_categories=("Cs",)), min_size=0, max_size=16)


@URL_PROP
@given(cases=st.lists(
    st.tuples(_TEXTG, st.sampled_from(
        ["utf-8", "utf-8-sig", "utf-16le-bom", "utf-16be-bom",
         "latin-1", "cp1252"])),
    min_size=1, max_size=6))
def test_charset_decode_structured_roundtrip(spark, cases):
    """Encode real text in each charset (BOMs where the rules need
    them) and check the engine's label and decoded text against the
    pure-Python reference of the SAME bytes."""
    from bigslice_spark.operators.charset import decode_auto
    rows = []
    for i, (text, enc) in enumerate(cases):
        if enc == "utf-8":
            b = text.encode("utf-8")
        elif enc == "utf-8-sig":
            b = b"\xef\xbb\xbf" + text.encode("utf-8")
        elif enc == "utf-16le-bom":
            b = b"\xff\xfe" + text.encode("utf-16-le")
        elif enc == "utf-16be-bom":
            b = b"\xfe\xff" + text.encode("utf-16-be")
        elif enc == "latin-1":
            b = text.encode("latin-1", errors="ignore")
        else:
            b = text.encode("cp1252", errors="ignore")
        rows.append((i, bytearray(b)))
    df = spark.createDataFrame(rows, "i long, payload binary")
    got = {r["i"]: (r["charset"], r["text"])
           for r in decode_auto(df, utf16=True).collect()}
    for i, _ in enumerate(cases):
        b = bytes(rows[i][1])
        label = _ref_charset(b)
        assert got[i][0] == label, (b, got[i][0], label)
        assert got[i][1] == _ref_decode(b, label), (b, label)


# ---- round 10: audio DFT, leakage split, novelty ----------------------

_PCM = st.lists(st.integers(min_value=-32768, max_value=32767),
                min_size=0, max_size=200)


@PROP
@given(clips=st.lists(_PCM, min_size=1, max_size=4),
       frame_len=st.sampled_from([8, 16, 64]),
       bins=st.sets(st.integers(min_value=0, max_value=7),
                    min_size=1, max_size=3))
def test_band_energy_matches_python_dft(spark, clips, frame_len, bins):
    """band_energy equals a pure-Python integer DFT over
    random int16 PCM, any frame length, any bin set — including empty
    clips and trailing partial frames. Equality is exact (fixed-point
    construction), not approximate."""
    from bigslice_spark.operators.audio import (Q_SHIFT, band_energy,
                                                dft_basis)
    bins = sorted(bins)
    rows = [(i, c) for i, c in enumerate(clips)]
    df = spark.createDataFrame(rows, "id long, samples array<int>")

    want = {}
    for i, c in rows:
        for f0 in range(0, len(c), frame_len):
            fr = c[f0:f0 + frame_len]
            es = []
            for k in bins:
                cos_t, sin_t = dft_basis(frame_len, k)
                cs = float(sum(x * w for x, w in zip(fr, cos_t)))
                ss = float(sum(x * w for x, w in zip(fr, sin_t)))
                es.append((cs * cs + ss * ss) * 2.0 ** (-2 * Q_SHIFT))
            want[(i, f0 // frame_len)] = tuple(es)

    got = {(r["id"], r["frame"]): tuple(r[f"e{k}"] for k in bins)
           for r in band_energy(df, frame_len=frame_len,
                                bins=bins).collect()}
    assert got == want


@PROP
@given(n_docs=st.integers(min_value=2, max_value=40),
       edges=st.lists(st.tuples(st.integers(0, 39), st.integers(0, 39)),
                      max_size=25),
       seed_frac=st.sampled_from([(("train", 0.5), ("test", 0.5)),
                                  (("train", 0.9), ("val", 0.05),
                                   ("test", 0.05))]))
def test_leakage_split_never_straddles(spark, n_docs, edges, seed_frac):
    """THE invariant: for any random pair graph, two docs connected by
    any path share a split; every doc appears exactly once."""
    from bigslice_spark.operators.sampling import leakage_safe_split
    edges = [(a, b) for a, b in edges
             if a != b and a < n_docs and b < n_docs]
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(n_docs)],
        "doc_id long, text string")
    pairs = spark.createDataFrame(
        edges or [(0, 0)], "id_a long, id_b long")
    if not edges:
        pairs = pairs.filter("id_a <> id_a")  # empty pair relation
    out = leakage_safe_split(docs, pairs, fractions=seed_frac)
    m = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(m) == n_docs
    # union-find ground truth
    parent = list(range(n_docs))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    for a, b in edges:
        assert m[a] == m[b]
    for i in range(n_docs):
        assert m[i] == m[find(i)]


@PROP
@given(texts=st.lists(st.text(
    alphabet=st.sampled_from("ab xyz"), min_size=0, max_size=40),
    min_size=2, max_size=12),
    w=st.sampled_from([1, 2, 3]))
def test_ngram_novelty_matches_python(spark, texts, w):
    """Novelty equals the set-arithmetic ground truth for random
    corpora: per doc, |grams \\ ref| / |grams|, with short-doc
    whole-text fallback and 0 ≤ novelty ≤ 1 always."""
    from bigslice_spark.operators.decontam import ngram_novelty

    def grams(t):
        tk = [x for x in t.split() if x]
        if len(tk) >= w:
            return {" ".join(tk[i:i + w]) for i in range(len(tk) - w + 1)}
        return {" ".join(tk)}

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ref = df.filter(F.col("doc_id") % 2 == 0)
    cand = df.filter(F.col("doc_id") % 2 == 1)
    ref_grams = set().union(*(grams(t) for i, t in rows if i % 2 == 0))
    got = {r["doc_id"]: (r["total_grams"], r["novel_grams"], r["novelty"])
           for r in ngram_novelty(cand, ref, ngram_w=w).collect()}
    for i, t in rows:
        if i % 2 == 0:
            continue
        g = grams(t)
        novel = len(g - ref_grams)
        assert got[i] == (len(g), novel, novel / len(g))
        assert 0.0 <= got[i][2] <= 1.0


# --------------------------------------------------------------------
# Audio codec fuzzing (r10 verdict task 4): ADPCM/G.711/FLAC are
# exactly-specified integer machines — drive them with generated PCM
# against independently-written references of the public specs, the
# url_normalize/charset pattern. Pure Python per example (no Spark
# job), so 200+ examples stay cheap.

import pytest

AUDIO_PROP = settings(max_examples=200, deadline=None,
                      suppress_health_check=list(HealthCheck))

PCM16 = st.integers(min_value=-32768, max_value=32767)


def _ref_ima4_decode(packets):
    """Independent IMA-ADPCM reference decoder, written directly from
    the IMA recommendation (header = 9-bit predictor + 7-bit index,
    low nibble first; shift-based diff; int16/index clamps)."""
    from bigslice_spark.operators.adpcm import INDEX_TABLE, STEP_TABLE
    out = []
    for pk in packets:
        h = int.from_bytes(pk[:2], "big")
        idx = h & 0x7F
        pred = h & 0xFF80
        if pred >= 0x8000:
            pred -= 0x10000
        for b in pk[2:]:
            for nib in (b & 0x0F, b >> 4):
                step = STEP_TABLE[idx]
                diff = step >> 3
                if nib & 1:
                    diff += step >> 2
                if nib & 2:
                    diff += step >> 1
                if nib & 4:
                    diff += step
                pred = pred - diff if nib & 8 else pred + diff
                pred = max(-32768, min(32767, pred))
                idx = max(0, min(88, idx + INDEX_TABLE[nib & 7]))
                out.append(pred)
    return out


@AUDIO_PROP
@given(pcm=st.lists(PCM16, min_size=0, max_size=384))
def test_adpcm_encode_decode_matches_reference(pcm):
    from bigslice_spark.operators.adpcm import decode_ima4, encode_ima4
    packets = encode_ima4(pcm)
    got = decode_ima4(packets)
    assert got == _ref_ima4_decode(packets)
    # zero-padded to whole packets; every sample in int16 range
    assert len(got) == len(pcm) + (-len(pcm)) % 64
    assert all(-32768 <= v <= 32767 for v in got)
    # packet independence: each packet decodes alone to the same PCM
    assert [v for pk in packets for v in decode_ima4([pk])] == got
    # NO per-sample error bound: ADPCM is slew-limited, so after a
    # full-scale jump the reconstruction legitimately lags by up to
    # the whole int16 range for many samples (Hypothesis found
    # [-248, 32731] exceeding a 1-step bound) — reference-decoder
    # equality above IS the codec contract


@AUDIO_PROP
@given(pcm=st.lists(PCM16, min_size=1, max_size=384),
       flip=st.data())
def test_adpcm_corrupt_packets_raise(pcm, flip):
    from bigslice_spark.operators.adpcm import decode_ima4, encode_ima4
    packets = encode_ima4(pcm)
    i = flip.draw(st.integers(0, len(packets) - 1))
    # wrong length raises
    with pytest.raises(ValueError, match="34"):
        decode_ima4(packets[:i] + [packets[i][:-1]] + packets[i + 1:])
    # step index past the table raises
    bad = bytearray(packets[i])
    bad[1] |= 0x7F
    if bad[1] & 0x7F > 88:
        with pytest.raises(ValueError, match="step index"):
            decode_ima4(packets[:i] + [bytes(bad)] + packets[i + 1:])


def _ref_g711(code: int, law: str) -> int:
    """Independent G.711 expansion written from the ITU formulas."""
    if law == "u":
        u = ~code & 0xFF
        sign = u & 0x80
        exp = (u >> 4) & 7
        mant = u & 0xF
        v = ((mant << 3) + 0x84 << exp) - 0x84
        return -v if sign else v
    a = code ^ 0x55
    sign = a & 0x80
    exp = (a >> 4) & 7
    mant = a & 0xF
    v = (mant << 4) + 8 if exp == 0 else ((mant << 4) + 0x108) << (exp - 1)
    return v if sign else -v                 # A-law sign is inverted


@AUDIO_PROP
@given(codes=st.binary(min_size=0, max_size=300),
       law=st.sampled_from(["u", "a"]))
def test_g711_wav_decode_matches_reference(codes, law):
    from bigslice_spark.operators.multimodal import (decode_wav,
                                                     make_wav_g711)
    blob = make_wav_g711(8000, codes, law=law)
    rate, ch, data = decode_wav(bytes(blob))
    assert (rate, ch) == (8000, 1)
    assert data.tolist() == [_ref_g711(c, law) for c in codes]


def test_g711_table_symmetries():
    """Spec identities over all 256 codes: flipping the transmitted
    sign bit negates the sample in BOTH laws (mu stores complemented,
    A stores XOR-0x55 with the inverted sign convention)."""
    from bigslice_spark.operators.audio import G711_ALAW, G711_ULAW
    for c in range(256):
        assert G711_ULAW[c ^ 0x80] == -G711_ULAW[c]
        assert G711_ALAW[c ^ 0x80] == -G711_ALAW[c]
        assert G711_ULAW[c] == _ref_g711(c, "u")
        assert G711_ALAW[c] == _ref_g711(c, "a")
    # spec extremes: mu-law ±32124, A-law ±32256
    assert max(G711_ULAW) == 32124 and min(G711_ULAW) == -32124
    assert max(G711_ALAW) == 32256 and min(G711_ALAW) == -32256


@AUDIO_PROP
@given(raw=st.lists(PCM16, min_size=0, max_size=300),
       channels=st.sampled_from([1, 2]),
       block=st.sampled_from([16, 64, 192, 256]),
       lpc=st.sampled_from([None, 2, 8]),
       shift=st.integers(min_value=0, max_value=3),
       smooth=st.booleans())
def test_flac_roundtrip_fuzz(raw, channels, block, lpc, shift, smooth):
    """encode→decode is the identity for ANY int16 input — noisy,
    smoothed (the predictable regime fixed/LPC actually compress), or
    scaled to force wasted-bits extraction — at every block size,
    channel count, and predictor config; stream MD5 verified."""
    from bigslice_spark.operators.flac import decode_flac, encode_flac
    if smooth:
        acc, xs = 0, []
        for v in raw:
            acc = max(-32768, min(32767, acc + (v >> 8)))
            xs.append(acc)
    else:
        xs = list(raw)
    xs = [(v >> shift) << shift for v in xs]
    xs = xs[:len(xs) - len(xs) % channels]
    blob = encode_flac(xs, 16000, channels=channels, block_size=block,
                       lpc_order=lpc)
    rate, ch, dec = decode_flac(blob)
    assert (rate, ch) == (16000, channels)
    assert dec.tolist() == xs


@AUDIO_PROP
@given(raw=st.lists(PCM16, min_size=40, max_size=200),
       flip=st.data())
def test_flac_any_frame_bitflip_detected(raw, flip):
    """Every bit of every frame is covered by CRC-8 (header), CRC-16
    (whole frame incl. padding) or the stream MD5 — a single flipped
    bit anywhere past the metadata must raise, never return wrong
    samples silently."""
    from bigslice_spark.operators.flac import decode_flac, encode_flac
    blob = encode_flac(raw, 8000, block_size=64)
    frames_start = 42                        # fLaC + header + STREAMINFO
    i = flip.draw(st.integers(frames_start, len(blob) - 1))
    bit = flip.draw(st.integers(0, 7))
    bad = bytearray(blob)
    bad[i] ^= 1 << bit
    with pytest.raises(ValueError):
        decode_flac(bytes(bad))


# --- Avro container codec (r11b) -----------------------------------
# pure-Python codec machines: fuzz at the 200-example tier like
# url/charset/audio (VERDICT r10 task 4 contract)

CODEC_PROP = settings(max_examples=200, deadline=None,
                      suppress_health_check=list(HealthCheck))


def _avro_schema():
    import json
    return json.dumps({
        "type": "record", "name": "fuzz", "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "d", "type": ["null", "double"]},
            {"name": "b", "type": "boolean"},
            {"name": "raw", "type": "bytes"}]})


AVRO_ROW = st.tuples(
    st.integers(min_value=-(2**62), max_value=2**62),
    st.text(max_size=24),
    st.one_of(st.none(), st.floats(allow_nan=False, width=64)),
    st.booleans(),
    st.binary(max_size=16))


@CODEC_PROP
@given(rows=st.lists(AVRO_ROW, min_size=0, max_size=60),
       codec=st.sampled_from(["null", "deflate", "snappy"]),
       block=st.integers(min_value=1, max_value=17))
def test_avro_roundtrip_fuzz(rows, codec, block):
    """make_avro -> read_avro_blob is identity for any row content,
    codec, and block split (the FLAC-fuzz contract for the container
    format)."""
    from bigslice_spark.sources.avro import make_avro, read_avro_blob
    blob = make_avro(_avro_schema(), rows, codec=codec,
                     block_rows=block)
    _, got = read_avro_blob(blob)
    assert got == rows


@CODEC_PROP
@given(rows=st.lists(AVRO_ROW, min_size=1, max_size=20),
       cut=st.integers(min_value=1, max_value=40))
def test_avro_truncation_raises(rows, cut):
    from bigslice_spark.sources.avro import make_avro, read_avro_blob
    blob = make_avro(_avro_schema(), rows)
    cut = min(cut, len(blob) - 5)
    try:
        _, got = read_avro_blob(blob[:-cut])
        # only acceptable silent outcome: truncation fell exactly on a
        # block boundary, dropping whole trailing blocks
        assert got == rows[:len(got)]
    except (ValueError, NotImplementedError):
        pass


def _avro_complex_schema():
    import json
    return json.dumps({
        "type": "record", "name": "fuzzc", "fields": [
            {"name": "k", "type": "long"},
            {"name": "tags", "type": {"type": "array",
                                      "items": "string"}},
            {"name": "props", "type": {"type": "map",
                                       "values": "long"}},
            {"name": "nested", "type": {
                "type": "record", "name": "inner", "fields": [
                    {"name": "a", "type": ["null", "long"]},
                    {"name": "deep", "type": {"type": "array",
                                              "items": ["long",
                                                        "null"]}}]}},
            {"name": "grade", "type": {"type": "enum", "name": "G",
                                       "symbols": ["A", "B", "C"]}},
            {"name": "fp", "type": {"type": "fixed", "name": "F4",
                                    "size": 4}},
            # VALUE-FIRST union (ADVICE r11: branch index = position)
            {"name": "c", "type": ["string", "null"]}]})


AVRO_COMPLEX_ROW = st.tuples(
    st.integers(min_value=-(2**62), max_value=2**62),
    st.lists(st.text(max_size=8), max_size=5),
    st.dictionaries(st.text(max_size=6),
                    st.integers(min_value=-(2**40), max_value=2**40),
                    max_size=4),
    st.fixed_dictionaries({
        "a": st.one_of(st.none(),
                       st.integers(min_value=-100, max_value=100)),
        "deep": st.lists(st.one_of(st.none(),
                                   st.integers(min_value=-9,
                                               max_value=9)),
                         max_size=4)}),
    st.sampled_from(["A", "B", "C"]),
    st.binary(min_size=4, max_size=4),
    st.one_of(st.none(), st.text(max_size=10)))


@CODEC_PROP
@given(rows=st.lists(AVRO_COMPLEX_ROW, min_size=0, max_size=25),
       codec=st.sampled_from(["null", "deflate", "snappy"]),
       block=st.integers(min_value=1, max_value=7))
def test_avro_complex_roundtrip_fuzz(rows, codec, block):
    """Round 12: arrays, maps, nested records, enums, fixed, unions
    NESTED inside arrays, and value-first top-level unions all
    round-trip under every codec and block split."""
    from bigslice_spark.sources.avro import make_avro, read_avro_blob
    blob = make_avro(_avro_complex_schema(), rows, codec=codec,
                     block_rows=block)
    _, got = read_avro_blob(blob)
    assert got == rows


@CODEC_PROP
@given(data=st.binary(max_size=300))
def test_snappy_roundtrip_fuzz(data):
    """snappy_compress -> snappy_decompress is identity for arbitrary
    bytes (the literal-only writer against the full-format decoder)."""
    from bigslice_spark.sources.avro import (snappy_compress,
                                             snappy_decompress)
    assert snappy_decompress(snappy_compress(data)) == data


# --- PDF text extraction (r11b) ------------------------------------

PDF_LINE = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=255,
                           blacklist_characters="\x7f"),
    max_size=40)


@CODEC_PROP
@given(pages=st.lists(st.lists(PDF_LINE, max_size=4), min_size=1,
                      max_size=3),
       compress=st.booleans(), xref_stream=st.booleans())
def test_pdf_roundtrip_fuzz(pages, compress, xref_stream):
    """make_pdf -> extract_text reproduces every page's lines
    (modulo the documented join: lines concatenate with newlines,
    empty line lists give empty pages) for arbitrary latin-1 text —
    escapes, parens, backslashes and all — under BOTH layouts (the
    classic 1.4 xref table and the 1.5 ObjStm + predicted /XRef
    stream)."""
    from bigslice_spark.operators.pdf import (PdfDoc, extract_text,
                                              make_pdf)
    blob = make_pdf(pages, compress=compress, xref_stream=xref_stream)
    got = [extract_text(c) for c in PdfDoc(blob).pages()]
    want = ["\n".join(lines) if lines else "" for lines in pages]
    assert got == want


# --- Protobuf wire format (r11b) ------------------------------------

PB_GEO = {1: ("lat", "sint64"), 2: ("lon", "sint64")}
PB_SCHEMA = {1: ("k", "int64"), 2: ("s", "string"),
             3: ("d", "double"), 4: ("b", "bool"),
             5: ("z", "sint64"), 6: ("raw", "bytes"),
             7: ("f64", "fixed64"), 8: ("f32", "fixed32"),
             10: ("ri", "repeated sint64"),
             11: ("rs", "repeated string"),
             12: ("m", PB_GEO),
             13: ("pts", ("repeated", PB_GEO))}

PB_GEO_ROW = st.fixed_dictionaries({
    "lat": st.integers(min_value=-(2**30), max_value=2**30),
    "lon": st.integers(min_value=-(2**30), max_value=2**30)})

PB_ROW = st.fixed_dictionaries({
    "k": st.integers(min_value=-(2**63), max_value=2**63 - 1),
    "s": st.text(max_size=24),
    "d": st.floats(allow_nan=False, width=64),
    "b": st.booleans(),
    "z": st.integers(min_value=-(2**62), max_value=2**62),
    "raw": st.binary(max_size=16),
    # fixed64 round-trips as SIGNED long (two's complement — the
    # Spark 'long' pinning contract, ADVICE r11)
    "f64": st.integers(min_value=-(2**63), max_value=2**63 - 1),
    "f32": st.integers(min_value=0, max_value=2**32 - 1),
    # r12b: repeated numerics (packed on the wire) + repeated strings
    "ri": st.lists(st.integers(min_value=-(2**40), max_value=2**40),
                   max_size=6),
    "rs": st.lists(st.text(max_size=8), max_size=4),
    # r12b: nested messages, singular (with proto3 None-absence) and
    # repeated
    "m": st.one_of(st.none(), PB_GEO_ROW),
    "pts": st.lists(PB_GEO_ROW, max_size=3)})


@CODEC_PROP
@given(rows=st.lists(PB_ROW, min_size=0, max_size=40))
def test_protobuf_roundtrip_fuzz(rows):
    """make_delimited -> read_delimited is identity (zero values round
    trip through proto3 elision) for any field content."""
    from bigslice_spark.sources.protobuf import (make_delimited,
                                                 read_delimited)
    blob = make_delimited(PB_SCHEMA, rows)
    assert read_delimited(PB_SCHEMA, blob) == rows


def test_protobuf_repeated_wire_forms():
    """Repeated numerics encode PACKED (one wt-2 key) but decode from
    BOTH wire forms, and mixed packed + unpacked occurrences of the
    same field concatenate in wire order (the proto3 parser
    contract); repeated strings are one key per element; an absent
    repeated field decodes as a fresh empty list."""
    from bigslice_spark.sources.protobuf import (decode_message,
                                                 encode_message)
    sch = {1: ("ri", "repeated sint64"), 2: ("rs", "repeated string")}
    msg = encode_message(sch, {"ri": [1, -2, 3], "rs": ["a", "b"]})
    # packed: exactly ONE key for field 1 (key byte = 1<<3|2 = 0x0a)
    assert msg.count(bytes([0x0A])) == 1
    # field 2: one key per element (0x12)
    assert msg.count(bytes([0x12])) == 2
    assert decode_message(sch, msg) == {"ri": [1, -2, 3],
                                        "rs": ["a", "b"]}
    # unpacked form of field 1: three wt-0 occurrences (key 0x08),
    # zigzag values 2, 3, 6 -> 1, -2, 3
    unpacked = bytes([0x08, 2, 0x08, 3, 0x08, 6])
    assert decode_message(sch, unpacked) == {"ri": [1, -2, 3],
                                             "rs": []}
    # mixed: unpacked element then a packed pair -> concatenated
    mixed = bytes([0x08, 2]) + encode_message(sch, {"ri": [-2, 3]})
    assert decode_message(sch, mixed)["ri"] == [1, -2, 3]
    # absent repeated fields are independent fresh lists per message
    a = decode_message(sch, b"")
    b = decode_message(sch, b"")
    a["ri"].append(99)
    assert b["ri"] == []


def test_protobuf_nested_messages():
    """Nested messages (r12b — the tf.train.Example shape): singular
    and repeated sub-messages round-trip as dicts, absent singular
    messages decode to None (proto3 presence), and multiple
    occurrences of a singular message field MERGE spec-exactly
    (later scalars overwrite, nested repeated fields append) via
    wire-fragment concatenation."""
    from bigslice_spark.sources.protobuf import (decode_message,
                                                 encode_message)
    geo = {1: ("lat", "sint64"), 2: ("lon", "sint64"),
           3: ("tags", "repeated string")}
    sch = {1: ("name", "string"), 2: ("geo", geo),
           3: ("pts", ("repeated", geo))}
    msg = {"name": "x", "geo": {"lat": -5, "lon": 7, "tags": ["a"]},
           "pts": [{"lat": 1, "lon": 2, "tags": []},
                   {"lat": 0, "lon": -1, "tags": ["b", "c"]}]}
    assert decode_message(sch, encode_message(sch, msg)) == msg
    # absence: no geo on the wire -> None; empty dict -> present
    assert decode_message(sch, encode_message(sch, {"name": "y"})) \
        == {"name": "y", "geo": None, "pts": []}
    present = decode_message(sch, encode_message(
        sch, {"name": "y", "geo": {}}))
    assert present["geo"] == {"lat": 0, "lon": 0, "tags": []}
    # singular-message merge: two occurrences concatenate —
    # lat overwritten by the second fragment, tags append
    twice = (encode_message(sch, {"geo": {"lat": 3, "tags": ["a"]}})
             + encode_message(sch, {"geo": {"lat": 9, "tags": ["b"]}}))
    got = decode_message(sch, twice)["geo"]
    assert got == {"lat": 9, "lon": 0, "tags": ["a", "b"]}


@CODEC_PROP
@given(rows=st.lists(PB_ROW, min_size=1, max_size=10),
       drop=st.sampled_from([1, 2, 5]))
def test_protobuf_unknown_field_skipping_fuzz(rows, drop):
    """Decoding with any field REMOVED from the schema yields the
    remaining fields unchanged — forward compatibility under schema
    evolution, for every wire type."""
    from bigslice_spark.sources.protobuf import (make_delimited,
                                                 read_delimited)
    blob = make_delimited(PB_SCHEMA, rows)
    narrow = {n: f for n, f in PB_SCHEMA.items() if n != drop}
    got = read_delimited(narrow, blob)
    keep = [name for _, (name, _) in sorted(narrow.items())]
    assert got == [{k: r[k] for k in keep} for r in rows]


# --- Unigram Viterbi (r11b) ----------------------------------------

UNI_WORD = st.text(alphabet="abcd", min_size=1, max_size=10)
UNI_VOCAB = st.dictionaries(
    st.text(alphabet="abcd", min_size=2, max_size=4),
    st.integers(min_value=0, max_value=1000), max_size=12)


@CODEC_PROP
@given(word=UNI_WORD, vocab=UNI_VOCAB)
def test_unigram_viterbi_matches_bruteforce_fuzz(word, vocab):
    """viterbi_segment == exhaustive search under the exact integer
    objective for random words/vocabs (singles implicit at count 0;
    ties prefer the longest FINAL piece, recursively — the
    lexicographically-largest REVERSED piece-length sequence)."""
    from itertools import combinations

    from bigslice_spark.operators.unigram import (_NPIECE_SHIFT,
                                                  viterbi_segment)
    n = len(word)
    best = None
    for k in range(n):
        for cuts in combinations(range(1, n), k):
            pts = [0, *cuts, n]
            pieces = [word[pts[i]:pts[i + 1]]
                      for i in range(len(pts) - 1)]
            if any(len(p) > 4 or (len(p) > 1 and p not in vocab)
                   for p in pieces):
                continue
            score = (-(len(pieces) << _NPIECE_SHIFT)
                     + sum(vocab.get(p, 0) for p in pieces))
            key = (score, tuple(len(p) for p in reversed(pieces)))
            if best is None or key > best[0]:
                best = (key, pieces)
    assert viterbi_segment(word, vocab) == best[1]


def test_protobuf_map_fields():
    """proto3 map<K,V> (r13): wire-sugar for a repeated message with
    fields 1/2 — encoded one entry per occurrence, decoded back to a
    dict with LATER duplicate keys winning (the parser contract);
    message-typed values ride the same machinery; float/bytes keys
    are rejected per proto3."""
    import pytest

    from bigslice_spark.sources.protobuf import (decode_message,
                                                 encode_message,
                                                 make_delimited,
                                                 read_delimited)
    sch = {1: ("id", "int64"),
           2: ("attrs", ("map", "string", "int64")),
           3: ("meta", ("map", "sint64",
                        {1: ("n", "string"), 2: ("c", "int64")}))}
    rows = [{"id": 1, "attrs": {"a": 5, "b": -3, "": 0},
             "meta": {-7: {"n": "x", "c": 2}, 0: {"n": "", "c": 0}}},
            {"id": 2, "attrs": {}, "meta": {}}]
    assert read_delimited(sch, make_delimited(sch, rows)) == rows
    one = {1: ("attrs", ("map", "string", "int64"))}
    dup = (encode_message(one, {"attrs": {"k": 1}})
           + encode_message(one, {"attrs": {"k": 9}}))
    assert decode_message(one, dup)["attrs"] == {"k": 9}
    # zero-valued key AND value elide inside the entry message
    assert decode_message(one, encode_message(
        one, {"attrs": {"": 0}}))["attrs"] == {"": 0}
    with pytest.raises(NotImplementedError, match="map key"):
        encode_message({1: ("m", ("map", "double", "int64"))}, {"m": {}})


@CODEC_PROP
@given(m=st.dictionaries(st.text(max_size=6),
                         st.integers(-2**63, 2**63 - 1), max_size=12))
def test_protobuf_map_roundtrip_fuzz(m):
    from bigslice_spark.sources.protobuf import (decode_message,
                                                 encode_message)
    sch = {1: ("m", ("map", "string", "int64"))}
    assert decode_message(sch, encode_message(sch, {"m": m}))["m"] == m


def test_avro_logical_types():
    """Avro logical types (r13): decimal (big-endian two's-complement
    unscaled int over bytes OR fixed), date (epoch days),
    timestamp-millis/micros (naive UTC) round-trip through every
    codec; unknown and invalid annotations fall back to the base type
    per the spec; a value that does not fit the declared scale
    raises."""
    import datetime
    import json
    from decimal import Decimal

    import pytest

    from bigslice_spark.sources.avro import make_avro, read_avro_blob
    sch = json.dumps({"type": "record", "name": "r", "fields": [
        {"name": "amount", "type": {"type": "bytes",
                                    "logicalType": "decimal",
                                    "precision": 10, "scale": 2}},
        {"name": "amtf", "type": {"type": "fixed", "name": "F8",
                                  "size": 8, "logicalType": "decimal",
                                  "precision": 18, "scale": 4}},
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {"name": "ts", "type": {"type": "long",
                                "logicalType": "timestamp-micros"}},
        {"name": "tsm", "type": {"type": "long",
                                 "logicalType": "timestamp-millis"}},
        {"name": "uid", "type": {"type": "string",
                                 "logicalType": "uuid"}},
        {"name": "tm", "type": {"type": "int",
                                "logicalType": "time-millis"}},
        {"name": "mystery", "type": {"type": "long",
                                     "logicalType": "no-such-type"}}]})
    t0 = datetime.datetime(2021, 6, 1, 12, 30, 45, 123456)
    rows = [(Decimal("-12345.67") + i, Decimal("99.1234") * (i - 2),
             datetime.date(2020, 1, 1) + datetime.timedelta(days=i),
             t0 + datetime.timedelta(seconds=i),
             datetime.datetime(2021, 6, 1, 12, 30, 45, 123000),
             f"0000-{i:04d}",          # uuid: string passthrough
             3_600_000 + i,            # time-millis: stays an int
             10**12 + i)               # unknown: stays a long
            for i in range(5)]
    for codec in ("null", "deflate", "snappy", "zstd"):
        _, got = read_avro_blob(make_avro(sch, rows, codec=codec,
                                          block_rows=2))
        assert got == rows, codec
    with pytest.raises(ValueError, match="scale"):
        make_avro(sch, [(Decimal("1.999"),) + rows[0][1:]])
    with pytest.raises(ValueError, match="millisecond"):
        make_avro(sch, [rows[0][:4] + (t0,) + rows[0][5:]])
