"""Plan-shape regression tests: the 100TB-readiness gate. A query can be
value-correct and still carry a plan that dies at scale — these tests pin
the physical strategies (pushdown, broadcast, partial agg, shuffle counts)
so a refactor can't silently regress them."""

import re

import pyspark.sql.functions as F

from bigslice_spark.plans import (assert_broadcast_join,
                                  assert_partial_aggregation,
                                  assert_pushed_filters, broadcast_scans,
                                  count_exchanges, explain_str,
                                  scans_with_pushed_filters)
from bigslice_spark.queries import QUERIES


def test_filter_reaches_parquet_scan(spark, sf_dir):
    df = QUERIES["op_filter"](spark, sf_dir)
    assert_pushed_filters(df, "l_quantity")
    assert_pushed_filters(df, "l_returnflag")


def test_q1_prunes_columns(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    scans = scans_with_pushed_filters(df)
    assert scans, "no parquet scan found"
    schema = scans[0][0]
    # only the 7 referenced columns, not all 11
    assert "l_orderkey" not in schema and "l_suppkey" not in schema, schema
    assert "l_quantity" in schema and "l_returnflag" in schema


def test_q3_broadcasts_dims(spark, sf_dir):
    """q3 streams lineitem: its build sides are customer and the
    date-filtered orders, never the lineitem scan."""
    df = QUERIES["q3_shipping_priority"](spark, sf_dir)
    built = {t for scans in broadcast_scans(df) for t, _ in scans}
    assert built == {"customer", "orders"}, broadcast_scans(df)


def test_no_tpch_query_broadcasts_raw_lineitem(spark, sf_dir):
    """The fact table is always the streamed side: no q<N>_ entry's
    broadcast build side scans lineitem without an aggregate in
    between (aggregated lineitem, as in q11/q15/q18/q20, is
    dimension-sized and fine). Plans only; nothing runs."""
    raw = {}
    for name in sorted(QUERIES):
        if re.match(r"q\d+_", name):
            builds = broadcast_scans(QUERIES[name](spark, sf_dir))
            if any(("lineitem", False) in scans for scans in builds):
                raw[name] = builds
    assert not raw, raw


def test_q5_broadcasts_dims(spark, sf_dir):
    assert_broadcast_join(QUERIES["q5_regional_revenue"](spark, sf_dir))


def test_reduce_has_partial_aggregation(spark, sf_dir):
    """Catalyst partial/final HashAggregate ↔ the reference's map-side
    Combiner (reduce.go:58,71)."""
    assert_partial_aggregation(QUERIES["op_reduce"](spark, sf_dir))
    assert_partial_aggregation(QUERIES["word_count"](spark, sf_dir))


def test_q1_single_shuffle(spark, sf_dir):
    """Q1 is scan → partial agg → one exchange → final agg."""
    n = count_exchanges(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert n == 1, f"expected exactly 1 shuffle, plan has {n}"


def test_topk_uses_take_ordered(spark, sf_dir):
    """Global top-k must plan TakeOrderedAndProject, not a global sort."""
    txt = explain_str(QUERIES["topk_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in txt, txt[:1500]


def test_similarity_brute_force_no_preshuffle(spark, sf_dir):
    """Brute-force ANN: corpus scan + broadcast of queries; the only
    exchange allowed is for the final per-query top-k window."""
    df = QUERIES["similarity_topk"](spark, sf_dir)
    txt = explain_str(df)
    assert "BroadcastHashJoin" in txt or "BroadcastNestedLoopJoin" in txt
    assert count_exchanges(df) <= 1, explain_str(df)[:1500]


def test_sessionize_reuses_one_sort(spark, sf_dir):
    """Both windows share (user_id, ts, event_id) ordering → one exchange
    + at most two sorts within the same partitioning."""
    df = QUERIES["sessionize"](spark, sf_dir)
    n = count_exchanges(df)
    assert n <= 2, f"sessionize shuffles {n}× (want ≤2)"


def test_advise_shuffle_partitions():
    from bigslice_spark.plans import advise_shuffle_partitions
    assert advise_shuffle_partitions(0) == 16
    assert advise_shuffle_partitions(100 << 40) == 200_000  # 100TB clamped
    assert advise_shuffle_partitions(64 << 30) == 513  # 64GB → ~513


def test_q6_all_predicates_pushed(spark, sf_dir):
    """Q6 is the pushdown acid test: every predicate must reach the scan."""
    df = QUERIES["q6_forecast_revenue"](spark, sf_dir)
    assert_pushed_filters(df, "l_shipdate")
    assert_pushed_filters(df, "l_discount")
    assert_pushed_filters(df, "l_quantity")


def test_salted_agg_two_stages(spark, sf_dir):
    """Salted agg: two exchanges (salt stage + merge stage) by design."""
    from bigslice_spark.plans import count_exchanges
    n = count_exchanges(QUERIES["op_salted_agg"](spark, sf_dir))
    assert 1 <= n <= 2, f"expected 1-2 exchanges, got {n}"


def test_tpch_remainder_plan_shapes(spark, sf_dir):
    """Ceilings for the adapted q7-q22 batch: dims always broadcast,
    never a cartesian product, and the exchange count stays at the
    audited minimum (fact⋈fact joins are allowed to SMJ — at 100TB both
    sides of lineitem⋈orders are big; everything else must not add
    shuffles)."""
    ceilings = {
        "q7_volume_shipping": 3,   # li⋈ord SMJ (2) + final agg
        "q8_market_share": 3,
        "q9_product_profit": 2,    # 1 at small SF when orders broadcasts
        "q11_important_parts": 3,  # part agg + 1-row total + filter join
        "q12_late_lines": 2,
        "q13_customer_distribution": 2,  # left join agg + histogram agg
        "q15_top_supplier": 3,
        "q17_small_quantity": 2,   # window + global agg
        "q20_part_promotion": 1,   # pre-agg'd semi join, dims broadcast
        "q21_waiting_suppliers": 3,  # pair agg + window + name agg
        "q22_idle_customers": 2,
    }
    for name, ceil in ceilings.items():
        df = QUERIES[name](spark, sf_dir)
        txt = explain_str(df)
        assert "Cartesian" not in txt, f"{name}: cartesian product"
        n = count_exchanges(df)
        assert n <= ceil, f"{name}: {n} exchanges (ceiling {ceil})"
        assert "BroadcastHashJoin" in txt or "BroadcastNestedLoopJoin" \
            in txt, f"{name}: no broadcast join in plan"


def test_lsh_pair_generation_is_equi_join(spark, sf_dir, tables):
    """The un-capped LSH pair generators must stay bucketed equi-joins:
    no Cartesian/BroadcastNestedLoop anywhere (the all-pairs plan that
    dies at 100TB), bounded exchanges past the signature checkpoint."""
    from bigslice_spark.operators.dedup import (embedding_cosine_pairs,
                                                minhash_lsh_pairs,
                                                simhash_pairs)
    docs = tables["documents"]
    for name, df in [
        ("minhash", minhash_lsh_pairs(docs)),
        ("simhash", simhash_pairs(docs)),
        ("embedding", embedding_cosine_pairs(tables["embeddings"],
                                             threshold=0.4)),
    ]:
        txt = explain_str(df)
        assert "Cartesian" not in txt, f"{name}: cartesian"
        assert "BroadcastNestedLoopJoin" not in txt, f"{name}: BNL"
        # the salted self-join is PINNED to sort-merge (a broadcast
        # would leave the probe side partitioned by bucket key alone,
        # un-spreading a degenerate bucket's B² output), so both its
        # sides legitimately exchange on keys+cells even at test scale
        assert "SortMergeJoin" in txt, f"{name}: self-join not SMJ"
        n = count_exchanges(df)
        assert n <= 5, f"{name}: {n} exchanges past the sig checkpoint"


def test_sampling_ops_plan_shapes(spark, sf_dir, tables):
    """hash_split is a pure projection (ZERO exchanges); budget_sample
    is exactly the one window shuffle."""
    from bigslice_spark.operators.sampling import budget_sample, hash_split
    docs = tables["documents"]
    split = hash_split(docs).select("doc_id", "split")
    assert count_exchanges(split) == 0, explain_str(split)[:800]
    bs = budget_sample(
        docs.select("doc_id", "lang",
                    F.length("text").cast("long").alias("w")),
        "w", budget=1000, key_col="lang")
    assert count_exchanges(bs) == 1, explain_str(bs)[:800]


def test_fold_stream_single_shuffle(spark, sf_dir, tables):
    """fold_stream: one repartition exchange + in-partition sort; the
    Arrow stage must not add a second shuffle."""
    from bigslice_spark import Session
    sess = Session(spark)
    sl = sess.wrap(tables["lineitem"].select("l_returnflag",
                                             "l_quantity"))
    out = sl.fold_stream(
        lambda: [0], lambda acc, c: [acc[0] + len(c)],
        lambda k, acc: {"l_returnflag": k[0], "n": acc[0]},
        "l_returnflag string, n long")
    assert count_exchanges(out.df) == 1, explain_str(out.df)[:800]


def test_range_join_avoids_nested_loop(spark, sf_dir):
    """The binned interval join must plan as a hash equi-join on the bin
    id — never BroadcastNestedLoop/Cartesian (the naive range-join plan
    that dies at 100TB)."""
    df = QUERIES["range_join"](spark, sf_dir)
    txt = explain_str(df)
    assert "BroadcastNestedLoopJoin" not in txt, txt[:1500]
    assert "Cartesian" not in txt, txt[:1500]


def test_bucketed_join_has_no_exchange(spark, tables, tmp_path_factory):
    """Session.write_bucketed co-locates tables on the join key: a join
    of two tables bucketed the same way must plan ZERO exchanges — the
    100TB ingest pattern (bucket the canonical tables once, never
    shuffle them again)."""
    from bigslice_spark import Session
    sess = Session(spark)
    base = tmp_path_factory.mktemp("bucketed")
    try:
        o = sess.write_bucketed(
            tables["orders"].select("o_orderkey", "o_custkey"),
            "orders_bkt", ["o_orderkey"], 4,
            sort_by=["o_orderkey"], path=str(base / "orders"))
        li = sess.write_bucketed(
            tables["lineitem"].select("l_orderkey", "l_quantity"),
            "lineitem_bkt", ["l_orderkey"], 4,
            sort_by=["l_orderkey"], path=str(base / "lineitem"))
        # force SMJ so the assertion can't pass vacuously via broadcast
        j = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey) \
            .groupBy("o_custkey").agg(F.sum("l_quantity").alias("q"))
        txt = explain_str(j)
        assert "SortMergeJoin" in txt, txt[:1200]
        n = count_exchanges(j)
        # one exchange allowed for the final custkey agg; the join
        # itself must not shuffle either bucketed side
        assert n <= 1, f"bucketed join plans {n} exchanges"
        assert j.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS lineitem_bkt")


def test_partitioned_write_prunes_partitions(spark, tables,
                                             tmp_path_factory):
    """Session.write_partitioned: a filter on the partition column must
    become directory-level PartitionFilters (zero I/O for excluded
    partitions), and a join against a filtered dim must plan dynamic
    partition pruning — the two mechanisms that make 100TB scans pay
    only for the slice they need."""
    from bigslice_spark import Session
    sess = Session(spark)
    d = str(tmp_path_factory.mktemp("part") / "events")
    sess.write_partitioned(tables["events"], d, ["event_type"])

    ev = spark.read.parquet(d)
    static = ev.filter(F.col("event_type") == "click")
    txt = explain_str(static)
    assert "PartitionFilters" in txt and "event_type" in txt, txt[:1500]
    assert static.count() > 0

    dim = (tables["events"].select("event_type").distinct()
           .filter(F.col("event_type").isin("click", "error")))
    j = ev.join(dim, on="event_type")
    jtxt = explain_str(j)
    assert "dynamicpruning" in jtxt.lower(), jtxt[:2000]


def test_decontaminate_corpus_never_shuffles(spark, sf_dir, tables):
    """Decontamination at 100 TB: the train corpus must meet the eval
    shingles via a broadcast hash join (map-side, no corpus exchange);
    the only exchanges allowed are the shingle window + final count agg
    on the narrow (train_id, eval_id) hit relation."""
    from bigslice_spark.operators.decontam import contamination_report
    docs = tables["documents"]
    rep = contamination_report(docs.filter(F.col("doc_id") % 17 != 0),
                               docs.filter(F.col("doc_id") % 17 == 0))
    txt = explain_str(rep)
    assert "BroadcastHashJoin" in txt, txt[:2000]
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_bloom_join_probe_counts(spark, tables):
    """The bloom membership joins' python footprint is pinned: semi
    probes the big side ONCE; anti's two union arms each probe (the
    DOCUMENTED two-scan exact-anti trade-off, bloom_anti_join
    docstring — two pushdown-pruned scans beat materializing the big
    side or a NULL-key outer join). A third eval in either join means
    the r9c pushdown bug is back."""
    from bigslice_spark.operators.bloom import (bloom_anti_join,
                                                bloom_build,
                                                bloom_semi_join)
    from bigslice_spark.plans import plan_report
    big = tables["lineitem"].select("l_orderkey", "l_partkey")
    keys = (tables["part"].filter(F.col("p_size") > 40)
            .select(F.col("p_partkey").alias("l_partkey")))
    bloom = bloom_build(keys, "l_partkey")
    semi = plan_report(bloom_semi_join(big, keys, on="l_partkey",
                                       bloom=bloom))
    assert semi["n_python"] == 1 and not semi["duplicated_python_udf"]
    anti = plan_report(bloom_anti_join(big, keys, on="l_partkey",
                                       bloom=bloom))
    assert anti["n_python"] == 2  # one per union arm, never more


def test_ngram_novelty_corpus_never_shuffles_on_grams(spark, tables):
    """Novelty scoring at 100 TB: the candidate corpus's shingles meet
    the reference grams via a broadcast LEFT join (map-side, no corpus
    exchange on gram text)."""
    from bigslice_spark.operators.decontam import ngram_novelty
    docs = tables["documents"]
    ref = docs.filter(F.col("doc_id") % 10 == 0)
    cand = docs.filter(F.col("doc_id") % 10 != 0)
    txt = explain_str(ngram_novelty(cand, ref))
    assert "BroadcastHashJoin" in txt, txt[:2000]
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_repetition_stats_single_shuffle(spark, tables):
    """Both aggs cluster on a superset of the shingle window's hash
    partitioning — the whole operator is one exchange."""
    from bigslice_spark.operators.text import repetition_stats
    df = repetition_stats(tables["documents"], ngram_w=2)
    n = count_exchanges(df)
    assert n == 1, explain_str(df)[:2000]


def test_pack_sequences_no_rowlevel_single_partition(spark, tables):
    """The global prefix sum must be the two-level scan: the only
    SinglePartition exchange allowed is the one over the ~#partitions
    per-partition totals — never over row-level data (a naive
    `sum() over (order by id)` window would plan exactly that)."""
    from bigslice_spark.operators.packing import pack_sequences
    txt = explain_str(pack_sequences(tables["documents"], 512))
    assert txt.count("SinglePartition") == 1, txt[:2000]
    # and the broadcast of partition offsets is present
    assert "BroadcastExchange" in txt


def test_epoch_order_no_rowlevel_single_partition(spark, tables):
    """epoch_order's global positions must come from the two-level
    scan (range partition + local row_number + broadcast offsets):
    the only SinglePartition exchange allowed is over the
    ~#partitions per-partition counts — a naive global
    `row_number() over (order by pri)` would single-partition the
    whole corpus."""
    from bigslice_spark.operators.sampling import epoch_order
    df = epoch_order(tables["documents"], seed=7, epoch=1)
    txt = explain_str(df)
    # (the range exchange itself sits inside the materialize()
    # checkpoint subtree and is not visible in this plan text)
    assert txt.count("SinglePartition") == 1, txt[:2000]
    assert "BroadcastExchange" in txt


def test_winnow_single_window_exchange(spark, tables):
    """The k-gram lead window and the winnowing min window share
    (id, pos) clustering — one exchange serves both; the only other
    shuffle is the distinct on narrow (id, fp, pos) rows."""
    from bigslice_spark.operators.winnow import winnow_fingerprints
    df = winnow_fingerprints(tables["documents"], k=3, window=4)
    n = count_exchanges(df)
    assert n <= 2, explain_str(df)[:2000]


def test_pii_scrub_is_pure_projection(spark, tables):
    """scrub_pii adds zero exchanges — it must run at scan speed."""
    from bigslice_spark.operators.pii import scrub_pii
    df = scrub_pii(tables["documents"])
    assert count_exchanges(df) == 0, explain_str(df)[:800]
    assert "codegen id" in explain_str(df)


def test_span_dedup_ownership_shuffles_hashes_not_text(spark, tables):
    """span_dedup's ownership agg must shuffle (md5, id) pairs only —
    the exchange feeding the owner HashAggregate carries no span text;
    the text moves in exactly the verdict join + reassembly."""
    from bigslice_spark.operators.dedup import span_dedup
    txt = explain_str(span_dedup(tables["documents"]))
    import re
    # the exchange directly under the partial owner agg projects [h, id]
    aggs = [m for m in re.finditer(r"Arguments: hashpartitioning\(h#\d+",
                                   txt)]
    assert aggs, txt[:2000]
    assert "Cartesian" not in txt


def test_classifier_scoring_broadcasts_model(spark, tables):
    """score_documents: the model joins broadcast (the corpus never
    shuffles for the join); the per-doc agg is the single exchange and
    has a map-side partial stage."""
    from bigslice_spark.operators.classify import (demo_weights,
                                                   score_documents)
    df = score_documents(tables["documents"], demo_weights(spark))
    txt = explain_str(df)
    assert "BroadcastHashJoin" in txt, txt[:1500]
    assert count_exchanges(df) == 1, txt[:1500]
    assert_partial_aggregation(df)


def test_stratified_frac_zero_exchanges(spark, tables):
    from bigslice_spark.operators.sampling import stratified_frac
    df = stratified_frac(tables["documents"], "lang", {"en": 0.25})
    assert count_exchanges(df) == 0, explain_str(df)[:800]


# ---------------------------------------------------------------- round 4


def test_random_projection_zero_exchanges(spark, tables):
    from bigslice_spark.operators.projection import random_projection
    df = random_projection(tables["embeddings"], out_dim=8, dim=64)
    assert count_exchanges(df) == 0  # pure codegen map over the scan


def test_kmeans_assign_zero_exchanges(spark, tables):
    """The broadcast fold at 8x64: centroids arrive by BROADCAST, the
    per-vector argmin is a map-side partial aggregate, and the only
    shuffle is n 1-row groups — with the rows of the unrolled argmin
    text it replaced."""
    from bigslice_spark.operators.clustering import (kmeans_assign,
                                                     seed_centroids)
    from .unrolled_argmin import kmeans_assign_unrolled
    cents = seed_centroids(8, 64)
    auto = kmeans_assign(tables["embeddings"], cents)
    plan = explain_str(auto)
    assert "BroadcastExchange" in plan
    assert count_exchanges(auto) == 1, plan[:1200]
    assert_partial_aggregation(auto)
    ref = kmeans_assign_unrolled(tables["embeddings"], cents)
    assert sorted(auto.collect()) == sorted(ref.collect())


def test_bm25_scalars_broadcast_and_bounded_exchanges(spark, sf_dir):
    df = QUERIES["bm25_search"](spark, sf_dir)
    plan = explain_str(df)
    # corpus scalars + per-term df arrive via broadcast (the 1-row cross
    # join is a BuildRight BNL over one row — fine at any corpus size);
    # an unpartitioned CartesianProduct would be the all-pairs disaster
    assert "CartesianProduct" not in plan
    # tf agg + df agg + scalar agg + per-doc agg + final top-k: the
    # posting-list data itself shuffles a bounded number of times
    assert count_exchanges(df) <= 6


def test_triangle_count_all_equi_joins(spark, sf_dir):
    plan = explain_str(QUERIES["triangle_count"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_value_is_codegen(spark, tables):
    from bigslice_spark.operators.projection import zorder_value
    df = tables["lineitem"].select(
        zorder_value("l_partkey", "l_suppkey").alias("z"))
    assert count_exchanges(df) == 0


def test_funnel_single_event_scale_shuffle(spark, sf_dir):
    # the raw event table is shuffled once (user_id agg); the chaining
    # joins run on per-user aggregates — exchanges stay bounded
    df = QUERIES["funnel_steps"](spark, sf_dir)
    assert count_exchanges(df) <= 6  # 3 aggs + joins, all user_id-keyed


def test_price_histogram_single_aggregation(spark, sf_dir):
    df = QUERIES["price_histogram"](spark, sf_dir)
    # map-side partial agg + one exchange on the bin id — nothing else
    assert count_exchanges(df) == 1
    assert_partial_aggregation(df)


def test_stream_enrich_is_stateless_broadcast(spark, sf_dir):
    # the plan gate runs on the BATCH equivalent of the enrichment (the
    # streaming plan is per-micro-batch): dims must broadcast
    from bigslice_spark.session import load_tables
    t = load_tables(spark, sf_dir)
    ev = (t["events"].filter(F.col("event_type") == "purchase")
          .withColumn("__ck__", F.col("user_id") % 1500))
    cust = t["customer"].select(
        F.col("c_custkey").alias("__ck__"), "c_name", "c_nationkey")
    j = ev.join(F.broadcast(cust), on="__ck__")
    txt = explain_str(j)
    assert "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt


def test_dedup_keep_best_no_cartesian(spark, sf_dir):
    txt = explain_str(QUERIES["dedup_keep_best"](spark, sf_dir))
    assert "CartesianProduct" not in txt


def test_heavy_hitters_scan_counts(spark, sf_dir):
    """Exact mode reads the corpus exactly twice (candidate pass +
    recount — N rides the candidate pass, no third count scan); the
    one-pass approximate mode reads it once."""
    from bigslice_spark.plans import count_scans
    from bigslice_spark.session import load_tables
    from bigslice_spark.operators.sketch import heavy_hitters
    docs = load_tables(spark, sf_dir)["documents"]
    assert count_scans(heavy_hitters(docs, phi=0.01)) == 2
    assert count_scans(heavy_hitters(docs, phi=0.01, exact=False)) == 1


def test_ewma_single_exchange(spark, sf_dir):
    """Per-key EWMA is ONE aggregation exchange (partial collect_list
    rides the map side); no window, no second shuffle."""
    from bigslice_spark.plans import count_exchanges
    n = count_exchanges(QUERIES["ewma_value"](spark, sf_dir))
    assert n == 1, f"expected exactly 1 shuffle, plan has {n}"


def test_equidepth_no_single_partition_data_exchange(spark, sf_dir):
    """The global rank's DATA rows must never pass through a
    SinglePartition exchange (the naive global-sort-window plan);
    per-range __pid windows carry the data side, and SinglePartition
    is allowed only for the metadata-sized offset/total subtrees
    (whose rows are partition counts, not table rows)."""
    import re
    from bigslice_spark.plans import explain_str
    txt = explain_str(QUERIES["equidepth_histogram"](spark, sf_dir))
    assert "__pid" in txt  # data-side windows are per-range-partition
    for block in re.split(r"\n(?=\(\d+\) )", txt):
        head = block.splitlines()[0]
        if not re.match(r"\(\d+\) Exchange", head):
            continue
        args = next((l for l in block.splitlines()
                     if l.startswith("Arguments:")), "")
        inp = next((l for l in block.splitlines()
                    if l.startswith("Input")), "")
        if "o_totalprice" in inp:
            assert "SinglePartition" not in args, (head, args)


def test_partitioned_snapshot_read_prunes_partitions(spark, tmp_path):
    """A filter on the partition column of a manifest-based snapshot
    table must reach every group scan as a PartitionFilter (carried
    and local dirs alike) — the partition-pruned read that makes the
    mutable-table format viable at 100 TB."""
    import re
    from bigslice_spark.operators.upsert import read_latest, upsert
    from bigslice_spark.plans import explain_str
    path = str(tmp_path / "tbl")
    upsert(spark, path, spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2), (3, "c", 3)],
        "k long, p string, x long"), ["k"], partition_by=["p"])
    upsert(spark, path, spark.createDataFrame(
        [(2, "b", 22)], "k long, p string, x long"), ["k"])
    df = read_latest(spark, path).filter(F.col("p") == "a")
    txt = explain_str(df)
    scans = [b for b in re.split(r"\n(?=\(\d+\) )", txt)
             if b.splitlines()[0].endswith("Scan parquet ")
             or "Scan parquet" in b.splitlines()[0]]
    assert scans, txt[:1500]
    for b in scans:
        pf = next((l for l in b.splitlines()
                   if l.startswith("PartitionFilters")), "")
        assert "= a)" in pf, (b.splitlines()[0], pf)
    assert [(r["k"], r["x"]) for r in df.collect()] == [(1, 1)]


def test_event_gaps_reuses_window_partitioning(spark, sf_dir):
    """lag window and the following per-user aggregation share the
    user_id hash partitioning — one exchange total."""
    n = count_exchanges(QUERIES["event_gaps"](spark, sf_dir))
    assert n == 1, f"expected exactly 1 shuffle, plan has {n}"


def test_sample_per_key_single_exchange(spark, sf_dir):
    """Per-key reservoir sample is one window shuffle on the key."""
    n = count_exchanges(QUERIES["sample_per_key"](spark, sf_dir))
    assert n == 1, f"expected exactly 1 shuffle, plan has {n}"


def test_ts_anomaly_single_exchange(spark, sf_dir):
    """Rolling z-score: one window exchange on the key; the ROWS frame
    keeps per-row state O(window)."""
    n = count_exchanges(QUERIES["ts_anomaly"](spark, sf_dir))
    assert n == 1, f"expected exactly 1 shuffle, plan has {n}"


def test_time_rollup_fused_with_partial_agg(spark, sf_dir):
    """All four grains come from one fused rollup (Expand) plus the
    exact count-distinct's second exchange — never four scans."""
    df = QUERIES["time_rollup"](spark, sf_dir)
    n = count_exchanges(df)
    assert n <= 2, f"expected <=2 shuffles, plan has {n}"
    import re
    txt = explain_str(df)
    scans = re.findall(r"\(\d+\) Scan parquet", txt)
    assert len(scans) == 1, f"events must be scanned once: {scans}"
    assert "Expand" in txt, "rollup should plan a fused Expand"
    assert_partial_aggregation(df)


def test_semantic_dedup_no_cartesian_and_salted_cells(spark, sf_dir):
    """SemDeDup candidates come from the salted per-cell equi-join —
    never a cartesian/broadcast-nested-loop over the corpus."""
    txt = explain_str(QUERIES["semantic_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_kmeans_means_is_projection_plus_single_agg(spark, tables):
    """The per-iteration Lloyd cost: the broadcast-join fold assignment
    — no extra DATA shuffle beyond the assignment join-back, never a
    data-scale exchange — with the rows of the unrolled argmin text it
    replaced."""
    from bigslice_spark.operators.clustering import (kmeans_means,
                                                     seed_centroids)
    from .unrolled_argmin import kmeans_means_unrolled
    cents = seed_centroids(8, 64)
    auto = kmeans_means(tables["embeddings"], cents)
    plan = explain_str(auto)
    assert "BroadcastExchange" in plan, plan[:1200]
    assert count_exchanges(auto) <= 3, plan[:1200]
    assert_partial_aggregation(auto)
    ref = kmeans_means_unrolled(tables["embeddings"], cents)
    assert sorted(auto.collect()) == sorted(ref.collect())


def test_gopher_rules_zero_exchanges(spark, sf_dir):
    """The quality battery is a pure projection — no shuffle at any
    corpus size."""
    n = count_exchanges(QUERIES["gopher_rules"](spark, sf_dir))
    assert n == 0, f"expected 0 shuffles, plan has {n}"


def test_data_checks_single_scan_single_agg(spark, sf_dir):
    """All expectations fold into ONE conditional aggregation: one
    scan, one exchange of a single partial row."""
    import re
    df = QUERIES["data_checks"](spark, sf_dir)
    n = count_exchanges(df)
    assert n == 1, f"expected 1 shuffle, plan has {n}"
    txt = explain_str(df)
    scans = re.findall(r"\(\d+\) Scan parquet", txt)
    assert len(scans) == 1, f"lineitem must be scanned once: {scans}"


def test_range_sorted_layout_no_global_sort(spark, sf_dir):
    """Total-order layout must range-partition (sampled exchange) and
    sort within partitions — never collapse to one partition."""
    txt = explain_str(QUERIES["range_sorted_layout"](spark, sf_dir))
    assert "rangepartitioning" in txt.lower(), txt[:1200]
    assert "SinglePartition" not in txt, txt[:1200]
    assert "Sort" in txt


def test_ts_pattern_search_take_ordered(spark, sf_dir):
    """Subsequence top-k: one window exchange + TakeOrderedAndProject
    — never a global sort."""
    df = QUERIES["ts_pattern_search"](spark, sf_dir)
    txt = explain_str(df)
    assert "TakeOrderedAndProject" in txt, txt[:1200]
    n = count_exchanges(df)
    assert n == 1, f"expected 1 shuffle, plan has {n}"


def test_key_percentiles_single_exchange(spark, sf_dir):
    """Rank + count share the key partitioning; the picking agg reuses
    it — one exchange total."""
    n = count_exchanges(QUERIES["key_percentiles"](spark, sf_dir))
    assert n <= 2, f"expected <=2 shuffles, plan has {n}"


def test_common_paths_take_ordered(spark, sf_dir):
    txt = explain_str(QUERIES["common_paths"](spark, sf_dir))
    assert "TakeOrderedAndProject" in txt, txt[:1000]


def test_winsorize_single_exchange(spark, sf_dir):
    """Rank window + band-edge window aggregates share one key
    exchange; the clamp is a projection."""
    n = count_exchanges(QUERIES["winsorize_values"](spark, sf_dir))
    assert n == 1, f"expected 1 shuffle, plan has {n}"


def test_plan_report_summarizes_q3(spark, sf_dir):
    from bigslice_spark.plans import plan_report
    q3 = QUERIES["q3_shipping_priority"](spark, sf_dir)
    q3.collect()   # the adaptive plan's codegen stages exist once run
    r = plan_report(q3)
    assert r["broadcast"] and not r["cartesian"]
    assert r["n_scans"] >= 3 and r["n_exchanges"] >= 1
    assert 0.0 < r["codegen_fraction"] <= 1.0
    assert r["pushed_scans"]
    # pure relational plan: no Expand, no Python nodes
    assert r["n_expands"] == 0 and r["n_python"] == 0
    # and the smell detectors actually fire where they should
    rollup = plan_report(QUERIES["rollup_agg"](spark, sf_dir))
    assert rollup["n_expands"] == 1
    bpe = plan_report(QUERIES["bpe_token_counts"](spark, sf_dir))
    assert bpe["n_python"] == 1


def test_codegen_fraction_counts_nodes_not_stages(spark):
    """range -> groupBy(k).count() without adaptive execution plans
    five nodes, four inside codegen stages; the Exchange is not. Under
    adaptive execution the fraction is unknown until the plan runs."""
    from bigslice_spark.plans import codegen_fraction

    def grouped():
        return spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        df = grouped()
        assert codegen_fraction(df) is None
        df.collect()
        assert 0.0 < codegen_fraction(df) < 1.0
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        assert codegen_fraction(grouped()) == 0.8
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_bpe_encode_no_python_over_corpus(spark, sf_dir):
    """Plan-native BPE encoding: the ONLY Python (ArrowEvalPython)
    node runs over the distinct-words relation — every path from an
    ArrowEvalPython down to a parquet scan must cross a HashAggregate
    (the distinct), so no Python executes per corpus row."""
    df = QUERIES["bpe_token_counts"](spark, sf_dir)
    tree = df._jdf.queryExecution().executedPlan().toString()
    lines = tree.splitlines()

    def indent(s):
        return len(s) - len(s.lstrip(" :+-*("))

    arrows = [i for i, l in enumerate(lines) if "ArrowEvalPython" in l]
    assert len(arrows) == 1, tree[:1500]
    i = arrows[0]
    base = indent(lines[i])
    saw_agg = False
    for l in lines[i + 1:]:
        if indent(l) <= base and l.strip():
            break  # left the ArrowEvalPython subtree
        if "HashAggregate" in l or "SortAggregate" in l:
            saw_agg = True
        if "Scan parquet" in l:
            assert saw_agg, \
                "ArrowEvalPython reads a scan with no aggregate " \
                "between them (Python over corpus rows):\n" + tree[:1500]
    assert saw_agg, tree[:1500]


def test_approx_distinct_no_expand(spark, sf_dir):
    """The exact count-distinct must stay in its own aggregation pass:
    mixing it with the object-buffer sketch aggregates triggers the
    Expand-based distinct rewrite and every buffer then runs over 2x
    expanded input (13.6s vs 1.3s at sf0.1)."""
    txt = explain_str(QUERIES["approx_distinct"](spark, sf_dir))
    assert "Expand" not in txt, txt[:1200]


def test_ewma_distributed_hub_safe(spark, tables):
    """ewma_last(method='distributed'): NO collect_list anywhere (no
    per-key array — the hub-key contract) and ONE exchange total — the
    final aggregation reuses the window's hash partitioning on the
    key instead of re-shuffling."""
    from bigslice_spark.operators.timeseries import ewma_last
    out = ewma_last(tables["events"], "user_id", "ts", "value",
                    order_cols=["event_id"], alpha=0.5,
                    method="distributed")
    plan = explain_str(out)
    assert "collect_list" not in plan, plan[:1200]
    assert count_exchanges(out) == 1, plan[:1200]


def test_fold_stream_segmented_two_stages(spark, tables):
    """Segmented fold_stream: exactly two exchanges — stage 1 on
    (key, segment), stage 2 on (key) — and stage 2's input schema is
    the pickled-accumulator rows (binary __acc__), never the events."""
    from bigslice_spark import Session
    sess = Session(spark)
    sl = sess.wrap(tables["lineitem"].select(
        "l_returnflag",
        F.date_trunc("month", "l_shipdate").alias("m"), "l_quantity"))
    out = sl.fold_stream(
        lambda: [0], lambda acc, c: [acc[0] + len(c)],
        lambda k, acc: {"l_returnflag": k[0], "n": acc[0]},
        "l_returnflag string, n long",
        segment_col="m", merge=lambda a, b: [a[0] + b[0]])
    plan = explain_str(out.df)
    assert count_exchanges(out.df) == 2, plan[:1200]
    assert "__acc__" in plan


def test_bloom_probe_single_python_eval(spark, tables):
    # the r9c pushdown finding: a deterministic pandas UDF whose
    # output is filtered gets pushed below the distinct and evaluated
    # twice; bloom_probe pins its UDF (asNondeterministic) so exactly
    # ONE Arrow node plans, above the narrow projection
    import pyspark.sql.functions as F
    from bigslice_spark.operators.bloom import bloom_build, bloom_probe
    from bigslice_spark.operators.dedup import _shingle_rows
    from bigslice_spark.plans import plan_report
    tr = _shingle_rows(tables["documents"], "text", "doc_id",
                       w=3, distinct=True).toDF("train_id", "tok")
    bl = bloom_build(tr.limit(100), "tok")
    rep = plan_report(bloom_probe(tr, "tok", bl)
                      .filter(F.col("__bloom_maybe")))
    assert rep["n_python"] == 1
    assert not rep["duplicated_python_udf"]


def test_plan_report_flags_duplicated_python_udf(spark, tables):
    import pandas as pd
    import pyspark.sql.functions as F
    from pyspark.sql.functions import pandas_udf
    from bigslice_spark.operators.dedup import _shingle_rows
    from bigslice_spark.plans import plan_report

    @pandas_udf("boolean")
    def det(h1: pd.Series, h2: pd.Series) -> pd.Series:
        return h1 > h2

    tr = _shingle_rows(tables["documents"], "text", "doc_id",
                       w=3, distinct=True).toDF("train_id", "tok")
    bad = tr.withColumn(
        "m", det(F.xxhash64("tok"), F.xxhash64("tok", F.lit(1)))) \
        .filter("m")
    assert plan_report(bad)["duplicated_python_udf"]


def test_bucketed_join_has_no_table_exchanges(spark, sf_dir, tmp_path):
    # the co-located-join guarantee: both bucketed tables read back
    # pre-partitioned on the join key; the ONLY exchange in the plan
    # is the final tiny group-by, never either table
    import pyspark.sql.functions as F
    from bigslice_spark.operators.projection import write_bucketed
    from bigslice_spark.plans import explain_str
    from bigslice_spark.session import load_tables
    t = load_tables(spark, sf_dir)
    li = write_bucketed(t["lineitem"].select("l_orderkey",
                                             "l_extendedprice"),
                        str(tmp_path / "li"), "gate_li", "l_orderkey")
    o = write_bucketed(t["orders"].select("o_orderkey",
                                          "o_orderpriority"),
                       str(tmp_path / "o"), "gate_o", "o_orderkey")
    j = (li.hint("merge").join(o, li.l_orderkey == o.o_orderkey)
         .groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")))
    txt = explain_str(j)
    from bigslice_spark.plans import count_exchanges
    # exactly one exchange, and it is the agg key, not a join key
    assert count_exchanges(j) == 1, txt[:1500]
    first = txt[txt.find("Exchange"):txt.find("Exchange") + 120]
    assert "orderkey" not in first, first


def test_text_sentences_zero_exchange(spark, sf_dir):
    """Sentence segmentation is scan → codegen generate (posexplode)
    → project: no shuffle, no Python eval at any corpus size."""
    df = QUERIES["text_sentences"](spark, sf_dir)
    assert count_exchanges(df) == 0
    txt = explain_str(df)
    assert "Generate" in txt, txt[:1200]
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in txt, txt[:1200]


def test_json_variant_zero_exchange_no_python(spark, sf_dir):
    """VARIANT parse + path extraction stays entirely JVM-side: one
    scan, zero exchanges, no Python nodes."""
    df = QUERIES["json_variant"](spark, sf_dir)
    assert count_exchanges(df) == 0
    txt = explain_str(df)
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in txt, txt[:1200]


def test_source_zip_avro_single_pass_no_shuffle(spark, sf_dir):
    """Archive/container sources are binaryFile scan → ONE Arrow
    decode stage — no exchange, blobs never shuffle."""
    for name in ("source_zip", "source_avro"):
        df = QUERIES[name](spark, sf_dir)
        assert count_exchanges(df) == 0, name
        txt = explain_str(df)
        # exactly one Arrow decode stage and one binaryFile scan
        # (formatted explain names each node once in the tree and
        # once in the detail section)
        assert txt.count("MapInPandas") == 2, (name, txt[:1200])
        assert txt.count("Scan binaryFile") == 2, (name, txt[:1200])


def test_classifier_auc_no_corpus_scale_single_partition(spark, sf_dir):
    """exact_auc must range-partition the distinct-score relation
    (two-level prefix sum) — the only single-partition window allowed
    is the #partitions-rows METADATA offsets step, which operates on
    spark_partition_id aggregates, never corpus rows."""
    df = QUERIES["classifier_auc"](spark, sf_dir)
    txt = explain_str(df)
    # (the range exchange sits inside the materialize() truncation —
    # the epoch_order gate's situation): the only SinglePartition
    # exchanges allowed are the ~#partitions METADATA offsets step
    # and the 1-row global final aggregate — assert neither carries
    # the row-level distinct-score column, and the offsets broadcast
    # is present
    import re
    for m in re.finditer("SinglePartition", txt):
        node = txt[txt.rfind("\n(", 0, m.start()):m.start()]
        assert "__s#" not in node, node
    assert txt.count("SinglePartition") <= 2, txt[:2000]
    assert "BroadcastExchange" in txt, txt[:1500]


def test_unigram_tokens_no_python_over_corpus(spark, sf_dir):
    """The corpus-scale unigram encode is the bpe_encode plan shape
    (VERDICT r11 task 1): the ONLY Python node (ArrowEvalPython, the
    per-distinct-word Viterbi) sits above an aggregate — every path
    from it down to a parquet scan crosses a HashAggregate (the
    distinct), so no Python executes per corpus row and NO
    corpus-vocabulary relation is ever collected to the driver (the
    plan has no LocalTableScan from a createDataFrame)."""
    df = QUERIES["unigram_tokens"](spark, sf_dir)
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in tree, tree[:1500]
    lines = tree.splitlines()

    def indent(s):
        return len(s) - len(s.lstrip(" :+-*("))

    arrows = [i for i, l in enumerate(lines) if "ArrowEvalPython" in l]
    assert len(arrows) == 1, tree[:1500]
    i = arrows[0]
    base = indent(lines[i])
    saw_agg = False
    for l in lines[i + 1:]:
        if indent(l) <= base and l.strip():
            break  # left the ArrowEvalPython subtree
        if "HashAggregate" in l or "SortAggregate" in l:
            saw_agg = True
        if "Scan parquet" in l:
            assert saw_agg, \
                "ArrowEvalPython reads a scan with no aggregate " \
                "between them (Python over corpus rows):\n" + tree[:1500]
    assert saw_agg, tree[:1500]


def test_write_indexed_bloom_and_sorted_stats(spark, tables,
                                              tmp_path_factory):
    """Session.write_indexed (r14): per-column parquet bloom filters
    must actually land in the files (observable as the sized filter
    bytes — pyarrow 16 exposes no bloom offset, so the size delta is
    the check), sortWithinPartitions must tighten per-row-group
    min/max stats into disjoint ranges WITHOUT an exchange, and
    reads back stay value-identical."""
    import glob
    import os

    import pyarrow.parquet as pq

    from bigslice_spark import Session
    sess = Session(spark)
    docs = tables["documents"].select("doc_id", "lang", "text") \
        .coalesce(1)
    base = tmp_path_factory.mktemp("idx")
    plain, bloom = str(base / "plain"), str(base / "bloom")
    sess.write_indexed(docs, plain)
    sess.write_indexed(docs, bloom, bloom_cols=["doc_id"],
                       bloom_ndv=100_000)
    size = {p: sum(os.path.getsize(f)
                   for f in glob.glob(p + "/*.parquet"))
            for p in (plain, bloom)}
    # a 100k-NDV bloom filter is ~100KB+ per row group — far above
    # footer noise
    assert size[bloom] - size[plain] > 50_000, size
    got = sorted(r["doc_id"] for r in
                 spark.read.parquet(bloom).collect())
    assert got == sorted(r["doc_id"] for r in docs.collect())

    # sort_within: row-group stats become tight; no exchange planned
    srt = str(base / "sorted")
    two = docs.repartition(2, "lang")
    df_sorted = two.sortWithinPartitions("doc_id")
    assert "Exchange rangepartitioning" not in explain_str(df_sorted)
    sess.write_indexed(two, srt, sort_within=["doc_id"])
    for f in glob.glob(srt + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = [i for i in range(md.num_columns)
               if md.row_group(0).column(i).path_in_schema
               == "doc_id"][0]
        prev_max = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            assert st.min <= st.max
            if prev_max is not None:
                assert st.min >= prev_max   # disjoint ascending
            prev_max = st.max


def test_trigram_index_prunes_and_matches_full_scan(spark, tables,
                                                    tmp_path_factory):
    """operators/trigram.py (r14): the index may only
    OVER-approximate — after the instr verify the result must EQUAL
    the full-scan answer (including a literal with zero matches and
    a sub-trigram needle that falls back to full verify, and the
    adversarial literals below, on both on-the-fly and persisted
    postings); the persisted index must plan PartitionFilters on the
    trigram hash bucket; the needed-trigram set must broadcast."""
    from bigslice_spark.operators.trigram import (read_trigram_index,
                                                  substring_search,
                                                  write_trigram_index)
    docs = tables["documents"]
    lits = ["hash scan", "key order", "zz-not-there", "qu",
            "aaaa", "batch batch",     # repeated trigrams
            "hash",                    # trigrams ⊂ "hash scan"'s
            "",                        # matches every doc
            "naïve wïndöw",            # multi-byte UTF-8
            "key order"]               # duplicate in the same call

    def full_scan(s):
        return {r["doc_id"] for r in
                docs.filter(F.expr(f"instr(text, '{s}') > 0"))
                .select("doc_id").collect()}

    want = sorted((s, d) for s in lits for d in full_scan(s))
    got = sorted((r["pattern"], r["doc_id"]) for r in
                 substring_search(docs, lits).collect())
    assert got == want
    assert not full_scan("zz-not-there")     # the zero-match literal
    assert full_scan("batch batch") and full_scan("hash")
    assert len(full_scan("")) == docs.filter("text IS NOT NULL").count()
    assert substring_search(docs, []).collect() == []

    d = str(tmp_path_factory.mktemp("tri") / "idx")
    write_trigram_index(docs, d, nparts=16)
    idx = read_trigram_index(spark, d)
    got2 = sorted((r["pattern"], r["doc_id"]) for r in
                  substring_search(docs, lits, postings=idx,
                                   indexed_parts=16).collect())
    assert got2 == want
    empty = substring_search(docs, [], postings=idx, indexed_parts=16)
    assert empty.collect() == []
    assert empty.schema.simpleString() == \
        "struct<pattern:string,doc_id:bigint>"
    plan = explain_str(substring_search(docs, ["hash scan"],
                                        postings=idx,
                                        indexed_parts=16))
    assert "PartitionFilters: [tp" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_regex_trigram_plans_and_full_scan_equality(spark, tables):
    """regex_plan (r14): finite languages expand to OR-of-literals,
    unbounded gaps reduce to required runs, case-insensitive and
    run-less patterns are honestly unprunable; regex_search must
    equal the full-scan rlike answer across all three plan kinds in
    one call."""
    from bigslice_spark.operators.trigram import (regex_plan,
                                                  regex_search)
    assert regex_plan("hash (scan|join)") == (
        "or", [["hash scan"], ["hash join"]])
    assert regex_plan("colou?r match") == (
        "or", [["color match"], ["colour match"]])
    assert regex_plan(r"spark.*window") == ("and",
                                            [["spark", "window"]])
    assert regex_plan(r"foo\d+bar")[0] == "and"
    assert regex_plan("(?i)HASH scan") == ("scan", [])
    assert regex_plan(r"\d+") == ("scan", [])
    assert regex_plan("(?i:ha)sh scan") == ("scan", []) or \
        "sh scan" in str(regex_plan("(?i:ha)sh scan"))

    docs = tables["documents"]
    pats = ["hash (scan|join)", r"spark.*window", r"\bagg\b",
            "(?i)KEY order"]
    got = sorted((r["pattern"], r["doc_id"]) for r in
                 regex_search(docs, pats).collect())
    want = sorted((p, r["doc_id"]) for p in pats
                  for r in docs.filter(
                      F.col("text").rlike(p)).select("doc_id")
                  .collect())
    assert got == want


def test_session_conf_pins_plan_shaping_values(spark):
    """The plan-shaping values every session runs under: five Spark
    defaults that _DEFAULT_CONF relies on without restating, and the two
    it overrides. A Spark upgrade that moves one fails here instead of
    silently changing plans."""
    expected = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.autoBroadcastJoinThreshold": "67108864",
        "spark.sql.codegen.methodSplitThreshold": "256",
    }
    # an unset byte-size conf reads back with its unit ("134217728b")
    got = {k: spark.conf.get(k).removesuffix("b") for k in expected}
    assert got == expected
