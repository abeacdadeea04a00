"""Scale-stress harness: measure how the heavy operators scale when the
input grows 1x -> 4x -> 16x, holding the box fixed.

The 100 TB question is not "how fast at sf0.1" but "what's the growth
curve": an operator whose wall time grows ~linearly in input rows (with
the fixed JIT/planning floor amortizing away) survives a cluster
scale-up; superlinear growth means a shuffle or candidate space is
exploding. This harness amplifies the sf0.1 tables in-memory:

- documents: replicate with shifted doc_ids and a per-replica vowel
  rotation of the text (every shingle changes, so replicas are NOT
  near-dups of one another — we measure candidate GENERATION scaling,
  not the output-quadratic all-dup corner, which the salted join
  already bounds by design);
- events: replicate with shifted user_ids (keys and rows both scale —
  the window/agg operators see more groups, not hotter ones).

The replicas are make_sf1.py's (``make_sf1.amplify``).

Run: python stress_scale.py [sf_dir]   (prints one JSON line per
operator x amplification with rows and wall seconds; the session is
session.get_spark's, on local[$SPARK_GRAFT_CPUS])
"""

import json
import sys
import time

import pyspark.sql.functions as F

import bench
from make_sf1 import amplify

AMPS = (1, 4, 16)


def cold_warm(make) -> dict:
    """Time four noop-sink writes of ``make()``: the cold run and the
    median of the three warm ones.

    A noop-sink write, NOT df.count(): under a bare count Catalyst
    prunes every computed column of a pure projection (gopher_rules
    would degenerate to a parquet row-count scan); the noop sink fully
    evaluates every column JVM-side with zero sink cost.

    MEDIAN-OF-3 after recording the cold run (r9c): a single shot
    conflates the one-time JVM warmup with scaling — at 16x the first
    evaluation of a window-heavy plan measured 104s cold vs 3.9s warm on
    identical plans (tiered-JIT + heap growth, paid once per executor JVM
    in production). "sec" (the scaling curve) is the warm median;
    "cold_sec" keeps the warmup visible instead of hiding it."""
    walls = []
    for _ in range(4):
        t0 = time.time()
        bench.noop_write(make())
        walls.append(round(time.time() - t0, 2))
    return {"sec": sorted(walls[1:])[1], "cold_sec": walls[0]}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from bigslice_spark.session import get_spark, load_tables
    spark = get_spark("bss_stress")

    from bigslice_spark.operators.dedup import minhash_lsh_pairs
    from bigslice_spark.operators.timeseries import (rolling_zscore,
                                                     time_rollup)
    from bigslice_spark.operators.text import gopher_rules
    from bigslice_spark.operators.search import bm25_score

    t = load_tables(spark, sf_dir)

    def run(name, df_builder):
        for amp in AMPS:
            df = df_builder(amp)
            r = cold_warm(lambda: df)
            # row count from a separate untimed pass
            print(json.dumps({"op": name, "amp": amp, "rows": df.count(),
                              **r}), flush=True)

    docs = {a: amplify(t["documents"], "documents", a).localCheckpoint()
            for a in AMPS}
    evs = {a: amplify(t["events"], "events", a).localCheckpoint()
           for a in AMPS}

    run("gopher_rules", lambda a: gopher_rules(docs[a], min_words=20))
    run("time_rollup", lambda a: time_rollup(evs[a]))
    run("rolling_zscore",
        lambda a: rolling_zscore(evs[a], "user_id", "ts", "value",
                                 order_cols=["event_id"], window=20,
                                 min_n=8, z_threshold=2.0))
    run("minhash_lsh_pairs",
        lambda a: minhash_lsh_pairs(docs[a], threshold=0.5))
    run("bm25", lambda a: bm25_score(
        docs[a], ["fast", "key", "order"], k=20))
    # r9c: substring-span dedup — the vowel-rotated replicas share no
    # shingles across replicas, so window-count growth tracks input
    # (candidate generation), not the all-dup output corner
    from bigslice_spark.operators.spans import dup_span_report
    run("dup_spans", lambda a: dup_span_report(docs[a], w=8))
    # r9c: bloom decontamination — eval side FIXED (the %17 split of
    # the 1x corpus), train side grows; measures the probe-pass scan
    from bigslice_spark.operators.decontam import (
        contamination_report_bloom)
    ev_fixed = docs[1].filter(F.col("doc_id") % 17 == 0) \
        .localCheckpoint()
    run("decontam_bloom",
        lambda a: contamination_report_bloom(
            docs[a].filter(F.col("doc_id") % 17 != 0), ev_fixed,
            ngram_w=3, min_shared=2, fpp=0.01))
    hub_key_fold_stress(spark)
    audio_path_stress(spark)
    ivf_cell_scaling(spark, t)
    hot_bucket_stress(spark)
    perceptual_pair_stress(spark)


def perceptual_pair_stress(spark):
    """dhash_pairs (the image/audio perceptual pairing) at growing
    hash counts: the banded self-join's candidate volume is driven by
    16-bit band collisions — at N hashes, ~4·N²/2^16 random
    collisions — so the curve answers whether the pairing survives a
    corpus where the HASH TABLE no longer fits a broadcast. Hashes
    are synthetic xxhash64 values (uniform, worst-case collision
    profile) with one planted near-dup per 1000 ids."""
    from bigslice_spark.operators.imagehash import dhash_pairs

    for n in (100_000, 400_000, 1_600_000):
        base = spark.range(n).select(
            F.col("id"), F.xxhash64(F.col("id")).alias("dhash"))
        # planted copies: id -> id + n, hash differs in bit 3 only
        dups = (spark.range(n // 1000)
                .select((F.col("id") * 1000).alias("src"))
                .join(base, F.col("src") == F.col("id"))
                .select((F.col("id") + n).alias("id"),
                        F.col("dhash").bitwiseXOR(F.lit(8))
                        .alias("dhash")))
        hashes = base.unionByName(dups).localCheckpoint()
        print(json.dumps({"op": "dhash_pairs", "n_hashes": n + n // 1000,
                          **cold_warm(lambda: dhash_pairs(hashes))}),
              flush=True)


def audio_path_stress(spark):
    """band_energy at growing clip counts: the plan explodes samples
    into codegen rows (one exchange, frame_len-fold map-side combine).
    The question a 100 TB audio corpus asks: does the explode stay
    linear (measured near-flat 1.1 -> 1.6 s from 2.5M to 164M samples,
    PERFORMANCE.md §audio-paths)."""
    from bigslice_spark.operators.audio import band_energy

    n_samples, bins = 512, (1, 3, 7)
    for n_clips in (5_000, 20_000, 80_000, 320_000):
        clips = (spark.range(n_clips)
                 .select(F.col("id"),
                         F.transform(
                             F.sequence(F.lit(0), F.lit(n_samples - 1)),
                             lambda n: ((F.col("id") * 31 + 17 * n * n
                                         + n) % 4001 - 2000)
                             .cast("int")).alias("samples"))
                 .localCheckpoint())
        r = cold_warm(lambda: band_energy(clips, frame_len=64, bins=bins))
        print(json.dumps({
            "op": "band_energy", "clips": n_clips,
            "samples_per_clip": n_samples, **r}), flush=True)


def hub_key_fold_stress(spark):
    """The r9 hub-key question: what happens when ONE key owns most of
    the events? Plant a single hub user holding 100k·amp events beside
    100k cold users (1 event each) and measure the two EWMA paths:

    - method='list' collects the hub key's whole event list into one
      aggregation buffer and folds it in one task — per-key memory and
      TIME grow linearly with the hub;
    - method='distributed' (closed-form weighted sum) never builds a
      per-key array: the hub's events flow through ordinary window +
      partial-agg machinery.

    Ditto fold_stream vs fold_stream(segment_col=): the plain stream
    fold is memory-bounded but single-task per key; the segmented fold
    splits the hub across its segments' tasks.
    """
    from bigslice_spark.operators.timeseries import ewma_last
    from bigslice_spark.session import Session

    for amp in AMPS:
        hub_n = 100_000 * amp
        hub = spark.range(hub_n).select(
            F.lit(0).alias("user_id"),
            F.timestamp_micros(F.col("id") * 1000).alias("ts"),
            F.col("id").alias("event_id"),
            (F.col("id") % 997).cast("double").alias("value"),
            (F.col("id") % 64).alias("seg"))
        cold = spark.range(100_000).select(
            (F.col("id") + 1).alias("user_id"),
            F.timestamp_micros(F.col("id")).alias("ts"),
            F.col("id").alias("event_id"),
            F.lit(1.0).alias("value"),
            F.lit(0).cast("long").alias("seg"))
        ev = hub.unionByName(cold).localCheckpoint()
        for method in ("list", "distributed"):
            t0 = time.time()
            out = ewma_last(ev, "user_id", "ts", "value",
                            order_cols=["event_id"], alpha=0.5,
                            method=method)
            # noop sink: a bare count() lets Catalyst prune the ewma
            # fold away entirely (the sweep.py forcing protocol)
            bench.noop_write(out)
            wall = round(time.time() - t0, 2)
            print(json.dumps({"op": f"ewma_hub_{method}", "amp": amp,
                              "hub_rows": hub_n, "keys": out.count(),
                              "sec": wall}), flush=True)
        sl = Session(spark).wrap(ev.select("user_id", "seg", "value"))

        def init():
            return [0, 0.0]

        def step(acc, chunk):
            return [acc[0] + len(chunk),
                    acc[1] + float(chunk["value"].sum())]

        def merge(a, b):
            return [a[0] + b[0], a[1] + b[1]]

        def emit(key, acc):
            return {"user_id": key[0], "n": acc[0], "total": acc[1]}

        schema = "user_id long, n long, total double"
        for name, kw in (("plain", {}),
                         ("segmented", {"segment_col": "seg",
                                        "merge": merge})):
            t0 = time.time()
            n = sl.fold_stream(init, step, emit, schema, **kw).df.count()
            print(json.dumps({"op": f"fold_stream_{name}", "amp": amp,
                              "hub_rows": hub_n, "keys": n,
                              "sec": round(time.time() - t0, 2)}),
                  flush=True)


def ivf_cell_scaling(spark, t):
    """ivf_topk growth curve with AUTO-SIZED cells: the corpus grows
    1x/4x/16x, ncells tracks ~N/cell_target (so the per-probe
    candidate set stays ~constant), and assignment is the broadcast
    fold at every size. The JSON rows record ncells so the curve
    demonstrates the sizing rule surviving growth — run naively with a
    FIXED ncells, the same 16x input makes every probe scan 16x more
    vectors."""
    from bigslice_spark.operators.clustering import seed_centroids
    from bigslice_spark.operators.similarity import _auto_ncells, ivf_topk

    emb = t["embeddings"]
    dim = 64
    qs = emb.filter(F.col("vec_id") < 8).localCheckpoint()
    for amp in AMPS:
        # coordinates rotate per replica: norms preserved, every
        # replica lands in different cells
        corpus = (amplify(emb, "embeddings", amp)
                  .select("vec_id", "embedding").localCheckpoint())
        n = corpus.count()
        ncells = _auto_ncells(n, 256)
        centers = seed_centroids(ncells, dim)
        t0 = time.time()
        out = ivf_topk(corpus, qs, k=10, nprobe=4, dim=dim,
                       centers=centers)
        bench.noop_write(out)
        print(json.dumps({"op": "ivf_auto_cells", "amp": amp,
                          "rows": n, "ncells": ncells,
                          "sec": round(time.time() - t0, 2)}),
              flush=True)


def hot_bucket_stress(spark):
    """Adversarial degenerate-LSH-bucket curve for _bucketed_self_join:
    ONE planted bucket of B identical-signature rows (B = 500·amp,
    far past chunk_target) amid 10k cold buckets. Reports wall, total
    pair rows (B² is inherent to the semantics), and the per-task
    output skew max/mean — the number AQE cannot fix (the bucket's
    JOIN INPUT is ~24-byte rows; only its OUTPUT is quadratic). With
    the (B/chunk_target)² cell spreading, max/mean stays ~1; the
    amp=1 'unsalted' row (chunk_target=2**31: salting disabled) shows
    the counterfactual a fixed-key join produces — one task owning
    all B² rows."""
    from bigslice_spark.operators.dedup import _bucketed_self_join

    def rel(b):
        hot = spark.range(b).select(F.lit(-1).alias("bk"),
                                    F.col("id").alias("id"))
        cold = spark.range(40_000).select(
            F.pmod(F.xxhash64("id"), F.lit(10_000)).alias("bk"),
            (F.col("id") + 1_000_000).alias("id"))
        return hot.unionByName(cold).localCheckpoint()

    def measure(name, amp, r, chunk_target):
        pairs = _bucketed_self_join(r, ["bk"], id_col="id",
                                    chunk_target=chunk_target)
        t0 = time.time()
        per_task = (pairs.groupBy(F.spark_partition_id().alias("pid"))
                    .agg(F.count(F.lit(1)).alias("n"))
                    .agg(F.max("n").alias("mx"), F.avg("n").alias("mean"),
                         F.sum("n").alias("total")).collect()[0])
        wall = round(time.time() - t0, 2)
        print(json.dumps({
            "op": name, "amp": amp, "pair_rows": per_task["total"],
            "max_task_rows": per_task["mx"],
            "task_skew": round(per_task["mx"] / per_task["mean"], 2),
            "sec": wall}), flush=True)

    # AQE's partition COALESCER is disabled for this measurement only:
    # this synthetic shuffle is a few hundred KB, so the coalescer
    # legally merges every reduce partition — salted cells included —
    # into one task, and the probe measures the coalescer, not the
    # salting. At corpus scale the same cells share reduce partitions
    # with ~64 MB of cold-bucket data each and are never merged; the
    # skew SPLITTER (the half of AQE that matters here) stays on and
    # still cannot see the quadratic OUTPUT behind the ~24-byte input.
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        measure("hot_bucket_unsalted", 1, rel(500), 2**31)
        for amp in AMPS:
            measure("hot_bucket_salted", amp, rel(500 * amp), 256)
    finally:
        spark.conf.set(key, prev)


if __name__ == "__main__":
    main()
