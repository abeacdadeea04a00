"""Benchmark harness: runs headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on session.get_spark and prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

PROTOCOL (round 12, VERDICT r11 task 5): the default invocation —
what the driver runs — executes EVERY query in its own subprocess
JVM (the bench_sf1.py protocol made governing): each subprocess runs
its own untimed warmup, so no query absorbs another's JVM pressure
and every recorded number reproduces standalone within box noise by
construction. The r10→r11 in-sequence artifacts produced phantom
2-3× "regressions" (web_pipeline 3.41→9.06s) that were pure
list-position JVM contamination of a 42→60-query run; this protocol
ends that class of dispute. Within a subprocess, timing includes
plan + execution + a driver-side count().

Knob: SPARK_GRAFT_BENCH_ONLY=a,b,c runs exactly the named registry
entries in-process, in one JVM — the per-query subprocess target (any
registry entry, so ab.py can A/B non-headline queries), and, with every
name listed, a whole-list single-JVM run (not comparable to fresh-JVM
artifacts).

This module is also the one harness the other scripts import: the
warmup, the query resolver (VARIANTS, query_fn), the timed run
(timed), the fresh-JVM runner (run_fresh) and the >1.5x mover gate
(movers). Every script starts Spark through session.get_spark, the
conf library users get.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys
import time
from collections.abc import Callable

from pyspark.sql import DataFrame

from bigslice_spark.session import get_spark

HERE = os.path.dirname(os.path.abspath(__file__))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "q9_product_profit",
    "q13_customer_distribution",
    "q21_waiting_suppliers",
    "word_count",
    "op_fold",
    "op_cogroup",
    "window_rank",
    "sessionize",
    "events_hourly",
    "join_broadcast",
    "range_join",
    "topk_orders",
    "dedup_exact",
    "dedup_minhash",
    "ngram_jaccard",
    "similarity_topk",
    "text_stats",
    # added round 2 (no r1 baseline; ratchet starts at r2)
    "dedup_simhash",
    "similarity_lsh",
    "asof_join",
    "op_fold_stream",
    # added round 3 (ratchet starts at r3)
    "fingerprint",
    # added round 4 (ratchet starts at r4)
    "bm25_search",
    "random_projection",
    "chunk_docs",
    # added round 5 (ratchet starts at r5)
    "lpa_communities",
    "upsert_partitioned",
    "ewma_value",
    "time_rollup",
    "ts_anomaly",
    "bpe_merges",
    # last: ~8s of its ~11s is cold Janino JIT of the wide argmin +
    # dot-product codegen (constant, amortized at scale — the
    # dedup_minhash story); keep the JIT-heavy tail at the end.
    "semantic_dedup",
    # added round 9 (ratchet starts at r9): the web-ingest chain and
    # the two new shuffle-heavy dedup/membership ops
    "web_pipeline",
    "dup_spans",
    "decontaminate_bloom",
    "text_clean",
    # added round 10 (ratchet starts at r10): the new curation trio —
    # novelty scoring, the cluster-atomic split, and audio DFT
    "ngram_novelty",
    "leakage_split",
    "audio_spectral",
    # added round 11 (ratchet starts at r11): the two r10 additions
    # with data-scale inputs that had no sf1 scaling record (VERDICT
    # r10 task 7), plus the FLAC codec entry
    "bloom_join",
    "kmeans_assign_ivf",
    "audio_flac",
    "audio_resample",
    "code_detect",
    "audio_mel",
    "audio_pipeline",
    "robots_filter",
    # added round 11 second wave (ratchet starts at r11): the filter
    # battery addition, the sentence generator, the MFCC closer, the
    # PDF document codec and the VARIANT semi-structured path
    "c4_filters",
    "text_sentences",
    "audio_mfcc",
    "pdf_extract",
    "json_variant",
    # the perceptual-dedup family (data-scale media synthesis +
    # hash + pair join; the format-fixture sources are metadata-scale
    # and stay out of the headline list)
    "image_dedup_phash",
    "audio_fingerprint",
    "video_dedup",
    # the eval + tokenizer closers (both data-scale: corpus explode /
    # distinct-score rank)
    "classifier_auc",
    "unigram_tokens",
    # added round 12 (ratchet starts at r12): in-engine NB classifier
    # train + classify (corpus explode x2 + word-key join + argmax)
    "nb_classifier",
    # added round 14 (ratchet starts at r14): trigram-indexed
    # substring search and regex->trigram grep — corpus-scale
    # postings build + cover join + verify
    "trigram_search",
    "regex_search",
    # added round 15 (ratchet starts at r15): the persisted-index
    # grep — ONE write_trigram_index build + literal AND regex query
    # families off the partition-pruned postings (the amortized
    # 100 TB shape; VERDICT r14 task 5)
    "trigram_index_grep",
]


def warmup(spark, sf_dir: str) -> None:
    """Prime JVM codegen and Python workers outside the timed region. In
    the fresh-JVM protocol every query is the JVM's first, so the warmup
    must also touch the machinery a warm in-sequence JVM got for free:
    whole-stage codegen + hash agg, a broadcast join build, and the Arrow
    Python runner (worker pool fork + serializer JIT)."""
    from pyspark.sql import functions as F
    from bigslice_spark.queries import QUERIES

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    base = spark.range(100_000).withColumn("k", F.col("id") % 7)
    base.groupBy("k").count().collect()
    small = spark.range(7).withColumnRenamed("id", "k")
    base.join(F.broadcast(small), "k").count()
    try:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def _warm(s):
            return s
        spark.range(10_000).select(_warm("id")).count()
    except Exception:
        pass
    try:
        QUERIES["q1_pricing_summary"](spark, sf_dir).collect()
    except Exception:
        pass


# The registry's dedup_minhash/dedup_simhash run in PORTABLE (md5) hash
# mode so their DuckDB oracles can replay the pipelines exactly; the
# bench measures the production fast path (xxhash64, same un-capped
# self-join plans) — the one a real pipeline runs.
def _minhash_fast(spark, sf_dir):
    from bigslice_spark.operators.dedup import minhash_lsh_pairs
    from bigslice_spark.session import load_tables
    t = load_tables(spark, sf_dir)
    return minhash_lsh_pairs(t["documents"], num_hashes=64, bands=16,
                             threshold=0.5, portable=False)


def _simhash_fast(spark, sf_dir):
    from bigslice_spark.operators.dedup import simhash_pairs
    from bigslice_spark.session import load_tables
    t = load_tables(spark, sf_dir)
    return simhash_pairs(t["documents"], max_hamming=8, portable=False)


# semantic_dedup's registry entry pins k=8 cells so its DuckDB oracle (an
# 8x64 argmin written out as SQL) can replay the assignment — fine for
# the sf0.01 correctness gate, quadratic at scale: with k fixed, per-cell
# pair counts grow as (N/k)^2 (measured 62x wall at 10x rows, the sf1.0
# sweep's one superlinear query). The bench measures the PRODUCTION
# sizing the operator documents (k ~ N/256, the similarity_ivf auto-cell
# rule): per-cell size stays ~constant, so pair volume grows ~linearly
# with N. Cells come from kmeans_assign_ivf and reach semantic_dedup as
# cell_col, so the timed variant runs no inline assignment.
def _semantic_fast(spark, sf_dir):
    from bigslice_spark.operators.clustering import (
        kmeans_assign_ivf, seed_centroids)
    from bigslice_spark.operators.dedup import semantic_dedup
    from bigslice_spark.operators.similarity import _auto_ncells
    from bigslice_spark.session import load_tables
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    k = _auto_ncells(emb.count(), 256)
    cents = seed_centroids(k, 64)
    # two-level IVF assignment (O(√k) per vector) — flat assign is O(k)
    # and quadratic under the k ~ N/cell_target sizing; cell contents
    # differ slightly from exact assign (standard IVF approximation), the
    # dedup semantics don't
    assigned = kmeans_assign_ivf(emb, cents).select("vec_id", "cell")
    return semantic_dedup(emb.join(assigned, on="vec_id"), cents,
                          threshold=0.35, cell_col="cell")


VARIANTS = {"dedup_minhash": _minhash_fast,
            "dedup_simhash": _simhash_fast,
            "semantic_dedup": _semantic_fast}


def query_fn(name: str):
    """What the harness times for ``name``: its variant if it has one,
    else the registry entry."""
    from bigslice_spark.queries import QUERIES
    return VARIANTS.get(name) or QUERIES[name]


def noop_write(df) -> None:
    """The sweep and stress action: a noop-sink write computes every
    output column JVM-side at zero sink cost, where a bare count() lets
    Catalyst prune computed columns out of pure projections."""
    df.write.mode("overwrite").format("noop").save()


def timed(spark, name: str, sf_dir: str,
          force: Callable = DataFrame.count) -> float:
    """Seconds to build ``name`` and ``force`` it (by default the bench
    contract's driver-side count()), or -1 on failure. Its jobs run under
    job group ``bss:<name>`` (the registry's tag), cleared afterwards so
    no later job inherits it."""
    from bigslice_spark.checkpoint import release_all

    sc = spark.sparkContext
    sc.setJobGroup(f"bss:{name}", name, True)
    try:
        fn = query_fn(name)
        t0 = time.time()
        force(fn(spark, sf_dir))
        return round(time.time() - t0, 3)
    except Exception as ex:  # a failing query must not kill the run
        print(f"bench: {name} failed: {ex}", file=sys.stderr)
        return -1.0
    finally:
        sc.setJobGroup("", "")
        # Untimed hygiene between queries: free the finished query's
        # materialized intermediates instead of leaving them to Python
        # GC + the ContextCleaner. Without it, late-list queries absorb
        # the whole sequence's block pressure (PERFORMANCE.md round 10:
        # lpa_communities 93.6s in-sequence vs 32.4s standalone at sf1).
        release_all(spark)


def run_here(app: str, names: list[str], sf_dir: str,
             force: Callable = DataFrame.count) -> dict[str, float]:
    """Seconds per name (timed) in one session of this process, after
    the warmup; one progress line per name on stderr."""
    spark = get_spark(app)
    warmup(spark, sf_dir)
    times = {}
    for name in names:
        times[name] = timed(spark, name, sf_dir, force)
        print(json.dumps({"entry": name, "sec": times[name]}),
              file=sys.stderr, flush=True)
    return times


def run_fresh(names: list[str], tree: str | None = None,
              env: dict | None = None,
              script: str = "bench.py") -> dict[str, float]:
    """One subprocess JVM running ``script`` of ``tree`` (default: this
    checkout, from the caller's working directory; else from ``tree``)
    with SPARK_GRAFT_BENCH_ONLY=<names>; the "queries" of its last JSON
    line ({} on timeout or no output)."""
    env = dict(os.environ if env is None else env,
               SPARK_GRAFT_BENCH_ONLY=",".join(names))
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(tree or HERE, script)],
            env=env, cwd=tree, capture_output=True, text=True,
            timeout=1800)
    except subprocess.TimeoutExpired:
        print(f"bench: {names[:3]}... timed out", file=sys.stderr)
        return {}
    for line in reversed(proc.stdout.splitlines()):
        if line.strip().startswith("{"):
            return json.loads(line)["queries"]
    print(f"bench: {names[:3]}... produced no result:\n"
          f"{proc.stderr[-2000:]}", file=sys.stderr)
    return {}


def fresh_each(names: list[str],
               run: Callable[[list[str]], dict[str, float]] = run_fresh
               ) -> dict[str, float]:
    """Seconds per name, each from its own ``run([name])`` (-1 when it
    reports none); one progress line per name on stderr."""
    times: dict[str, float] = {}
    t0 = time.time()
    for i, name in enumerate(names):
        times[name] = run([name]).get(name, -1.0)
        print(f"bench [{i + 1}/{len(names)}] {name}: {times[name]}s "
              f"(elapsed {time.time() - t0:.0f}s)", file=sys.stderr,
              flush=True)
    return times


def movers(times: dict[str, float], prev: dict[str, float],
           rerun: Callable[[str], float],
           tries: int = 1) -> dict[str, list[float]]:
    """The regression gate (VERDICT r12 task 8): each query over 1.5x a
    previous time above 0.25 s re-runs standalone up to ``tries`` times,
    stopping once a rerun lands back inside the gate, so box noise is
    adjudicated in the artifact itself: {name: [prev, now, rerun...]}."""
    out: dict[str, list[float]] = {}
    for name, t in times.items():
        p = prev.get(name, 0.0)
        if not (p > 0.25 and t > 0 and t / p > 1.5):
            continue
        reruns: list[float] = []
        while len(reruns) < tries:
            reruns.append(rerun(name))
            if 0 < reruns[-1] / p <= 1.5:
                break
        out[name] = [p, t] + reruns
        print(f"bench: mover {name} prev={p} now={t} reruns={reruns}",
              file=sys.stderr, flush=True)
    return out


def prev_artifact(artifact_dir: str, prefix: str,
                  read: Callable[[dict], dict[str, float]],
                  oldest: int = 0,
                  below: int = 1 << 30) -> tuple[int, dict[str, float]]:
    """The newest ``<prefix>r<N>.json`` in ``artifact_dir`` with
    oldest <= N < below whose ``read(doc)`` is non-empty, as
    (N, read(doc)); (0, {}) when there is none. Only plain per-round
    names match: BENCH_r14_c8.json (the driver's 8-core scaling run) was
    once used as "prev" and its cross-core-count numbers faked >1.5x
    movers."""
    rounds = {}
    for path in glob.glob(os.path.join(artifact_dir, f"{prefix}r*.json")):
        m = re.fullmatch(re.escape(prefix) + r"r(\d+)\.json",
                         os.path.basename(path))
        if m and oldest <= int(m.group(1)) < below:
            rounds[int(m.group(1))] = path
    for n in sorted(rounds, reverse=True):
        try:
            with open(rounds[n]) as f:
                queries = read(json.load(f))
        except (OSError, ValueError, KeyError, TypeError):
            continue
        if queries:
            return n, queries
    return 0, {}


def _fresh_queries(doc: dict) -> dict[str, float]:
    """A BENCH_r*.json's per-query fresh-JVM numbers: parsed JSON when
    the driver captured it, else name:float pairs regexed out of the
    stdout tail (BENCH_r12's 'parsed: null' defect — the tail still
    holds the numbers)."""
    if doc.get("parsed") and doc["parsed"].get("queries"):
        return doc["parsed"]["queries"]
    tail = doc.get("tail", "")
    # the in-sequence cohort is NOT protocol-comparable to fresh numbers
    # (~1.4x faster) — cut it off so a query whose fresh entry was
    # truncated out of the tail yields NO prev rather than a
    # cross-protocol one that fakes a >1.5x mover
    cut = tail.find("baseline_subset_inseq")
    if cut != -1:
        tail = tail[:cut]
    pairs = re.findall(r'"([a-z0-9_]+)":\s*(-?\d+\.\d+)', tail)
    return {k: float(v) for k, v in pairs
            if k in HEADLINE and float(v) > 0}


def _prev_fresh_times(artifact_dir: str) -> tuple[int, dict[str, float]]:
    """Per-query numbers of the newest prior fresh-JVM BENCH_r*.json;
    pre-r12 artifacts are in-sequence, not comparable."""
    return prev_artifact(artifact_dir, "BENCH_", _fresh_queries, oldest=12)


def orchestrate(sf_dir: str, sf: float,
                run: Callable[[list[str]], dict[str, float]] = run_fresh,
                artifact_dir: str = HERE) -> None:
    """The governing protocol: one subprocess JVM per headline query
    (SPARK_GRAFT_BENCH_ONLY=<name> re-enters this script in-process),
    progress on stderr, ONE COMPACT aggregate JSON line LAST on stdout
    (the driver's artifact keeps only the final 2000 bytes of stdout —
    BENCH_r12 lost its machine-readable record to an oversized line,
    VERDICT r12 task 3). Everything verbose — the in-sequence baseline
    cohort's per-query numbers, protocol prose, mover re-runs — goes
    to bench_full.json in ``artifact_dir``."""
    times = fresh_each(HEADLINE, run)
    prev_round, prev = _prev_fresh_times(artifact_dir)
    moved = movers(times, prev, lambda n: run([n]).get(n, -1.0))

    # Second cohort: the r1-recorded 20-query subset ONCE MORE in a
    # single in-sequence JVM — the ONLY protocol comparable to
    # BASELINE.md/BENCH_r01 (fresh JVMs pay an irreducible
    # first-query Janino/C2 tax of ~0.1-0.6s that in-sequence warm
    # JVMs amortize, so comparing fresh per-query numbers to the r1
    # baseline would misread protocol tax as regression; measured
    # r12: r1 subset 22.5s in-seq-r1 vs 32.2s fresh — all protocol).
    baseline_subset = HEADLINE[:20]
    b_times = run(baseline_subset)
    b_total = round(sum(v for v in b_times.values() if v > 0), 3)
    print(f"bench baseline-subset cohort (in-sequence): {b_total}s",
          file=sys.stderr, flush=True)

    total = round(sum(v for v in times.values() if v > 0), 3)
    failed = sorted(k for k, v in times.items() if v < 0)
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        # the BASELINE.md comparison (see bench_full.json / PERFORMANCE.md)
        "baseline_subset_inseq_total": b_total,
        "vs_r": prev_round,
        "prev_fresh_round": prev_round,
        # ALWAYS present (VERDICT r13 task 6): {} means the >1.5x
        # gate RAN and zero queries crossed it — distinguishable
        # from a not-run gate (key absent)
        "movers_vs_prev": moved,        # name: [prev, now, rerun]
    }
    # a crashed/timed-out query must flag the artifact, not silently
    # shrink the total (ADVICE r12)
    if failed:
        out["complete"] = False
        out["failed"] = failed
    full = dict(out,
                baseline_subset_inseq={"queries": b_times,
                                       "total": b_total},
                prev_fresh_round=prev_round,
                protocol={
                    "fresh": "one subprocess JVM per query, untimed "
                             "per-subprocess warmup; reproduces "
                             "standalone by construction; the "
                             "regression-tracking cohort (r12+)",
                    "baseline_subset_inseq": "the 20 BENCH_r01 queries "
                             "in ONE in-sequence JVM — the BENCH_r01 "
                             "protocol and the BASELINE.md comparison",
                    "movers_vs_prev": "queries >1.5x their previous "
                             "fresh-JVM number, re-run once standalone "
                             "([prev, now, rerun])",
                })
    with open(os.path.join(artifact_dir, "bench_full.json"), "w") as f:
        json.dump(full, f, indent=1)
    # stderr is flushed before the governing line so stdout ends with
    # the JSON; compact separators keep it inside the 2000-byte tail
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900 and out.get("movers_vs_prev"):
        # shrink ladder: the artifact MUST stay parseable. Movers are
        # duplicated in bench_full.json — drop them first...
        out["movers_vs_prev"] = {"see": "bench_full.json"}
        line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:
        # ...then, last resort, the per-query detail
        out["queries"] = {"see": "bench_full.json"}
        line = json.dumps(out, separators=(",", ":"))
    print(line)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    if not only:
        orchestrate(sf_dir, sf)
        return
    from bigslice_spark.queries import QUERIES
    wanted = list(dict.fromkeys(q.strip() for q in only.split(",")
                                if q.strip()))
    unknown = [q for q in wanted if q not in QUERIES]
    if unknown:
        # a typo must not silently drop an entry from the recorded
        # artifact
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_ONLY names not in the registry: {unknown}")
    # HEADLINE names in HEADLINE order, then any other registry entry
    # (an ab.py A/B of a non-headline query) in the order given
    names = [q for q in HEADLINE if q in wanted] + \
        [q for q in wanted if q not in HEADLINE]
    times = run_here("bigslice_spark_bench", names, sf_dir)
    total = round(sum(v for v in times.values() if v > 0), 3)
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }))


if __name__ == "__main__":
    main()
