"""The 100TB training-data pipeline, end to end on this engine:

  PII scrub → quality prefilter → Gopher battery → code routing →
  C4 page cleaning → bigram-LM perplexity cut → classifier score filter →
  exact dedup → cross-document line dedup → MinHash near-dup removal →
  near-dup CLUSTER report (connected components) → benchmark
  decontamination → stratified source quotas → per-language token
  budget → sequence packing — with distributed counters at every
  stage.

Every stage is one of the audited operators (the same compositions the
`pipeline_end2end` / round-3 registry entries oracle-check); this
script is the runnable user journey with per-stage survivor counts.

Run: python examples/llm_pipeline.py [sf_dir]
"""
import sys
import tempfile

sys.path.insert(0, __file__.rsplit("/", 2)[0])

import pyspark.sql.functions as F

from bigslice_spark import Session
from bigslice_spark.metrics import Scope
from bigslice_spark.operators.classify import demo_weights, score_documents
from bigslice_spark.operators.decontam import decontaminate
from bigslice_spark.operators.dedup import (exact_dedup,
                                            minhash_lsh_pairs, span_dedup)
from bigslice_spark.operators.graph import connected_components
from bigslice_spark.operators.packing import pack_sequences
from bigslice_spark.operators.pii import scrub_pii
from bigslice_spark.operators.sampling import mix_weights, stratified_sample
from bigslice_spark.operators.text import (bpe_token_count, chunk_documents,
                                           quality_score)


def main(tmp: str) -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sess = Session()
    scope = Scope(sess.spark)
    docs = sess.read_parquet(f"{sf_dir}/documents.parquet").df
    scope.counter("ingested").incr(docs.count())

    # 0. PII scrub — pure projection, runs at scan speed
    meta = docs.drop("text")
    docs = scrub_pii(docs).select("doc_id", "text") \
        .join(meta, on="doc_id")

    # 1. cheap quality prefilter (codegen'd token stats)
    q = quality_score(docs).filter(F.col("quality") >= 0.5)
    docs = docs.join(q.select("doc_id"), on="doc_id", how="left_semi")
    scope.counter("after_quality").incr(docs.count())

    # 1b. Gopher rule battery — seven per-doc flags, integer-exact
    #     ratio cuts, zero-shuffle (stopword lexicon remapped to the
    #     synthetic vocabulary)
    from bigslice_spark.operators.text import gopher_rules
    g = gopher_rules(docs, min_words=10,
                     stopwords=("the", "key", "order", "scan"))
    docs = docs.join(g.filter(F.col("passes")).select("doc_id"),
                     on="doc_id", how="left_semi")
    scope.counter("after_gopher").incr(docs.count())

    # 1c. code-vs-prose routing — the mixed-crawl splitter: code docs
    #     branch to their own pipeline (here: just counted), prose
    #     continues (zero-shuffle integer-threshold flags)
    from bigslice_spark.operators.text import c4_filters, code_detect
    routed = code_detect(docs)
    n_code = routed.filter(F.col("is_code")).count()
    print(f"routed\tcode\t{n_code}")
    docs = docs.join(routed.filter(~F.col("is_code"))
                     .select("doc_id"), on="doc_id", how="left_semi")
    scope.counter("after_code_routing").incr(docs.count())

    # 1d. C4 page cleaning — line retention + page rejection (this
    #     corpus is single-line, so lines = 12-token spans for the
    #     demo; pages keeping <3 sentences or carrying placeholders
    #     drop). Gopher checks token SHAPE; C4 checks line STRUCTURE.
    paged = docs.withColumn(
        "text", F.regexp_replace(
            F.regexp_replace("text", r"((?:\S+\s+){12})", "$1.\n"),
            r"\.?$", "."))
    c4 = c4_filters(paged, min_sentences=2, min_line_words=5)
    docs = docs.join(c4.filter(F.col("passes")).select("doc_id"),
                     on="doc_id", how="left_semi")
    scope.counter("after_c4").incr(docs.count())

    # 1e. statistical-LM quality: add-one bigram mean log-prob (the
    #     CCNet/KenLM-perplexity analog) — drop the least
    #     reference-like tail
    from bigslice_spark.operators.lm import lm_quality
    lm = lm_quality(docs)
    cut = lm.approxQuantile("avg_logprob", [0.05], 0.01)[0]
    docs = docs.join(lm.filter(F.col("avg_logprob") >= cut)
                     .select("doc_id"), on="doc_id", how="left_semi")
    # the battery is five chained semi-joins on top of the scrub —
    # truncate the lineage here (localCheckpoint) so every downstream
    # stage's analysis and recomputation starts from the battery's
    # OUTPUT, not its plan (the checkpoint.materialize pattern the
    # iterative operators use)
    docs = docs.localCheckpoint()
    scope.counter("after_lm_quality").incr(docs.count())

    # 2. model-based quality: hashed-feature linear scorer (broadcast
    #    model; stands in for a trained fasttext-style classifier)
    scored = score_documents(docs, demo_weights(sess.spark))
    keep = scored.filter(F.col("score") > -0.2).select("doc_id")
    docs = docs.join(keep, on="doc_id", how="left_semi")
    scope.counter("after_classifier").incr(docs.count())

    # 3. exact dedup: 16-byte digests shuffle, not content
    docs = docs.join(exact_dedup(docs).select("doc_id"),
                     on="doc_id", how="left_semi")
    scope.counter("after_exact_dedup").incr(docs.count())

    # 4. cross-document line dedup (C4 rule; lines = 8-token spans on
    #    this single-line synthetic corpus)
    lined = docs.withColumn(
        "text", F.regexp_replace("text", r"((?:\S+\s+){8})", "$1\n"))
    deduped = span_dedup(lined).withColumn(
        "text", F.regexp_replace("text", "\n", " "))
    docs = deduped.join(meta, on="doc_id")
    scope.counter("after_line_dedup").incr(docs.count())

    # 5. near-dup pairs (un-capped banded LSH) → clusters → keep minima
    pairs = minhash_lsh_pairs(docs, threshold=0.5)

    # 5a. leakage-safe split FIRST, while the pair relation still
    #     exists: the whole dup cluster is one split atom, so a test
    #     doc can never have a near-copy in train — splitting after
    #     dedup would lose the pairs that prove isolation. Training
    #     continues on the train split; val/test are set aside.
    from bigslice_spark.operators.sampling import leakage_safe_split
    split = leakage_safe_split(
        docs, pairs, fractions=(("train", 0.96), ("val", 0.02),
                                ("test", 0.02)))
    for r in split.groupBy("split").count().orderBy("split").collect():
        print(f"split\t{r['split']}\t{r['count']}")
    docs = split.filter(F.col("split") == "train") \
        .drop("split", "split_group")
    scope.counter("after_split_train").incr(docs.count())

    comp = connected_components(pairs, src="id_a", dst="id_b")
    losers = comp.filter(F.col("node") != F.col("component")) \
        .select(F.col("node").alias("doc_id"))
    docs = docs.join(losers, on="doc_id", how="left_anti")
    scope.counter("after_near_dedup").incr(docs.count())

    # 5b. SemDeDup over the embedding space: deterministic k-means
    #     clusters, then drop lower-id cosine neighbors within a cell
    from bigslice_spark.operators.clustering import kmeans_train
    from bigslice_spark.operators.dedup import semantic_dedup
    emb = sess.read_parquet(f"{sf_dir}/embeddings.parquet").df
    cents = kmeans_train(emb, k=8, dim=64, iters=2)
    sem = semantic_dedup(emb, cents, threshold=0.35)
    docs = docs.join(sem.select(F.col("vec_id").alias("doc_id")),
                     on="doc_id", how="left_semi")
    scope.counter("after_semantic_dedup").incr(docs.count())

    # 6. decontaminate against a held-out eval split (broadcast eval
    #    shingles — the corpus never shuffles)
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    docs = decontaminate(train, eval_df, ngram_w=3, min_shared=2)
    scope.counter("after_decontam").incr(docs.count())

    # 6b. novelty vs the previous training snapshot (synthesized here
    #     as a doc_id slice): the per-doc fraction of 5-grams the last
    #     run never saw — reported per source so the mixing step can
    #     up-weight fresh feeds (no filtering; a report, like mix)
    from bigslice_spark.operators.decontam import ngram_novelty
    prev_snapshot = docs.filter(F.col("doc_id") % 3 == 0)
    nov = (ngram_novelty(docs, prev_snapshot, ngram_w=5)
           .join(docs.select("doc_id", "source"), on="doc_id")
           .groupBy("source")
           .agg(F.avg("novelty").alias("novelty")))
    for r in nov.orderBy("source").collect():
        print(f"novelty\t{r['source']}\t{r['novelty']:.3f}")

    # 7. cap every source at a quota (deterministic stratified sample)
    docs = stratified_sample(docs, "source", 50)
    scope.counter("after_source_quota").incr(docs.count())

    # 8. per-language token budget for the sampler + temperature
    #    mixture weights per source ((n_s/N)^0.5 — the mT5/XLM-R rule)
    budget = (docs.groupBy("lang")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum(bpe_token_count("text")).alias("token_budget"))
              .orderBy("lang"))
    for lang, n_docs, tokens in budget.collect():
        print(f"{lang}\t{n_docs}\t{tokens}")
    for r in mix_weights(docs, "source").orderBy("source").collect():
        print(f"mix\t{r['source']}\t{r['weight']:.4f}")

    # 8b. split long survivors into 128-token windows (chunk → pack is
    #     the standard long-doc path). Packing orders by its id column,
    #     so chunks get a unique, order-preserving uid
    #     (doc_id·1024 + chunk_id — chunks/doc ≪ 1024 on any corpus
    #     this example runs on).
    chunks = (chunk_documents(docs, chunk_tokens=128)
              .select((F.col("doc_id") * 1024 + F.col("chunk_id"))
                      .alias("doc_id"),
                      F.col("chunk_text").alias("text")))
    scope.counter("chunks").incr(chunks.count())

    # 9. pack survivors into fixed-length training sequences
    packed = pack_sequences(chunks, max_len=512)
    n_seq = packed.agg(F.max("seq_id")).first()[0]
    scope.counter("train_sequences").incr(int(n_seq) + 1)

    # 9b. train the tokenizer ON the curated corpus (one word-count
    #     pass + driver merge loop) and price it in real BPE tokens
    from bigslice_spark.operators.bpe import bpe_encode, bpe_train
    merges = bpe_train(docs, num_merges=30, min_count=2)
    bpe_total = bpe_encode(docs, merges).agg(
        F.sum("n_tokens")).first()[0]
    print(f"bpe	{len(merges)} merges	{bpe_total} tokens")

    # 9c. data-quality gate before the table goes live
    from bigslice_spark.operators.checks import data_checks
    for r in data_checks(docs, {
        "doc_id_not_null": F.col("doc_id").isNotNull(),
        "text_not_empty": F.length("text") > 0,
    }).collect():
        print(f"check	{r['check']}	{r['n_violations']}"
              f"/{r['n_rows']}")

    # 10. materialize the curated corpus as a MUTABLE serving table:
    #     language-partitioned snapshot (the next ingest batch merges
    #     with upsert(partition_by=...) touching only its languages),
    #     then fold the write's shards into one file per partition and
    #     report table health — the round-5 serving-layer ending.
    from bigslice_spark.operators.upsert import (compact_partitions,
                                                 snapshot_stats, upsert)
    table = tmp + "/corpus"
    upsert(sess.spark, table, docs, ["doc_id"], partition_by=["lang"])
    compact_partitions(sess.spark, table, min_files=2)
    for r in snapshot_stats(sess.spark, table).collect():
        print(f"serving\t{r['partition']}\tv{r['physical_version']}"
              f"\t{r['n_files']} files\t{r['n_bytes']}B")

    for stage, n in scope.snapshot().items():
        print(f"# {stage}: {n}")


if __name__ == "__main__":
    with tempfile.TemporaryDirectory(prefix="llm_serving_") as tmp:
        main(tmp)
