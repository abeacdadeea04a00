"""The web-corpus INGEST journey — everything before llm_pipeline.py:

  crawl WARC files → charset detection/decoding → HTML text
  extraction (boilerplate drop) → outlink graph → unicode
  normalization → URL canonicalization + registrable domains →
  substring-level duplicate-span removal → exact dedup →
  Bloom-filter benchmark decontamination → per-domain corpus report

Every stage is one of the audited operators (the same compositions
the source_warc / charset_decode / html_extract / dup_spans /
web_pipeline registry entries oracle-check); this script is the
runnable user journey with per-stage survivor counts. The crawl is
synthesized from the documents table so the example is
self-contained, exactly like the other examples.

Run: python examples/web_ingest.py [sf_dir]
"""
import sys
import tempfile

sys.path.insert(0, __file__.rsplit("/", 2)[0])

import pyspark.sql.functions as F

from bigslice_spark import Session
from bigslice_spark.metrics import Scope
from bigslice_spark.operators.charset import decode_auto
from bigslice_spark.operators.decontam import decontaminate_bloom
from bigslice_spark.operators.dedup import exact_dedup
from bigslice_spark.operators.html import html_extract, html_links
from bigslice_spark.operators.spans import strip_dup_spans
from bigslice_spark.operators.text import normalize_text, token_count
from bigslice_spark.operators.web import registrable_domain
from bigslice_spark.sources.warc import warc_reader, warc_sink


def main(crawl_dir: str) -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sess = Session()
    scope = Scope(sess.spark)
    docs = sess.read_parquet(f"{sf_dir}/documents.parquet").df

    # 0. synthesize the crawl: each doc becomes an HTML page inside an
    # HTTP response inside per-record-gzip WARC; every tenth page is
    # crawled twice (the duplicate the pipeline must collapse)
    ids = F.col("doc_id").cast("string")
    page = F.concat(
        F.lit("<html><head><title>Doc "), ids,
        F.lit("</title><script>var t=1;</script></head><body><p>"),
        F.col("text"),
        F.lit("</p><div><a href='/'>Home</a> | <a href='/a'>About</a>"
              "</div></body></html>"))
    body = F.encode(page, "UTF-8")
    head = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; "
              "charset=utf-8\r\nContent-Length: "),
        F.octet_length(body).cast("string"), F.lit("\r\n\r\n"))
    pages = docs.select(
        F.concat(F.lit("https://corpus.test/doc/"), ids)
        .alias("target_uri"),
        F.concat(F.encode(head, "UTF-8"), body).alias("payload"))
    crawl = pages.unionAll(pages.limit(0).unionByName(
        pages.where(F.xxhash64("target_uri") % 10 == 0)))
    warc_sink(crawl, crawl_dir, warc_type="response",
              content_type="application/http; msgtype=response") \
        .collect()

    # 1. WARC in, HTTP head split off
    recs = warc_reader(sess.spark, crawl_dir, glob="*.warc.gz")
    scope.counter("warc_records").incr(recs.count())

    # 1.5 collapse re-crawls: two fetches of the SAME target_uri share
    # doc_id, and letting both enter the span stage would mark every
    # window of the page as corpus-repeated — strip_dup_spans would
    # blank BOTH copies and the length>0 filter would drop the page
    # entirely instead of keeping one survivor. One record per URI
    # before any content stage; exact_dedup below still collapses
    # DISTINCT urls that carry identical content.
    recs = recs.dropDuplicates(["target_uri"])
    scope.counter("unique_pages").incr(recs.count())

    # 2. charset from the BYTES (headers lie on real crawls)
    decoded = decode_auto(recs.select(
        "target_uri", "payload"), bin_col="payload", text_col="html")

    # 3. HTML -> text; boilerplate (the nav div) dropped by link
    # density; outlink edge list for the graph side
    keyed = decoded.select(
        F.xxhash64("target_uri").alias("doc_id"), "target_uri", "html")
    ext = html_extract(keyed.select("doc_id", "html"))
    links = html_links(keyed.select("doc_id", "html"),
                       base_col=None)
    scope.counter("outlinks").incr(links.count())

    # 4. unicode normalization + URL/domain enrichment
    enriched = (normalize_text(ext, text_col="main_text",
                               out_col="clean")
                .join(keyed.select("doc_id", "target_uri"), "doc_id")
                .select("doc_id", "clean",
                        registrable_domain(
                            F.parse_url("target_uri", F.lit("HOST")))
                        .alias("domain")))

    # 5. substring-level duplicate-span removal, then exact dedup on
    # the surviving text (16-byte digests shuffle, never documents)
    stripped = (strip_dup_spans(enriched, text_col="clean",
                                id_col="doc_id", w=8)
                .filter(F.length("clean_text") > 0)
                .join(enriched.select("doc_id", "domain"), "doc_id"))
    kept = exact_dedup(stripped, text_col="clean_text",
                       id_col="doc_id")     # (digest, survivor id, n)
    survivors = kept.select("doc_id").join(stripped, "doc_id")
    scope.counter("after_dedup").incr(survivors.count())

    # 6. Bloom decontamination against a held-out eval split — the
    # beyond-broadcast path (only 8-byte hashes cross into Python)
    ev = docs.filter(F.col("doc_id") % 17 == 0)
    clean = decontaminate_bloom(
        survivors.withColumnRenamed("clean_text", "text"), ev,
        ngram_w=8, min_shared=1, fpp=0.01)
    scope.counter("after_decontam").incr(clean.count())

    # 7. per-domain corpus report
    report = (clean.groupBy("domain")
              .agg(F.count(F.lit(1)).alias("docs"),
                   F.sum(token_count("text")).alias("tokens")))
    report.show(truncate=False)
    print({k: v for k, v in sorted(scope.snapshot().items())})
    # every frame above has had its final action; a long-lived driver
    # would free the journey's materialized intermediates here before
    # the next corpus snapshot (README design rule 7). Released frames
    # cannot be re-collected — which is why this sits AFTER the last
    # action, never between stages that still share lazy lineage.
    sess.release_materialized()


if __name__ == "__main__":
    with tempfile.TemporaryDirectory(prefix="web_ingest_") as tmp:
        main(tmp)
