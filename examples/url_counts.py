"""Mirror of the reference's cmd/urls example (urls.go): count hits per
domain from a log-like table, keep the top domains, write shard files
via the WriterFunc-style sink.

Here the events table stands in for the access log; props->$.k is the
"URL" payload. Run: python examples/url_counts.py [sf_dir]
"""
import sys
import tempfile

sys.path.insert(0, __file__.rsplit("/", 2)[0])

import pyspark.sql.functions as F

from bigslice_spark import Session


def main(out: str) -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sess = Session()
    ev = sess.read_parquet(f"{sf_dir}/events.parquet")
    counts = (ev.map_(F.col("event_type").alias("domain"),
                      F.lit(1).alias("hits"), prefix=1)
              .reduce_("sum")
              .top_k(5, F.desc("hits"), "domain"))

    seen = []

    def tap(shard: int, pdf) -> None:   # WriterFunc-style sink tap
        if pdf is None:                 # terminal EOF call: flush point
            return
        seen.append((shard, len(pdf)))

    counts.writer_func(tap).write_parquet(out)
    for domain, hits in counts.collect():
        print(f"{domain}\t{hits}")
    print(f"wrote {out}")


if __name__ == "__main__":
    with tempfile.TemporaryDirectory(prefix="urls_out_") as out:
        main(out)
