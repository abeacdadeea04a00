"""Streaming + non-parquet source tests."""

import io
import os
import tarfile

import pyspark.sql.functions as F


def test_stream_tumbling_equals_batch(spark, sf_dir, tables):
    from bigslice_spark.streaming import (run_to_completion, stream_events,
                                          tumbling_counts)
    ev = stream_events(spark, sf_dir)
    got = run_to_completion(tumbling_counts(ev, "1 hour"), "t_tumble")
    batch = (tables["events"]
             .groupBy(F.date_trunc("hour", "ts").alias("hr"), "event_type")
             .agg(F.count(F.lit(1)).alias("n")))
    g = {(r["hr"], r["event_type"]): r["n"] for r in got.collect()}
    b = {(r["hr"], r["event_type"]): r["n"] for r in batch.collect()}
    assert g == b


def test_stream_sessions_match_batch_sessionize(spark, sf_dir):
    from bigslice_spark.queries import QUERIES
    from bigslice_spark.streaming import (run_to_completion, session_windows,
                                          stream_events)
    ev = stream_events(spark, sf_dir)
    got = run_to_completion(session_windows(ev, "30 minutes"), "t_sess")
    batch_sessions = QUERIES["sessionize"](spark, sf_dir).count()
    assert got.count() == batch_sessions


def test_stateful_user_counts(spark, sf_dir, tables):
    from bigslice_spark.streaming import (run_to_completion,
                                          stateful_user_counts,
                                          stream_events)
    ev = stream_events(spark, sf_dir)
    out = run_to_completion(stateful_user_counts(ev, threshold=10),
                            "t_stateful", output_mode="update")
    # one final row per user; totals must equal the batch counts
    got = {r["user_id"]: r["total"] for r in out.collect()}
    batch = {r["user_id"]: r["count"]
             for r in tables["events"].groupBy("user_id").count().collect()}
    assert got == batch


def test_watermark_drops_late_data(spark, tmp_path):
    """The §2.3 late-data claim, pinned: in append mode with a 1-hour
    watermark, an event arriving in a later micro-batch but timestamped
    BEFORE the advanced watermark must be dropped; an in-watermark
    late event must still be aggregated."""
    import pandas as pd
    from pyspark.sql import types as T

    d = str(tmp_path)
    src, out = os.path.join(d, "src"), os.path.join(d, "sink")
    os.makedirs(src)
    schema = T.StructType([T.StructField("ts", T.TimestampType()),
                           T.StructField("k", T.StringType())])

    def write_batch(name, rows):
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["ts", "k"]), schema=schema
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, name))

    t0 = pd.Timestamp("2026-01-01 10:00:00")
    write_batch("b1", [(t0, "a"), (t0 + pd.Timedelta(minutes=5), "a")])

    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "*.parquet")
              .parquet(src + "/*")
              .withWatermark("ts", "1 hour")
              .groupBy(F.window("ts", "15 minutes").alias("w"), "k")
              .agg(F.count(F.lit(1)).alias("n")))
    q = (stream.writeStream.outputMode("append").format("parquet")
         .option("path", out)
         .option("checkpointLocation", os.path.join(d, "ckpt"))
         .start())
    try:
        q.processAllAvailable()
        # batch 2 advances event-time to 12:00 → watermark 11:00, and the
        # 10:00-10:15 window below it finalizes (emitted in append mode)
        write_batch("b2", [(t0 + pd.Timedelta(hours=2), "a")])
        q.processAllAvailable()
        # batch 3: one event at 09:00 (< watermark 11:00 → DROPPED) and
        # one at 11:30 (>= watermark → kept, window not yet final)
        write_batch("b3", [(t0 - pd.Timedelta(hours=1), "a"),
                           (t0 + pd.Timedelta(minutes=90), "a")])
        q.processAllAvailable()
        # batch 4 pushes the watermark past every open window
        write_batch("b4", [(t0 + pd.Timedelta(hours=5), "a")])
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r["w"]["start"].isoformat(), r["n"])
           for r in spark.read.parquet(out).collect()}
    # 09:00 late event absent; 10:00 window has BOTH b1 events;
    # 11:30 and 12:00 and 15:00 events each in their own window
    assert ("2026-01-01T10:00:00", 2) in got
    assert ("2026-01-01T11:30:00", 1) in got
    assert ("2026-01-01T12:00:00", 1) in got
    assert not any(s.startswith("2026-01-01T09:00") for s, _ in got), got


def test_scan_reader_lines(spark, tmp_path):
    from bigslice_spark.sources import scan_reader
    d = str(tmp_path)
    with open(os.path.join(d, "a.txt"), "w") as f:
        f.write("alpha beta\ngamma\n\ndelta\n")
    df = scan_reader(spark, d, nshard=2)
    lines = sorted(r["line"] for r in df.collect())
    assert lines == ["", "alpha beta", "delta", "gamma"]


def test_tar_reader(spark, tmp_path):
    from bigslice_spark.sources import tar_reader
    d = str(tmp_path)
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in [("x/one.txt", b"hello"), ("two.bin", b"\x00\x01")]:
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    with open(os.path.join(d, "arch.tar"), "wb") as f:
        f.write(buf.getvalue())
    rows = {r["name"]: (r["size"], bytes(r["body"]))
            for r in tar_reader(spark, d).collect()}
    assert rows == {"x/one.txt": (5, b"hello"), "two.bin": (2, b"\x00\x01")}


def test_stream_dedup_equals_batch_distinct(spark, sf_dir, tables):
    """Streaming dropDuplicatesWithinWatermark over the finite source
    emits exactly the batch-DISTINCT key set."""
    from bigslice_spark.streaming import (run_to_completion,
                                          stream_distinct_keys,
                                          stream_events)
    ev = stream_events(spark, sf_dir)
    got = {(r["user_id"], r["event_type"]) for r in run_to_completion(
        stream_distinct_keys(ev), "t_stream_dedup",
        output_mode="append").collect()}
    want = {(r["user_id"], r["event_type"]) for r in
            tables["events"].select("user_id", "event_type")
            .distinct().collect()}
    assert got == want and len(got) > 0


def test_stream_events_starts_before_data_exists(spark, tmp_path):
    """ADVICE r3: a stream must be startable before events.parquet
    lands (standard FileStreamSource usage) — the static-footer probe
    falls back to the legacy int64-nanos schema instead of raising."""
    from bigslice_spark.streaming import stream_events
    df = stream_events(spark, str(tmp_path))  # empty dir: no footer
    assert df.isStreaming
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_read_csv_malformed_row_policies(spark, tmp_path):
    """PERMISSIVE captures the raw broken line in the corrupt column
    (quarantine via filter), DROPMALFORMED silently drops, FAILFAST
    aborts the read — the three standard CSV ingest policies."""
    import pytest as _pt
    from bigslice_spark.sources import read_csv
    p = tmp_path / "data.csv"
    p.write_text("k,name\n0,alpha\n1,beta\n2,gamma,extra\n"
                 "x,delta\n3,epsilon\n")
    path = str(tmp_path)
    got = sorted(
        ((r["k"], r["name"], r["_bad"]) for r in read_csv(
            spark, path, "k int, name string",
            corrupt_record_col="_bad").collect()),
        key=repr)
    assert got == sorted([
        (0, "alpha", None), (1, "beta", None),
        (2, "gamma", "2,gamma,extra"),   # too many fields
        (None, "delta", "x,delta"),      # untypeable field
        (3, "epsilon", None)], key=repr)
    assert sorted(r["k"] for r in read_csv(
        spark, path, "k int, name string",
        mode="DROPMALFORMED").collect()) == [0, 1, 3]
    with _pt.raises(Exception, match="FAILED_READ_FILE|Malformed"):
        read_csv(spark, path, "k int, name string",
                 mode="FAILFAST").collect()
    with _pt.raises(ValueError, match="mode"):
        read_csv(spark, path, "k int, name string", mode="nope")
    with _pt.raises(ValueError, match="PERMISSIVE"):
        read_csv(spark, path, "k int, name string",
                 mode="DROPMALFORMED", corrupt_record_col="_bad")


def test_stream_events_fallback_guard_trips_on_wrong_units(spark, tmp_path):
    """ADVICE r4: if a stream started before data pinned the legacy
    int64-nanos schema and the file that lands carries int64 values in
    OTHER units, the div-1000 normalization would silently skew every
    timestamp 1000x — the fallback path instead raise_errors on
    implausible derived event times."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pt
    from bigslice_spark.streaming import stream_events
    df = stream_events(spark, str(tmp_path))  # empty dir: fallback pin
    # micros-valued int64 (~1.7e15): read as nanos -> 1970s timestamps
    tbl = pa.table({
        "event_id": pa.array([1], pa.int64()),
        "ts": pa.array([1_700_000_000_000_000], pa.int64()),
        "user_id": pa.array([7], pa.int64()),
        "event_type": pa.array(["view"], pa.string()),
        "value": pa.array([1.0], pa.float64()),
        "props": pa.array(["{}"], pa.string())})
    pq.write_table(tbl, os.path.join(str(tmp_path), "events.parquet"))
    q = (df.writeStream.format("memory").outputMode("append")
         .queryName("bss_guard_test").start())
    try:
        with _pt.raises(Exception, match="plausible|raise_error"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_stream_dedup_against_empty_stream(spark, tmp_path):
    """ADVICE r5: a stream that delivers no admissible rows (or no
    micro-batches at all) must still return an EMPTY admitted set, not
    raise AnalysisException on a parquet path that was never written."""
    from bigslice_spark.streaming import stream_documents
    from bigslice_spark.streaming import stream_dedup_against
    src = tmp_path / "src"
    src.mkdir()
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    docs = stream_documents(spark, str(src))  # no files => zero batches
    out = stream_dedup_against(
        docs, corpus, path=str(tmp_path / "admit"),
        checkpoint=str(tmp_path / "ckpt"), name="bss_admit_empty")
    assert out.count() == 0
    assert "doc_id" in out.columns and "text" in out.columns


def test_isolated_stream_never_mutates_parent_conf(spark, sf_dir):
    """Builder-form run_to_completion (r7 verdict task 7): the
    stream_join entry pins 8 state partitions, but the pin lives on an
    isolated newSession() clone — while the stream is in flight, batch
    queries plan CONCURRENTLY on the parent session, the parent's
    shuffle-partition conf never changes, and the stream still returns
    its (parent-session) result."""
    import threading

    import pyspark.sql.functions as F
    from bigslice_spark.queries import QUERIES

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    res: dict = {}

    def run_stream():
        try:
            res["df"] = QUERIES["stream_join"](spark, sf_dir)
        except Exception as e:        # surface in the main thread
            res["err"] = e

    th = threading.Thread(target=run_stream)
    th.start()
    conf_ok, batch_ok, iters = True, True, 0
    while th.is_alive() or iters == 0:   # at least one concurrent probe
        conf_ok &= spark.conf.get(key) == before
        n = (spark.range(1000)
             .groupBy((F.col("id") % 7).alias("k")).count().count())
        batch_ok &= n == 7
        iters += 1
        if iters > 500:
            break
    th.join()
    assert "err" not in res, res.get("err")
    assert conf_ok, "parent shuffle-partition conf changed mid-stream"
    assert batch_ok
    assert spark.conf.get(key) == before
    # the returned frame is usable on the PARENT session (joinable
    # with parent frames — the cross-session copy happened)
    assert res["df"].sparkSession is spark
    assert res["df"].count() >= 0
