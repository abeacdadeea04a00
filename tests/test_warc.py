"""WARC source/sink (sources/warc.py): framing round-trips, the
Common Crawl per-record-gzip layout, HTTP payload splitting, hostile
input, and the Spark reader/writer pair."""

import gzip

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from bigslice_spark.sources.warc import (make_http_response, make_warc,
                                         make_warc_record, parse_warc,
                                         split_http_payload,
                                         warc_reader, warc_sink)

PROP = settings(max_examples=25, deadline=None,
                suppress_health_check=[HealthCheck.too_slow])


def _resp(body: bytes, uri: str) -> bytes:
    return make_warc_record(
        "response", make_http_response(body), target_uri=uri,
        content_type="application/http; msgtype=response")


@PROP
@given(bodies=st.lists(st.binary(max_size=300), min_size=1,
                       max_size=8),
       gz=st.booleans())
def test_roundtrip_property(bodies, gz):
    recs = [_resp(b, f"https://x.test/{i}")
            for i, b in enumerate(bodies)]
    out = list(parse_warc(make_warc(recs, gzip_per_record=gz)))
    assert len(out) == len(bodies)
    for i, (h, p) in enumerate(out):
        assert h["WARC-Target-URI"] == f"https://x.test/{i}"
        st_, ct, body = split_http_payload(p)
        assert (st_, ct) == (200, "text/html")
        assert body == bodies[i]


def test_record_types_and_headers():
    recs = [
        make_warc_record("warcinfo", b"software: t\r\n",
                         content_type="application/warc-fields"),
        make_warc_record("conversion", "wet text é".encode(),
                         target_uri="https://a.test/p",
                         content_type="text/plain",
                         extra_headers={"WARC-Refers-To": "<urn:x>"}),
    ]
    (h0, p0), (h1, p1) = parse_warc(make_warc(recs))
    assert h0["WARC-Type"] == "warcinfo" and p0 == b"software: t\r\n"
    assert h1["WARC-Refers-To"] == "<urn:x>"
    assert p1.decode() == "wet text é"


def test_payload_containing_warc_magic():
    """Content-Length framing, not scanning: a payload that contains
    'WARC/1.0' and CRLFCRLF must not desynchronize the parser."""
    evil = b"WARC/1.0\r\nFake: x\r\n\r\n" * 3
    recs = [_resp(evil, "https://e.test/1"),
            _resp(b"after", "https://e.test/2")]
    out = list(parse_warc(make_warc(recs, gzip_per_record=False)))
    assert [h["WARC-Target-URI"] for h, _ in out] == \
        ["https://e.test/1", "https://e.test/2"]
    assert split_http_payload(out[0][1])[2] == evil


def test_folded_header_and_loose_trailer():
    raw = (b"WARC/1.0\r\n"
           b"WARC-Type: metadata\r\n"
           b"X-Long: part one\r\n  part two\r\n"
           b"Content-Length: 2\r\n\r\n"
           b"ab")                               # no trailing CRLFs
    (h, p), = parse_warc(raw)
    assert h["X-Long"] == "part one part two" and p == b"ab"


@pytest.mark.parametrize("mutate", [
    lambda b: b"JUNK" + b,                      # bad magic
    lambda b: b[:-10],                          # truncated payload
    lambda b: b.replace(b"Content-Length: ", b"Content-Length: x", 1),
])
def test_corrupt_raises(mutate):
    blob = make_warc([_resp(b"0123456789abcdef", "https://c.test/")],
                     gzip_per_record=False)
    with pytest.raises(ValueError):
        list(parse_warc(mutate(blob)))


def test_truncated_gzip_member_raises():
    blob = make_warc([_resp(b"hello", "https://g.test/")])
    with pytest.raises(ValueError, match="gzip"):
        list(parse_warc(blob[:-5]))


def test_non_http_response_payload_passthrough():
    st_, ct, body = split_http_payload(b"not-http-at-all")
    assert (st_, ct, body) == (None, None, b"not-http-at-all")


def test_spark_sink_then_reader(spark, tmp_path):
    import pandas as pd
    d = str(tmp_path / "warcs")
    rows = [(f"https://s.test/{i}", f"body-{i}-é".encode())
            for i in range(20)]
    df = spark.createDataFrame(rows, "target_uri string, payload binary") \
        .repartition(4)
    summary = warc_sink(df, d, warc_type="resource",
                        content_type="text/plain").collect()
    assert sum(r["n_records"] for r in summary) == 20
    assert all(r["file"].endswith(".warc.gz") for r in summary)

    back = warc_reader(spark, d, glob="*.warc.gz").collect()
    assert len(back) == 20
    got = {r["target_uri"]: bytes(r["payload"]) for r in back}
    for uri, body in rows:
        assert got[uri] == body
    r0 = back[0]
    assert r0["warc_type"] == "resource"
    assert r0["content_type"] == "text/plain"
    assert r0["http_status"] is None            # resource, not response


def test_spark_reader_splits_http(spark, tmp_path):
    d = tmp_path / "w"
    d.mkdir()
    recs = [_resp("<p>pagé</p>".encode(), "https://h.test/x"),
            make_warc_record("request", b"GET / HTTP/1.1\r\n\r\n",
                             target_uri="https://h.test/x",
                             content_type="application/http")]
    (d / "f.warc.gz").write_bytes(make_warc(recs))
    out = {r["warc_type"]: r
           for r in warc_reader(spark, str(d)).collect()}
    resp = out["response"]
    assert resp["http_status"] == 200
    assert resp["http_content_type"] == "text/html"
    assert bytes(resp["payload"]).decode() == "<p>pagé</p>"
    # request records keep their raw block (no response-head split)
    assert bytes(out["request"]["payload"]).startswith(b"GET /")


def test_warc_stream_reader_matches_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from bigslice_spark.sources.warc import (warc_reader, warc_sink,
                                             warc_stream_reader)
    from bigslice_spark.streaming import run_to_completion

    d = str(tmp_path)
    body = F.encode(F.concat(F.lit("doc "), F.col("id")), "UTF-8")
    head = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
              "Content-Length: "),
        F.octet_length(body).cast("string"), F.lit("\r\n\r\n"))
    docs = spark.range(40).select(
        F.concat(F.lit("https://x.test/"), F.col("id"))
        .alias("target_uri"),
        F.concat(F.encode(head, "UTF-8"), body).alias("payload"))
    warc_sink(docs, d, warc_type="response",
              content_type="application/http; msgtype=response") \
        .collect()
    batch = {r["target_uri"]: bytes(r["payload"])
             for r in warc_reader(spark, d, glob="*.warc.gz").collect()}
    stream = warc_stream_reader(spark, d, glob="*.warc.gz") \
        .select("target_uri", "payload", "http_status")
    got = run_to_completion(stream, "t_warc_stream",
                            output_mode="append")
    rows = got.collect()
    assert len(rows) == 40 == len(batch)
    for r in rows:
        assert bytes(r["payload"]) == batch[r["target_uri"]]
        assert r["http_status"] == 200
