"""WARC source connector vs an INDEPENDENT spec-direction record writer
(built here, not with the module's own exporter): payload fidelity,
type filtering, per-record gzip members, malformed rejection, and the
Spark binaryFile → mapInArrow path."""

from __future__ import annotations

import gzip
import os

import pytest

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources.warc import (
    parse_warc_bytes,
    read_warc,
    write_warc_bytes,
)


def _rec(wtype: str, body: bytes, uri: str | None = None, rid: str = "id-1") -> bytes:
    """Independent test-side WARC record writer — headers in a DIFFERENT
    order than the module's exporter, extra spacing the spec allows."""
    lines = ["WARC/1.0"]
    lines.append(f"Content-Length:  {len(body)}")
    lines.append(f"WARC-Record-ID: <urn:uuid:{rid}>")
    if uri:
        lines.append(f"WARC-Target-URI: {uri}")
    lines.append(f"WARC-Type: {wtype}")
    lines.append("WARC-Date: 2026-01-01T00:00:00Z")
    head = "\r\n".join(lines).encode()
    return head + b"\r\n\r\n" + body + b"\r\n\r\n"


def test_parse_multi_record_payload_fidelity():
    body1 = b"hello world"
    # a payload CONTAINING the record delimiter: Content-Length must
    # win over any delimiter scanning
    body2 = b"tricky\r\n\r\nWARC/1.0\r\n not a record"
    data = _rec("response", body1, "http://a/") + _rec("metadata", body2)
    recs = list(parse_warc_bytes(data))
    assert [r["warc_type"] for r in recs] == ["response", "metadata"]
    assert recs[0]["content"] == body1
    assert recs[1]["content"] == body2
    assert recs[0]["target_uri"] == "http://a/"
    assert recs[0]["record_id"] == "<urn:uuid:id-1>"
    assert recs[0]["warc_date"] == "2026-01-01T00:00:00Z"


def test_zero_length_and_padding_tolerance():
    data = _rec("warcinfo", b"") + b"\r\n\r\n" + _rec("response", b"x")
    recs = list(parse_warc_bytes(data))
    assert [r["content"] for r in recs] == [b"", b"x"]


def test_per_record_gzip_members_and_whole_file_gzip():
    r1, r2 = _rec("response", b"alpha"), _rec("response", b"beta")
    members = gzip.compress(r1) + gzip.compress(r2)  # Common Crawl layout
    recs = list(parse_warc_bytes(members))
    assert [r["content"] for r in recs] == [b"alpha", b"beta"]
    whole = gzip.compress(r1 + r2)
    recs2 = list(parse_warc_bytes(whole))
    assert [r["content"] for r in recs2] == [b"alpha", b"beta"]


@pytest.mark.parametrize(
    "data, msg",
    [
        (b"GARBAGE\r\nstuff", "version line"),
        (_rec("response", b"abcdef")[:-10], "truncated payload"),
        (
            b"WARC/1.0\r\nWARC-Type: response\r\n\r\nbody\r\n\r\n",
            "no Content-Length",
        ),
        (b"WARC/1.0\r\nbroken header line\r\n\r\n", "without colon"),
    ],
)
def test_malformed_rejected_loudly(data, msg):
    with pytest.raises(ValueError, match=msg):
        list(parse_warc_bytes(data, origin="unit"))


def test_read_warc_spark_path(spark, tmp_path):
    d = tmp_path / "warcs"
    os.makedirs(d)
    (d / "a.warc").write_bytes(
        _rec("response", b"doc one", "http://one/")
        + _rec("request", b"GET / HTTP/1.1")
        + _rec("response", b"doc two", "http://two/")
    )
    (d / "b.warc.gz").write_bytes(
        gzip.compress(_rec("response", b"doc three", "http://three/"))
    )
    rows = read_warc(spark, str(d), record_types=("response",)).collect()
    got = {r.target_uri: (r.content, r.path.endswith("b.warc.gz")) for r in rows}
    assert set(got) == {"http://one/", "http://two/", "http://three/"}
    assert got["http://three/"] == (b"doc three", True)
    assert got["http://one/"][0] == b"doc one"
    # the request record was dropped INSIDE the walker
    assert all(r.warc_type == "response" for r in rows)


def test_export_round_trip(spark):
    recs = [
        {
            "warc_type": "conversion",
            "content": b"curated text",
            "target_uri": "http://x/",
            "record_id": "<urn:uuid:9>",
            "warc_date": "2026-02-02T00:00:00Z",
            "content_type": "text/plain",
        },
        {"warc_type": "warcinfo", "content": b"k: v"},
    ]
    back = list(parse_warc_bytes(write_warc_bytes(recs)))
    assert [r["content"] for r in back] == [b"curated text", b"k: v"]
    assert back[0]["target_uri"] == "http://x/"
    assert back[0]["content_type"] == "text/plain"


def test_http_response_body_strips_envelope_and_encodings():
    import zlib as _zlib

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources.warc import (
        http_response_body,
    )

    body = b"<html>hi</html>"
    plain = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    )
    assert http_response_body(plain) == body
    # bare payloads (pre-decoded bodies, WET records) pass through
    assert http_response_body(body) == body
    gz = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
        + gzip.compress(body)
    )
    assert http_response_body(gz) == body
    defl = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
        + _zlib.compress(body)
    )
    assert http_response_body(defl) == body
    chunked = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"6\r\n<html>\r\n9\r\nhi</html>\r\n0\r\n\r\n"
    )
    assert http_response_body(chunked) == body
    with pytest.raises(ValueError, match="unsupported Content-Encoding"):
        http_response_body(
            b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\nxx"
        )
    with pytest.raises(ValueError, match="bad chunk size"):
        http_response_body(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nZZ\r\nxx"
        )


def test_non_numeric_content_length_names_the_origin():
    data = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 12abc\r\n\r\n"
    with pytest.raises(ValueError, match=r"seg-7.*non-numeric|non-numeric.*seg-7"):
        list(parse_warc_bytes(data, origin="seg-7"))


def test_decode_response_html_spark_path(spark):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources.warc import (
        decode_response_html,
    )

    payload = b"HTTP/1.1 200 OK\r\nServer: x\r\n\r\n<p>body text</p>"
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, None)], "i long, content binary"
    )
    out = {r.i: r.html for r in decode_response_html(df).collect()}
    assert out[1] == "<p>body text</p>"
    assert out[2] is None
