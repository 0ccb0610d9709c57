"""WARC source connector — the web-archive format LLM corpora arrive in
(Common Crawl ships WARC/WET files; a training-data pipeline's first
job is usually "read a few hundred TB of WARC").

Execution shape: ``spark.read.format("binaryFile")`` distributes the
FILES; each file's record walk is a pure-Python generator inside
``mapInArrow``, so one file = one task and a 100 TB crawl parallelizes
across its ~100k segment files with zero driver involvement. (WARC is a
concatenated-record format with no splitpoints index — per-file is the
natural parallel grain, matching how Common Crawl sizes segments to
~1 GB precisely so that file-level parallelism is enough.)

Format handling, ISO 28500 subset:

- records: ``WARC/1.0\\r\\n`` + headers + CRLF CRLF + exactly
  ``Content-Length`` payload bytes + CRLF CRLF;
- gzip transparently (magic-sniffed): Common Crawl gzips PER RECORD
  and concatenates the members — a ``zlib`` multi-member loop
  decompresses the stream back into concatenated records, which also
  covers whole-file gzip as the 1-member case;
- malformed input fails LOUDLY (truncated payload, missing
  Content-Length, bad version line) with the file path in the message —
  a silently skipped record is corpus loss nobody notices.

No third-party warc library is involved; the parser is ~60 lines of
stdlib and is validated against an INDEPENDENT spec-direction writer in
``tests/test_warc_source.py`` plus a corpus round-trip driver gate
(``q_llm_warc_roundtrip``).
"""

from __future__ import annotations

import zlib
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "decode_response_html",
    "http_response_body",
    "parse_warc_bytes",
    "read_warc",
    "write_warc_bytes",
]

WARC_SCHEMA = (
    "path string, record_id string, warc_type string, target_uri string, "
    "warc_date string, content_type string, content binary"
)


def _gunzip_members(data: bytes) -> bytes:
    """Concatenated-gzip-member decompression (the Common Crawl layout:
    one member per record). Plain zlib.decompress stops at the first
    member; this loops until the stream is consumed."""
    out = []
    while data:
        d = zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(data))
            out.append(d.flush())
        except zlib.error as exc:
            # keep the module's single failure type: damaged gzip is
            # malformed input, not an internal error
            raise ValueError(f"malformed gzip member: {exc}") from None
        if not d.eof:
            # a TRUNCATED final member consumes its input without a
            # zlib.error and leaves unused_data empty — without this
            # check the loop would exit normally and a cut-off crawl
            # file could pass as complete (fail-loudly contract)
            raise ValueError("malformed gzip member: truncated stream")
        if d.unused_data == data:
            raise ValueError("malformed gzip member: no progress")
        data = d.unused_data
    return b"".join(out)


def parse_warc_bytes(data: bytes, origin: str = "<bytes>") -> Iterator[dict]:
    """Walk one WARC stream, yielding a dict per record. Raises
    ValueError (with ``origin``) on structural damage rather than
    skipping bytes."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record padding (spec: exactly 2 CRLFs, but be
        # tolerant of extras — they carry no information)
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        eol = data.find(b"\r\n", pos)
        if eol < 0 or not data[pos:eol].startswith(b"WARC/"):
            raise ValueError(
                f"malformed WARC ({origin}): expected version line at "
                f"byte {pos}, got {data[pos:pos + 20]!r}"
            )
        hdr_end = data.find(b"\r\n\r\n", eol)
        if hdr_end < 0:
            raise ValueError(
                f"malformed WARC ({origin}): unterminated header block "
                f"at byte {pos}"
            )
        headers: dict[str, str] = {}
        for line in data[eol + 2 : hdr_end].split(b"\r\n"):
            k, sep, v = line.partition(b":")
            if not sep:
                raise ValueError(
                    f"malformed WARC ({origin}): header line without "
                    f"colon: {line[:40]!r}"
                )
            headers[k.strip().decode("ascii").lower()] = v.strip().decode(
                "utf-8", "replace"
            )
        if "content-length" not in headers:
            raise ValueError(
                f"malformed WARC ({origin}): record at byte {pos} has "
                "no Content-Length"
            )
        try:
            clen = int(headers["content-length"])
        except ValueError:
            raise ValueError(
                f"malformed WARC ({origin}): non-numeric Content-Length "
                f"{headers['content-length']!r} at byte {pos}"
            ) from None
        if clen < 0:
            # a negative length would walk `pos` BACKWARD — on crafted
            # input that re-parses the same region forever
            raise ValueError(
                f"malformed WARC ({origin}): negative Content-Length "
                f"{clen} at byte {pos}"
            )
        body_start = hdr_end + 4
        if body_start + clen > n:
            raise ValueError(
                f"malformed WARC ({origin}): truncated payload at byte "
                f"{body_start} (need {clen}, have {n - body_start})"
            )
        yield {
            "record_id": headers.get("warc-record-id", ""),
            "warc_type": headers.get("warc-type", ""),
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "content_type": headers.get("content-type"),
            "content": data[body_start : body_start + clen],
        }
        pos = body_start + clen


def read_warc(
    spark: SparkSession,
    path: str,
    *,
    record_types: tuple[str, ...] | None = None,
) -> DataFrame:
    """Read WARC (or per-record-gzipped .warc.gz) files into one row per
    record. ``record_types`` filters on WARC-Type ('response',
    'conversion', …) INSIDE the walker, before anything is yielded —
    a WET-style text extraction never materializes the request/metadata
    records it is about to drop."""
    wanted = tuple(t.lower() for t in record_types) if record_types else None
    files = spark.read.format("binaryFile").load(path)
    cols = (
        "path", "record_id", "warc_type", "target_uri",
        "warc_date", "content_type", "content",
    )
    # flush the walker every N records: a ~1 GB segment decompresses to
    # several GB — holding raw bytes + decompressed stream + EVERY
    # record payload in one Arrow batch simultaneously is an avoidable
    # peak-memory multiplier
    flush_every = 1024

    schema = pa.schema(
        [(c, pa.binary() if c == "content" else pa.string()) for c in cols]
    )

    def walk(batches):
        for batch in batches:
            rows: dict[str, list] = {k: [] for k in cols}
            for p, blob in zip(
                batch.column("path").to_pylist(),
                batch.column("content").to_pylist(),
            ):
                for rec in parse_warc_bytes(blob, origin=p):
                    if wanted and rec["warc_type"].lower() not in wanted:
                        continue
                    rows["path"].append(p)
                    for k, v in rec.items():
                        rows[k].append(v)
                    if len(rows["path"]) >= flush_every:
                        yield pa.RecordBatch.from_pydict(rows, schema=schema)
                        rows = {k: [] for k in cols}
            yield pa.RecordBatch.from_pydict(rows, schema=schema)

    return files.select("path", "content").mapInArrow(walk, WARC_SCHEMA)


def http_response_body(payload: bytes, origin: str = "<bytes>") -> bytes:
    """A WARC 'response' record's content is the FULL HTTP message —
    status line, headers, CRLF CRLF, body (that's what Common Crawl
    stores). This strips the envelope and undoes the transfer: chunked
    transfer-encoding is reassembled, gzip/deflate content-encoding is
    decompressed, identity passes through, anything else raises. A
    payload that doesn't start with ``HTTP/`` is returned as-is (some
    writers store pre-decoded bodies; WET 'conversion' records never
    carry an envelope)."""
    if not payload.startswith(b"HTTP/"):
        return payload
    hdr_end = payload.find(b"\r\n\r\n")
    if hdr_end < 0:
        raise ValueError(
            f"malformed HTTP message ({origin}): no header terminator"
        )
    headers: dict[bytes, bytes] = {}
    for line in payload[:hdr_end].split(b"\r\n")[1:]:
        k, sep, v = line.partition(b":")
        if sep:
            headers[k.strip().lower()] = v.strip().lower()
    body = payload[hdr_end + 4 :]
    if headers.get(b"transfer-encoding", b"") == b"chunked":
        body = _dechunk(body, origin)
    enc = headers.get(b"content-encoding", b"identity")
    if enc in (b"gzip", b"x-gzip"):
        body = _gunzip_members(body)
    elif enc == b"deflate":
        try:
            body = zlib.decompress(body)
        except zlib.error:  # raw-deflate servers (the classic ambiguity)
            try:
                body = zlib.decompress(body, -zlib.MAX_WBITS)
            except zlib.error as exc:
                # genuinely corrupt under BOTH framings — keep the
                # module's single ValueError failure type
                raise ValueError(
                    f"malformed deflate body ({origin}): {exc}"
                ) from None
    elif enc not in (b"identity", b""):
        raise ValueError(
            f"unsupported Content-Encoding {enc!r} ({origin})"
        )
    return body


def _dechunk(body: bytes, origin: str) -> bytes:
    """Reassemble an HTTP/1.1 chunked body (hex-size lines, terminal
    0-chunk; chunk extensions after ';' ignored)."""
    out, pos = [], 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError(
                f"malformed chunked body ({origin}): no size line at "
                f"byte {pos}"
            )
        size_field = body[pos:eol].split(b";")[0].strip()
        try:
            size = int(size_field, 16)
        except ValueError:
            raise ValueError(
                f"malformed chunked body ({origin}): bad chunk size "
                f"{size_field!r}"
            ) from None
        if size == 0:
            return b"".join(out)
        start = eol + 2
        if start + size > len(body):
            raise ValueError(
                f"malformed chunked body ({origin}): truncated chunk at "
                f"byte {start}"
            )
        out.append(body[start : start + size])
        pos = start + size + 2  # skip the chunk's trailing CRLF


def decode_response_html(
    df: DataFrame, content_col: str = "content", out_col: str = "html"
) -> DataFrame:
    """Append ``out_col`` = the HTTP response BODY of ``content_col``
    decoded to text (utf-8, invalid bytes replaced — charset sniffing
    is deliberately out of scope; replacement keeps the pipeline moving
    and the mojibake measurable). Arrow ``mapInArrow``, one scan."""
    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema
    )

    def op(batches):
        for rb in batches:
            html = [
                None
                if b is None
                else http_response_body(b).decode("utf-8", "replace")
                for b in rb.column(content_col).to_pylist()
            ]
            yield pa.RecordBatch.from_arrays(
                rb.columns + [pa.array(html, pa.string())],
                names=rb.schema.names + [out_col],
            )

    return df.mapInArrow(op, f"{out_fields}, `{out_col}` string")


def write_warc_bytes(records: list[dict]) -> bytes:
    """Serialize records to WARC/1.0 bytes — the EXPORT direction (ship
    a curated slice back out in the format the ecosystem's tooling
    reads). Each record needs ``warc_type`` and ``content`` (bytes);
    ``record_id``/``target_uri``/``warc_date``/``content_type`` are
    optional headers. This is also NOT the test oracle: the tests build
    their fixtures with an independent writer so a symmetric bug here
    cannot self-verify."""
    out = []
    for r in records:
        body = r["content"]
        hdrs = [b"WARC/1.0"]
        hdrs.append(f"WARC-Type: {r['warc_type']}".encode())
        for key, field in (
            ("WARC-Record-ID", "record_id"),
            ("WARC-Target-URI", "target_uri"),
            ("WARC-Date", "warc_date"),
            ("Content-Type", "content_type"),
        ):
            if r.get(field):
                hdrs.append(f"{key}: {r[field]}".encode())
        hdrs.append(f"Content-Length: {len(body)}".encode())
        out.append(b"\r\n".join(hdrs) + b"\r\n\r\n" + body + b"\r\n\r\n")
    return b"".join(out)
