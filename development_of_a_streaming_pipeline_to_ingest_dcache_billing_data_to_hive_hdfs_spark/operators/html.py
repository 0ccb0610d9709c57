"""HTML → text extraction — the step between a WARC 'response' record
and every text operator in this engine (the WET-conversion job: Common
Crawl's .wet files are exactly this transform applied at crawl scale).

Parsing is stdlib ``html.parser.HTMLParser`` (a real tokenizer —
attribute values containing '>' and comments containing tags do not
confuse it the way a regex stripper does) inside Arrow-batched
``mapInArrow``: no JVM expression exists for this, and per-batch
Python over a tokenizer is the engine's standard codec boundary (the
multimodal decoders' shape). One scan, no shuffle.

Extraction contract (deterministic, replayable):

- content inside ``script/style/title/noscript/template/iframe/svg`` is
  DROPPED (code, styling, and the page title are not corpus text).
  ``head`` itself is deliberately NOT a drop container: ``</head>`` is
  legally omittable in HTML5 and commonly missing in crawl HTML, and a
  depth-tracked ``head`` would then swallow the ENTIRE body (measured
  on ``<head><title>T</title><body>text`` — extraction returned "").
  Every text-bearing head element is in the drop list individually;
  the rest (``meta``/``link``) are void tags with no text;
- block-level boundaries (``p div br li h1..h6 tr table ul ol section
  article header footer blockquote pre``) become newlines; inline tags
  (``b i a span em strong code``) do not split words;
- character/entity references decode (``&amp;`` → ``&``);
- whitespace normalizes per line: runs collapse to one space, lines
  strip, empty lines drop, lines join with ``\\n``.

Malformed HTML never raises — the parser is a recovery tokenizer by
design (real crawl HTML is broken HTML); NULL input yields NULL.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import pyarrow as pa
from pyspark.sql import DataFrame

__all__ = ["html_to_text", "extract_text"]

_DROP = frozenset(
    "script style title noscript template iframe svg".split()
)
_BLOCK = frozenset(
    (
        "p div br li h1 h2 h3 h4 h5 h6 tr table ul ol section article "
        "header footer blockquote pre"
    ).split()
)
_WS = re.compile(r"[ \t\r\f\v]+")


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self._drop_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in _DROP:
            self._drop_depth += 1
        elif tag in _BLOCK:
            self.parts.append("\n")

    def handle_endtag(self, tag):
        if tag in _DROP:
            self._drop_depth = max(0, self._drop_depth - 1)
        elif tag in _BLOCK:
            self.parts.append("\n")

    def handle_startendtag(self, tag, attrs):
        if tag in _BLOCK:
            self.parts.append("\n")

    def handle_data(self, data):
        if not self._drop_depth:
            self.parts.append(data)


def html_to_text(html: str | None) -> str | None:
    """Extract visible text from one HTML string (see module contract)."""
    if html is None:
        return None
    p = _Extractor()
    p.feed(html)
    p.close()
    lines = []
    for line in "".join(p.parts).split("\n"):
        line = _WS.sub(" ", line).strip()
        if line:
            lines.append(line)
    return "\n".join(lines)


def extract_text(
    df: DataFrame, html_col: str = "html", out_col: str = "text"
) -> DataFrame:
    """Append ``out_col`` = extracted text of ``html_col`` via
    Arrow-batched ``mapInArrow`` — one corpus scan, no shuffle, the
    codec-boundary shape shared with the multimodal decoders."""
    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema
    )

    def op(batches):
        for rb in batches:
            text = [html_to_text(h) for h in rb.column(html_col).to_pylist()]
            yield pa.RecordBatch.from_arrays(
                rb.columns + [pa.array(text, pa.string())],
                names=rb.schema.names + [out_col],
            )

    return df.mapInArrow(op, f"{out_fields}, `{out_col}` string")
