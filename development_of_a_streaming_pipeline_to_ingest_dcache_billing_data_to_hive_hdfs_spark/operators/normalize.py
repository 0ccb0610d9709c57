"""Unicode text normalization for corpus curation: NFC/NFKC/NFD/NFKD
forms plus the scrape-artifact scrubs every web pipeline runs before
fingerprinting (zero-width chars, C0/C1 control chars, whitespace
collapse).

Spark has no built-in Unicode-normalization expression, so the form
conversion is a scalar Arrow UDF (the repo's one Python-worker boundary
— never row-at-a-time). It is still a SCAN-STAGE projection: no
shuffle, no state, composable with any other column expression. The
NFC form has a hard DuckDB oracle (``nfc_normalize`` — utf8proc vs
CPython's unicodedata, both implementing UAX #15), driver-gated in
``q_llm_unicode_normalize``.

Why it matters at 100 TB: exact dedup keys on md5(text) — two byte
sequences that render identically (composed vs decomposed accents,
zero-width joiners) defeat it unless normalization runs first, so this
pass belongs BEFORE every fingerprinting operator in dedup.py.
"""

from __future__ import annotations

import re
import unicodedata

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

_FORMS = ("NFC", "NFD", "NFKC", "NFKD")

# zero-width space / non-joiner / joiner / BOM-as-ZWNBSP
_ZERO_WIDTH_TABLE = dict.fromkeys(map(ord, "\u200b\u200c\u200d\ufeff"))

# C0 controls except \t and \n, DEL, and C1 controls. \r is removed,
# so CRLF line endings normalize to bare \n as a side effect.
_CONTROL_RE = re.compile(r"[\x00-\x08\x0b-\x1f\x7f-\x9f]")

_WS_RE = re.compile(r"\s+")


def normalize_text_col(
    col: str = "text",
    *,
    form: str = "NFC",
    strip_zero_width: bool = False,
    strip_controls: bool = False,
    collapse_whitespace: bool = False,
) -> Column:
    """Column of the Unicode-normalized text. NULL passes through.

    Order of operations: form normalization → zero-width strip →
    control strip → whitespace collapse (+ trim). The scrubs run after
    normalization so compatibility forms can't reintroduce stripped
    codepoints.
    """
    if form not in _FORMS:
        raise ValueError(f"form must be one of {_FORMS}, got {form!r}")

    def one(s: str) -> str:
        t = unicodedata.normalize(form, s)
        if strip_zero_width:
            t = t.translate(_ZERO_WIDTH_TABLE)
        if strip_controls:
            t = _CONTROL_RE.sub("", t)
        if collapse_whitespace:
            t = _WS_RE.sub(" ", t).strip()
        return t

    # no type hints: the default scalar Arrow UDF (array in, array out)
    def _normalize(batch):
        return pa.array(
            [None if s is None else one(s) for s in batch.to_pylist()],
            pa.string(),
        )

    return F.arrow_udf(_normalize, "string")(F.col(col))
