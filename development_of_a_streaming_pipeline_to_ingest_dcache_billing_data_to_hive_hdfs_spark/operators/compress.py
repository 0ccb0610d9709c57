"""Compression-ratio quality signals (zlib/DEFLATE over UTF-8 text).

The compression ratio is the classic model-free redundancy signal for
training-data curation: boilerplate, template spam and repeated scrapes
compress far below prose, and near-random noise doesn't compress at all
(C4/Gopher-era pipelines gate on it next to the rule filters in
``textops.gopher_quality_flags``).

Unlike the rest of the text operators this is NOT expressible as a JVM
column expression — DEFLATE needs a real compressor — so it runs as an
Arrow-batched ``mapInArrow`` over the scan: embarrassingly parallel,
no shuffle, zlib is C-speed, and each batch stays columnar until the
per-row compress call. The driver-facing correctness story is the
invariant gate ``q_llm_compression_check`` (expected-empty): zlib has
no cross-engine oracle, but DEFLATE's contract — roundtrip identity,
the stored-block size bound, repetition must compress — is checkable
for ANY correct implementation.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: DEFLATE worst case is ~5 bytes per 65 535-byte stored block + 6 bytes
#: of zlib header/adler trailer; +64 is a generous slack for tiny inputs.
def deflate_bound(n_bytes: int) -> int:
    return n_bytes + n_bytes // 1000 + 64


def with_compression_signals(
    df: DataFrame, col: str = "text", *, level: int = 6
) -> DataFrame:
    """Append per-document zlib signals to ``df``:

    - ``utf8_len``   raw UTF-8 byte length
    - ``zlib_len``   compressed byte length at ``level``
    - ``zlib_ratio`` ``zlib_len / utf8_len`` (NULL for NULL/empty text —
      an empty document has no redundancy to measure)
    - ``zlib_roundtrip_ok`` decompress(compress(x)) == x, carried so the
      invariant gate can assert the codec contract without a second pass

    All input columns pass through unchanged. One ``mapInArrow`` in the
    scan stage: no shuffle, output rows == input rows, so the operator
    composes with any downstream gate exactly like a column expression.
    """
    out_schema = T.StructType(
        list(df.schema)
        + [
            T.StructField("utf8_len", T.LongType()),
            T.StructField("zlib_len", T.LongType()),
            T.StructField("zlib_ratio", T.DoubleType()),
            T.StructField("zlib_roundtrip_ok", T.BooleanType()),
        ]
    )

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            raw_lens: list[int | None] = []
            clens: list[int | None] = []
            ratios: list[float | None] = []
            ok: list[bool | None] = []
            for text in rb.column(col).to_pylist():
                if text is None or text == "":
                    raw_lens.append(None if text is None else 0)
                    clens.append(None)
                    ratios.append(None)
                    ok.append(None)
                    continue
                raw = text.encode("utf-8")
                comp = zlib.compress(raw, level)
                raw_lens.append(len(raw))
                clens.append(len(comp))
                ratios.append(len(comp) / len(raw))
                ok.append(zlib.decompress(comp) == raw)
            yield pa.RecordBatch.from_arrays(
                rb.columns
                + [
                    pa.array(raw_lens, pa.int64()),
                    pa.array(clens, pa.int64()),
                    pa.array(ratios, pa.float64()),
                    pa.array(ok, pa.bool_()),
                ],
                names=out_schema.names,
            )

    return df.mapInArrow(op, out_schema)


def compression_invariant_violations(
    df: DataFrame,
    col: str = "text",
    *,
    level: int = 6,
    min_repeat_len: int = 200,
    id_col: str = "doc_id",
) -> DataFrame:
    """DEFLATE-contract violations over a corpus (expected EMPTY for any
    correct zlib): per document,

    - ``roundtrip``  decompress(compress(x)) != x
    - ``bound``      compressed length exceeds the stored-block bound
    - ``repeat``     for texts ≥ ``min_repeat_len`` raw bytes, x||x…(×8)
      fails to compress below 8× the single-copy size — repetition
      inside one LZ77 window MUST compress

    Returns ``(kind, doc_id, detail)`` rows; ``detail`` carries the
    measured value that broke the bound. Same scan-stage shape as
    :func:`with_compression_signals`."""
    out_schema = T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("detail", T.DoubleType()),
        ]
    )

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            kinds: list[str] = []
            ids: list[int] = []
            details: list[float] = []
            for doc_id, text in zip(
                rb.column(id_col).to_pylist(), rb.column(col).to_pylist()
            ):
                if text is None or text == "":
                    continue
                raw = text.encode("utf-8")
                comp = zlib.compress(raw, level)
                if zlib.decompress(comp) != raw:
                    kinds.append("roundtrip")
                    ids.append(doc_id)
                    details.append(float(len(comp)))
                if len(comp) > deflate_bound(len(raw)):
                    kinds.append("bound")
                    ids.append(doc_id)
                    details.append(float(len(comp)))
                if len(raw) >= min_repeat_len:
                    rep = zlib.compress(raw * 8, level)
                    if len(rep) >= 8 * len(comp):
                        kinds.append("repeat")
                        ids.append(doc_id)
                        details.append(float(len(rep)))
            yield pa.RecordBatch.from_pydict(
                {"kind": kinds, id_col: ids, "detail": details},
                schema=to_arrow_schema(out_schema),
            )

    return df.mapInArrow(op, out_schema)
