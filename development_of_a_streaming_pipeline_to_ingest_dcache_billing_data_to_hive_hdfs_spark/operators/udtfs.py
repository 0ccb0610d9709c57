"""Python UDTFs (table functions) — the one §2.4 UDF-family member the
rest of the engine deliberately avoids (everything hot is JVM-side).

A UDTF is the right tool when one input row fans out to a *variable*
number of output rows AND the per-row logic wants real Python. The demo
operator is the canonical training-data one: chunk a document into
overlapping token windows (RAG / pretraining context prep).

Scale note: UDTFs execute row-at-a-time in the Python worker — fine for
a fan-out whose cost is dominated by output volume (as here), wrong for
tight numeric loops (use Arrow-batched mapInArrow — see
operators/multimodal.py). The chunk rule is also expressible in pure
SQL (sequence + slice), which is exactly what the DuckDB oracle for
q_llm_chunk_stats does — the UDTF exists to verify the API surface, not
because Spark lacks the primitive.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(returnType="chunk_idx int, chunk string, n_tokens int")
class ChunkTokens:
    """Overlapping token-window chunks: windows of ``size`` tokens every
    ``stride`` tokens (trailing partial windows included). Emits
    (chunk_idx, chunk text rebuilt with single spaces, token count).

    Whitespace tokenization matches operators.textops.tokens_col
    (lowercase, collapse runs) so chunk token counts line up with the
    rest of the text stack.
    """

    def eval(self, text: str, size: int, stride: int):
        if not text or size <= 0 or stride <= 0:
            return
        toks = text.lower().split()
        n = len(toks)
        idx = 0
        for start in range(0, n, stride):
            window = toks[start : start + size]
            yield idx, " ".join(window), len(window)
            idx += 1


def register_udtfs(spark) -> None:
    """Register the UDTF surface for SQL ``LATERAL`` use."""
    spark.udtf.register("chunk_tokens", ChunkTokens)
