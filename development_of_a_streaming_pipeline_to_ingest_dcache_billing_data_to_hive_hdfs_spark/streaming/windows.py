"""Streaming operators the reference lacks (SURVEY §2.4):
watermarked tumbling/sliding/session windows, in-stream dedup and
per-key running totals.

The reference handles late data only implicitly (partition_date derives
from the event's own date, so late rows land in old partitions); it has no
event-time aggregation at all. These operators work on any frame with an
event-time column — batch or streaming — so tests can validate semantics
in batch and the streaming tests validate watermark behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    df: DataFrame,
    ts_col: str = "event_ts",
    key_col: str = "msgType",
    window_len: str = "1 hour",
    slide: str | None = None,
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Windowed count+sum per key. slide=None → tumbling; else sliding."""
    if df.isStreaming and watermark:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window_len, slide) if slide else F.window(ts_col, window_len)
    return (
        df.groupBy(win.alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            key_col,
            "n",
        )
    )


def session_windows(
    df: DataFrame,
    ts_col: str = "event_ts",
    key_col: str = "session",
    gap: str = "30 minutes",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Session-window aggregation (gap-based)."""
    if df.isStreaming and watermark:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            key_col,
            "n",
        )
    )


def dedup_within_watermark(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming dedup bounded by watermark state; in batch, plain
    dropDuplicates (the missing-operator fix for the reference's
    at-least-once duplicates, SURVEY §2.4)."""
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def running_totals_per_type(parsed: DataFrame) -> DataFrame:
    """Per-msgType running totals ``(msgType, n_total, bytes_total)``
    across micro-batches; run the stream in update mode to emit each
    changed key's totals per batch. A native aggregate: the state store
    keeps one (count, sum) row per key, O(#distinct keys), and no Python
    worker runs. A NULL ``fileSize`` adds 0.0; a NaN one is a value, so
    its key's ``bytes_total`` reads NaN from then on."""
    return parsed.groupBy("msgType").agg(
        F.count("*").alias("n_total"),
        F.sum(F.coalesce(F.col("fileSize"), F.lit(0.0))).alias("bytes_total"),
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "2 hours",
    within: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream (or batch) interval join: match rows sharing `key`
    where `right_ts` falls in [left_ts, left_ts + within].

    Both sides carry watermarks and the join condition is a bounded
    time range, so Spark can prune both join-state stores — without the
    range bound, stream-stream state grows forever. Column names for the
    two event-time columns must differ (pre-project before calling)."""
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    cond = (
        (left[key] == right[key])
        & (right[right_ts] >= left[left_ts])
        & (right[right_ts] <= left[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return left.join(right, cond, how).drop(right[key])
