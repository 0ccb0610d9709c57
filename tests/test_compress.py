"""Compression-ratio quality signals (operators.compress): signal
semantics, NULL/empty handling, invariant gate, plan shape."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.compress import (
    compression_invariant_violations,
    deflate_bound,
    with_compression_signals,
)

SF = "/root/testdata/sf0.001"


def test_ratio_orders_redundancy(spark):
    """Boilerplate compresses far below prose; near-random text barely
    compresses. The ratio must order the three regimes."""
    rng = random.Random(7)
    noise = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(8))
        for _ in range(120)
    )
    prose = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill and thinks about dinner "
    ) * 12
    boiler = "click here to subscribe now " * 40
    df = spark.createDataFrame(
        [(0, boiler), (1, prose), (2, noise)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["zlib_ratio"]
        for r in with_compression_signals(df).collect()
    }
    assert out[0] < out[1] < out[2], out
    assert out[0] < 0.15, out  # pure template
    assert out[2] > 0.55, out  # high entropy


def test_null_and_empty_are_null_signals(spark):
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "the cat")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in with_compression_signals(df).collect()}
    assert rows[0]["utf8_len"] is None and rows[0]["zlib_ratio"] is None
    assert rows[1]["utf8_len"] == 0 and rows[1]["zlib_ratio"] is None
    assert rows[2]["zlib_ratio"] > 0 and rows[2]["zlib_roundtrip_ok"]


def test_passthrough_columns_and_row_count(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = with_compression_signals(docs)
    assert out.columns[: len(docs.columns)] == docs.columns
    assert out.count() == docs.count()
    # every non-empty document satisfies the deflate contract
    bad = out.where(
        F.col("utf8_len") > 0,
    ).where(
        ~F.col("zlib_roundtrip_ok")
        | (F.col("zlib_len") <= 0)
        | (F.col("zlib_ratio") <= 0)
    )
    assert bad.count() == 0


def test_invariant_gate_empty_on_corpus(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert compression_invariant_violations(docs).count() == 0
    # a NULL text is skipped, not a violation
    null_doc = spark.createDataFrame([(0, None)], "doc_id long, text string")
    assert compression_invariant_violations(null_doc).count() == 0


def test_deflate_bound_is_generous_for_tiny_inputs(spark):
    import zlib

    for s in (b"", b"a", b"ab" * 3, bytes(range(64))):
        assert len(zlib.compress(s, 6)) <= deflate_bound(len(s))


def test_no_shuffle_in_signal_plan(spark):
    """The signal pass is scan-stage only: no Exchange in the plan."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = with_compression_signals(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
