"""Stateful streaming: per-key running totals survive across
micro-batches via the state store, and streaming dropDuplicates keeps
the first-seen row per key."""

from __future__ import annotations

import math
import os

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.parse import (
    parse_billing,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources import (
    billing_stream_source,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.streaming.windows import (
    running_totals_per_type,
)

from conftest import billing_record


def test_running_totals_accumulate_across_batches(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    with open(os.path.join(input_dir, "b1.json"), "w") as f:
        f.write(billing_record("transfer", fileSize=100.0) + "\n")
        f.write(billing_record("transfer", fileSize=50.0) + "\n")
        f.write(billing_record("remove", fileSize=10.0) + "\n")
        # NaN is a value, NULL is absent: NaN poisons the sum, NULL adds 0.0
        f.write(billing_record("remove", fileSize=float("nan")) + "\n")
        f.write(billing_record("store", fileSize=None) + "\n")
        f.write(billing_record("store", fileSize=7.0) + "\n")

    src = billing_stream_source(spark, "file", path=input_dir, max_files_per_trigger=1)
    out = running_totals_per_type(parse_billing(src))
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("state_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()

    # second batch arrives → state carries forward
    with open(os.path.join(input_dir, "b2.json"), "w") as f:
        f.write(billing_record("transfer", fileSize=25.0) + "\n")
    q.processAllAvailable()
    q.stop()

    rows = spark.sql("select * from state_out").collect()
    latest = {}
    for r in rows:  # update mode appends each emitted update; last wins
        latest[r.msgType] = (r.n_total, r.bytes_total)
    assert latest["transfer"] == (3, 175.0)
    assert latest["store"] == (2, 7.0)
    n_remove, bytes_remove = latest["remove"]
    assert n_remove == 2 and math.isnan(bytes_remove), latest["remove"]


def test_first_seen_dedup_builtin_across_batches(spark, tmp_path):
    """Streaming dropDuplicates: the first-seen dedup — state-store
    backed, dedups an in-batch dup in batch 1 and a cross-batch dup
    beside a new key in batch 2."""
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    with open(os.path.join(input_dir, "b1.json"), "w") as f:
        f.write(billing_record("transfer", fileSize=100.0) + "\n")
        f.write(billing_record("transfer", fileSize=100.0) + "\n")
        f.write(billing_record("remove", fileSize=10.0) + "\n")

    src = billing_stream_source(spark, "file", path=input_dir, max_files_per_trigger=1)
    out = parse_billing(src).select("msgType", "fileSize").dropDuplicates(
        ["msgType", "fileSize"]
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dd_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    with open(os.path.join(input_dir, "b2.json"), "w") as f:
        f.write(billing_record("transfer", fileSize=100.0) + "\n")
        f.write(billing_record("transfer", fileSize=42.0) + "\n")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select msgType, fileSize from dd_out").collect()
    got = sorted((r.msgType, r.fileSize) for r in rows)
    assert got == [("remove", 10.0), ("transfer", 42.0), ("transfer", 100.0)]
