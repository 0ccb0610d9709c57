"""Catalog DDL lifecycle (SURVEY §2.1 S3-S10): create/drop/show route
tables, partition enumeration without RDDs, identifier validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.parse import (
    parse_billing,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.route import route
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.schema import (
    ROUTE_COLUMNS,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.warehouse import (
    create_route_table,
    drop_tables,
    route_table_schema,
    show_tables,
    table_partitions,
)

from conftest import billing_record


def test_route_table_schema_matches_contract():
    for r, cols in ROUTE_COLUMNS.items():
        schema = route_table_schema(r)
        assert [f.name for f in schema.fields] == cols + ["partition_date"]


def test_create_insert_partitions_drop(spark, tmp_path):
    create_route_table(spark, "transfers", "t_transfers", str(tmp_path / "t"))
    assert show_tables(spark).where(F.col("tableName") == "t_transfers").count() == 1

    batch = spark.createDataFrame(
        [(billing_record("transfer"),), (billing_record("transfer", date="2024-02-28T01:00:00.000+0000"),)],
        ["value"],
    )
    routed = route(parse_billing(batch))["transfers"]
    routed.write.mode("append").insertInto("t_transfers")

    got = spark.table("t_transfers")
    assert got.count() == 2
    parts = sorted(r.partition_date for r in table_partitions(spark, "t_transfers").collect())
    assert parts == ["2024-02-28", "2024-03-01"]

    drop_tables(spark, ["t_transfers"])
    assert show_tables(spark).where(F.col("tableName") == "t_transfers").count() == 0


def test_identifier_validation(spark):
    with pytest.raises(ValueError):
        create_route_table(spark, "transfers", "bad; DROP TABLE x")
    with pytest.raises(ValueError):
        drop_tables(spark, ["also bad"])


def test_warehouse_summary(spark, tmp_path):
    """One-call ops snapshot: per-table layout stats + ledger + last
    batch metrics, all pure metadata."""
    import json

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.streaming.pipeline import (
        BillingPipeline,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.warehouse import (
        warehouse_summary,
    )
    from tests.conftest import billing_record

    wh = str(tmp_path / "wh")
    pipe = BillingPipeline(source=None, warehouse_dir=wh)
    batch = spark.createDataFrame(
        [
            (billing_record("transfer", date="2024-03-01T10:00:00.000+0000"),),
            (billing_record("transfer", date="2024-03-02T11:00:00.000+0000"),),
            (billing_record("request", date="2024-03-01T12:00:00.000+0000"),),
        ],
        ["value"],
    )
    pipe.process_batch(batch, 0)
    s = warehouse_summary(spark, wh)
    assert s["batches_committed"] == 1
    assert s["tables"]["transfers"]["n_partitions"] == 2
    assert s["tables"]["transfers"]["oldest_partition"] == "2024-03-01"
    assert s["tables"]["transfers"]["newest_partition"] == "2024-03-02"
    assert s["tables"]["transfers"]["bytes"] > 0
    assert s["tables"]["requests"]["n_partitions"] == 1
    assert s["last_batch"]["batch_id"] == 0
    assert s["last_batch"]["routes"]["transfers"] == 2


def test_warehouse_summary_numeric_batch_order_and_any_partition_field(
    spark, tmp_path
):
    """last_batch must use NUMERIC batch ids (lexicographic name sort
    reports batch-9 forever once batch-10 exists), and tables
    partitioned by fields other than partition_date must be visible."""
    import json

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.streaming.pipeline import (
        BillingPipeline,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.warehouse import (
        warehouse_summary,
    )
    from tests.conftest import billing_record

    wh = str(tmp_path / "wh")
    pipe = BillingPipeline(source=None, warehouse_dir=wh)
    batch = spark.createDataFrame(
        [(billing_record("transfer", date="2024-03-01T10:00:00.000+0000"),)],
        ["value"],
    )
    for b in range(11):  # 0..10: lexicographic would pick batch-9
        pipe.process_batch(batch, b)
    # a stray temp file from a crashed atomic write must not win either
    (tmp_path / "wh" / "_metrics" / "batch-10.json.tmp").write_text("{bad")
    # a source-partitioned corpus-style table beside the routes
    spark.createDataFrame(
        [(1, "web", "t"), (2, "books", "t")], "doc_id long, source string, text string"
    ).write.partitionBy("source").parquet(str(tmp_path / "wh" / "docs"))

    s = warehouse_summary(spark, wh)
    assert s["last_batch"]["batch_id"] == 10
    assert s["batches_committed"] == 11
    assert s["tables"]["docs"]["partition_field"] == "source"
    assert s["tables"]["docs"]["n_partitions"] == 2
    assert s["tables"]["transfers"]["partition_field"] == "partition_date"


def test_analyze_table_lands_cbo_stats(spark):
    """ANALYZE TABLE populates row/byte stats the CBO reads (and column
    NDV stats when requested); the parsed summary reflects them."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.warehouse import (
        analyze_table,
    )

    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    df.write.mode("overwrite").saveAsTable("stats_probe")
    try:
        out = analyze_table(spark, "stats_probe", columns=["k"], partitions=False)
        assert out.get("rows") == 500
        assert out.get("bytes", 0) > 0
        desc = spark.sql(
            "DESCRIBE TABLE EXTENDED stats_probe k"
        ).collect()
        info = {r["info_name"]: r["info_value"] for r in desc}
        assert info.get("distinct_count") == "7"
        # rejects a bad identifier instead of interpolating it
        with pytest.raises(ValueError):
            analyze_table(spark, "bad;table")
    finally:
        spark.sql("DROP TABLE IF EXISTS stats_probe")


def test_compact_cli_analyze_flag(spark, tmp_path):
    """--analyze after compaction: a catalog-registered table gets CBO
    stats; an unregistered path-only table is skipped with a notice,
    not an error."""
    import os

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.cli import (
        run_compact,
    )

    wh = str(tmp_path / "wh")
    path = os.path.join(wh, "transfers")
    df = spark.range(100).select(
        F.col("id"), F.lit("2024-03-01").alias("partition_date")
    )
    df.write.mode("append").partitionBy("partition_date").parquet(path)
    # register the SAME data as a catalog table under the CLI's name
    spark.read.parquet(path).write.mode("overwrite").saveAsTable("transfers")
    try:
        run_compact.main([
            "--warehouse", wh, "--tables", "transfers,unregistered",
            "--partition", "all", "--analyze", "id",
            "--lock-path", str(tmp_path / "c.lock"),
        ])
        desc = spark.sql("DESCRIBE TABLE EXTENDED transfers").collect()
        stats = next(
            (r["data_type"] for r in desc if r["col_name"] == "Statistics"), ""
        )
        assert "rows" in stats
    finally:
        spark.sql("DROP TABLE IF EXISTS transfers")


def test_orphan_batch_audit_and_cleanup(spark, tmp_path):
    """A committed batch is never flagged; an uncommitted (crash-
    abandoned) batch is found and removed; the newest uncommitted id is
    protected unless include_latest (it may be mid-write)."""
    import os

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sink import (
        BatchLedger,
        write_partitioned_batch,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.warehouse import (
        audit_orphan_batches,
        remove_orphan_batches,
    )

    wh = str(tmp_path / "wh")
    table = os.path.join(wh, "transfers")
    df = spark.createDataFrame(
        [("2024-03-01", 1), ("2024-03-02", 2)], "partition_date string, v int"
    )
    ledger = BatchLedger(os.path.join(wh, "_ledger.json"))
    write_partitioned_batch(df, table, batch_id=0)
    ledger.commit(0)
    write_partitioned_batch(df, table, batch_id=1)  # crash before commit
    write_partitioned_batch(df, table, batch_id=2)  # newer, also uncommitted

    audit = audit_orphan_batches(wh)
    assert set(audit["transfers"]) == {1, 2}
    assert all(n > 0 for n in audit["transfers"].values())

    removed = remove_orphan_batches(wh)  # default: keep latest (id 2)
    assert set(removed["transfers"]) == {1}
    assert set(audit_orphan_batches(wh)["transfers"]) == {2}

    removed = remove_orphan_batches(wh, include_latest=True)
    assert set(removed["transfers"]) == {2}
    assert audit_orphan_batches(wh) == {}
    # committed batch untouched
    assert spark.read.parquet(table).count() == 2


def test_orphan_sweep_deletes_stale_manifests(spark, tmp_path):
    """The sweep deletes the manifest of a committed batch (left by a
    crash between the ledger commit and its retirement) and, with the
    orphan files, the manifest of the orphan batch; the protected latest
    uncommitted batch keeps its manifest and files."""
    import os

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sink import (
        BatchLedger,
        batch_manifest_path,
        write_partitioned_batch,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.warehouse import (
        remove_orphan_batches,
    )

    wh = str(tmp_path / "wh")
    table = os.path.join(wh, "transfers")
    df = spark.createDataFrame([("2024-03-01", 1)], "partition_date string, v int")
    for b in range(3):
        write_partitioned_batch(df, table, batch_id=b)
    BatchLedger(os.path.join(wh, "_ledger.json")).commit(0)  # never retired
    manifests = [batch_manifest_path(table, b) for b in range(3)]
    assert all(os.path.exists(m) for m in manifests)

    assert remove_orphan_batches(wh) == {"transfers": {1: 1}}
    assert [os.path.exists(m) for m in manifests] == [False, False, True]
    assert remove_orphan_batches(wh, include_latest=True) == {"transfers": {2: 1}}
    assert not any(os.path.exists(m) for m in manifests)
    assert spark.read.parquet(table).count() == 1


def test_orphan_sweep_undoes_batches_crashed_before_first_promote(spark, tmp_path):
    """A batch that crashed after writing its manifest but before its
    first promote rename has no visible file, only a manifest and a
    staging dir. The sweep treats it as an orphan: below the newest
    uncommitted id it is undone, the newest one is kept until
    ``include_latest``."""
    import os

    import pytest

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.fs import (
        LocalFS,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sink import (
        BatchLedger,
        batch_manifest_path,
        batch_staging_dir,
        write_partitioned_batch,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.warehouse import (
        remove_orphan_batches,
    )

    class NoRenameFS(LocalFS):
        def rename(self, *args, **kwargs):
            raise RuntimeError("simulated crash before the first promote")

    wh = str(tmp_path / "wh")
    table = os.path.join(wh, "transfers")
    df = spark.createDataFrame([("2024-03-01", 1)], "partition_date string, v int")
    write_partitioned_batch(df, table, batch_id=0)
    BatchLedger(os.path.join(wh, "_ledger.json")).commit(0)
    for b in (1, 2):
        with pytest.raises(RuntimeError, match="simulated crash"):
            write_partitioned_batch(df, table, batch_id=b, fs=NoRenameFS())
    left = [
        p
        for b in (1, 2)
        for p in (batch_manifest_path(table, b), batch_staging_dir(table, b))
    ]
    assert all(os.path.exists(p) for p in left)

    assert remove_orphan_batches(wh) == {}  # no data files were visible
    assert [os.path.exists(p) for p in left] == [False, False, True, True]
    assert remove_orphan_batches(wh, include_latest=True) == {}
    assert not any(os.path.exists(p) for p in left)
    assert spark.read.parquet(table).count() == 1


def test_orphan_audit_respects_table_local_ledger(spark, tmp_path):
    import os

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sink import (
        BatchLedger,
        write_partitioned_batch,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.warehouse import (
        audit_orphan_batches,
    )

    wh = str(tmp_path / "wh")
    table = os.path.join(wh, "cdc")
    df = spark.createDataFrame([("2024-03-01", 1)], "partition_date string, v int")
    write_partitioned_batch(df, table, batch_id=7)
    BatchLedger(os.path.join(table, "_ledger.json")).commit(7)  # table-local
    assert audit_orphan_batches(wh) == {}


def test_compact_cli_clean_orphans_flag(spark, tmp_path):
    import os

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.cli.run_compact import (
        main,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sink import (
        BatchLedger,
        write_partitioned_batch,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.warehouse import (
        audit_orphan_batches,
    )

    wh = str(tmp_path / "wh")
    table = os.path.join(wh, "transfers")
    df = spark.createDataFrame([("2024-03-01", 1)], "partition_date string, v int")
    write_partitioned_batch(df, table, batch_id=0)
    BatchLedger(os.path.join(wh, "_ledger.json")).commit(0)
    write_partitioned_batch(df, table, batch_id=1)  # abandoned
    assert audit_orphan_batches(wh)
    main([
        "--warehouse", wh, "--tables", "transfers", "--partition", "all",
        "--clean-orphans", "--lock-path", str(tmp_path / "lock"),
    ])
    assert audit_orphan_batches(wh) == {}
    assert spark.read.parquet(table).count() == 1
