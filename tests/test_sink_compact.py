"""Sink idempotence + compaction (SURVEY §5.3-§5.4): partition layout,
ledger-based replay safety, multi-file → size-targeted-file rewrite with
byte-identical row sets, per-table partition enumeration (regression for
the reference's partition-list reuse bug `Dcache_kafka_to_hive.py:366-372`)."""

from __future__ import annotations

import os
import shutil
from collections import Counter

from pyspark.sql import functions as F

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.compact import (
    compact_table,
    list_partitions,
    resolve_partition_policy,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.parse import (
    parse_billing,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.route import route
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark import sink as sink_mod
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.fs import LocalFS
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sink import (
    MANIFEST_DIR,
    BatchLedger,
    write_partitioned,
    write_partitioned_batch,
)

from conftest import billing_record


def test_write_partition_layout(spark, billing_batch, tmp_path):
    routed = route(parse_billing(billing_batch))
    path = str(tmp_path / "transfers")
    write_partitioned(routed["transfers"], path)
    # two transfer records on two distinct dates → two partition dirs
    assert list_partitions(spark, path) == ["2024-02-28", "2024-03-01"]
    assert spark.read.parquet(path).count() == 2


def test_ledger_idempotence(tmp_path):
    ledger = BatchLedger(str(tmp_path / "ledger.json"))
    assert not ledger.is_committed(0)
    ledger.commit(0)
    ledger.commit(3)
    assert ledger.is_committed(0) and ledger.is_committed(3)
    assert not ledger.is_committed(1)
    # re-open: state survives
    assert BatchLedger(str(tmp_path / "ledger.json")).committed() == {0, 3}


def _days(spark, n_days, start="2024-03-01"):
    """One row per day over ``n_days`` day-partitions, one file each."""
    return spark.range(n_days).select(
        F.date_add(F.lit(start).cast("date"), F.col("id").cast("int"))
        .cast("string")
        .alias("partition_date"),
        F.col("id").alias("v"),
    ).coalesce(1)


def test_upgrade_from_table_without_manifests(spark, tmp_path, monkeypatch):
    """A table written before batch manifests existed (no
    ``_batch_manifests/`` dir) holding promoted files of uncommitted
    batch 5: the replay of batch 5 finds them by the one-time full scan,
    leaves one copy, and creates the dir, so the next batch takes the
    manifest path."""
    path = str(tmp_path / "transfers")
    ledger = BatchLedger(str(tmp_path / "_ledger.json"))
    write_partitioned_batch(_days(spark, 3), path, batch_id=4)
    ledger.commit(4)
    write_partitioned_batch(_days(spark, 3), path, batch_id=5)  # crash: no commit
    shutil.rmtree(os.path.join(path, MANIFEST_DIR))  # the pre-manifest layout

    write_partitioned_batch(_days(spark, 3), path, batch_id=5)
    assert spark.read.parquet(path).count() == 6
    assert os.path.isdir(os.path.join(path, MANIFEST_DIR))

    def no_full_scan(*args, **kwargs):
        raise AssertionError("full-scan cleanup after the upgrade")

    monkeypatch.setattr(sink_mod, "cleanup_batch_files", no_full_scan)
    write_partitioned_batch(_days(spark, 3), path, batch_id=6)
    write_partitioned_batch(_days(spark, 3), path, batch_id=6)  # replay
    assert spark.read.parquet(path).count() == 9


class _CountingFS:
    """Delegates to ``inner`` and counts calls per FS method."""

    def __init__(self, inner):
        self._inner, self.calls = inner, Counter()

    def __getattr__(self, name):
        attr = getattr(self._inner, name)

        def call(*args, **kwargs):
            self.calls[name] += 1
            return attr(*args, **kwargs)

        return call


def test_batch_commit_fs_calls_independent_of_table_history(spark, tmp_path):
    """One ``write_partitioned_batch`` (and its replay) of the same frame
    makes the same FS calls into a table with 5 day-partitions as into
    one with 200: nothing lists the table's history."""
    counts = []
    for n_days in (5, 200):
        path = str(tmp_path / f"t{n_days}")
        write_partitioned_batch(_days(spark, n_days), path, batch_id=0)
        fs = _CountingFS(LocalFS())
        write_partitioned_batch(_days(spark, 3), path, batch_id=1, fs=fs)
        write_partitioned_batch(_days(spark, 3), path, batch_id=1, fs=fs)
        assert spark.read.parquet(path).count() == n_days + 3
        counts.append(fs.calls)
    assert counts[0] == counts[1]


def test_partition_policy():
    import datetime as dt

    today = dt.date(2024, 3, 2)
    assert resolve_partition_policy("yesterday", today) == ["2024-03-01"]
    assert resolve_partition_policy("all", today) is None
    assert resolve_partition_policy("2024-01-01,2024-01-05", today) == [
        "2024-01-01", "2024-01-05",
    ]


def _write_many_small_files(spark, path, date, n=6):
    recs = [(billing_record("transfer", date=f"{date}T0{i}:00:00.000+0000"),) for i in range(n)]
    df = route(parse_billing(spark.createDataFrame(recs, ["value"])))["transfers"]
    df.repartition(n).write.mode("append").partitionBy("partition_date").parquet(path)


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "transfers")
    _write_many_small_files(spark, path, "2024-03-01")
    pdir = os.path.join(path, "partition_date=2024-03-01")
    before_files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
    assert len(before_files) > 1
    before_rows = sorted(spark.read.parquet(path).collect())

    result = compact_table(spark, path)
    assert result == {"2024-03-01": 1}
    after_files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
    assert len(after_files) == 1
    assert sorted(spark.read.parquet(path).collect()) == before_rows


def test_compact_enumerates_per_table(spark, tmp_path):
    # Table A has partition P1, table B has P2 — compacting both with
    # partitions=None must touch each table's own partitions only.
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _write_many_small_files(spark, a, "2024-03-01", n=2)
    _write_many_small_files(spark, b, "2024-04-15", n=2)
    assert set(compact_table(spark, a)) == {"2024-03-01"}
    assert set(compact_table(spark, b)) == {"2024-04-15"}


def test_compact_skips_missing_partition(spark, tmp_path):
    path = str(tmp_path / "t")
    _write_many_small_files(spark, path, "2024-03-01", n=2)
    assert compact_table(spark, path, partitions=["1999-01-01"]) == {}


def test_compact_cluster_by_gives_disjoint_file_ranges(spark, tmp_path):
    """cluster_by compaction: output files cover disjoint key ranges
    (range partition + sort), so parquet min/max stats let point/range
    predicates skip whole files; the row set is unchanged."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.compact import (
        compact_partition,
    )

    path = str(tmp_path / "t")
    pdir = os.path.join(path, "partition_date=2024-03-01")
    # 4 small files with interleaved keys: every file spans the full range
    df = spark.range(4000).select(
        (F.col("id") % 997).alias("k"), F.col("id").alias("v")
    )
    df.repartition(4).write.parquet(pdir)
    before_rows = sorted(spark.read.parquet(pdir).collect())

    # tiny target_bytes forces >1 output file even on this small input
    n = compact_partition(spark, path, "2024-03-01", target_bytes=8 * 1024,
                          cluster_by=["k"])
    assert n >= 2
    files = sorted(
        os.path.join(pdir, f) for f in os.listdir(pdir) if f.endswith(".parquet")
    )
    assert len(files) == n
    ranges = []
    for fp in files:
        md = pq.ParquetFile(fp).metadata
        ki = next(i for i in range(md.num_columns)
                  if md.row_group(0).column(i).path_in_schema == "k")
        lo = min(md.row_group(g).column(ki).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(ki).statistics.max for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next  # disjoint (range-partitioned) key coverage
    assert sorted(spark.read.parquet(pdir).collect()) == before_rows


def test_compact_self_heals_crash_between_renames(spark, tmp_path):
    """Crash window: old partition retired but new not yet promoted —
    the next compact run must restore the original data and proceed."""
    path = str(tmp_path / "t")
    _write_many_small_files(spark, path, "2024-03-01", n=3)
    pdir = os.path.join(path, "partition_date=2024-03-01")
    before_rows = sorted(spark.read.parquet(path).collect())
    # simulate: crash happened right after os.replace(pdir, retired)
    os.replace(pdir, os.path.join(path, "._compact_old_2024-03-01"))
    assert not os.path.isdir(pdir)
    result = compact_table(spark, path, partitions=["2024-03-01"])
    assert result == {"2024-03-01": 1}
    assert sorted(spark.read.parquet(path).collect()) == before_rows


def test_compact_self_heals_leftover_scratch(spark, tmp_path):
    """Crash window: scratch write finished (or partial) but swap never
    ran; stale retired dir from a completed swap also gets cleaned."""
    import shutil

    path = str(tmp_path / "t")
    _write_many_small_files(spark, path, "2024-03-01", n=3)
    pdir = os.path.join(path, "partition_date=2024-03-01")
    before_rows = sorted(spark.read.parquet(path).collect())
    shutil.copytree(pdir, os.path.join(path, "._compact_new_2024-03-01"))
    shutil.copytree(pdir, os.path.join(path, "._compact_old_2024-03-01"))
    result = compact_table(spark, path, partitions=["2024-03-01"])
    assert result == {"2024-03-01": 1}
    assert sorted(spark.read.parquet(path).collect()) == before_rows
    leftovers = [d for d in os.listdir(path) if d.startswith("._compact_")]
    assert leftovers == []


def test_list_partitions_ignores_scratch_dirs(spark, tmp_path):
    path = str(tmp_path / "t")
    _write_many_small_files(spark, path, "2024-03-01", n=2)
    # legacy-style scratch name that starts with the partition prefix
    os.makedirs(os.path.join(path, "partition_date=2024-03-01._compacting"))
    os.makedirs(os.path.join(path, "._compact_old_2024-02-01"))
    assert list_partitions(spark, path) == ["2024-03-01"]


def test_expire_partitions_retention(spark, tmp_path):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.compact import (
        expire_partitions,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sink import (
        write_partitioned,
    )
    import datetime as dt
    import os
    import pytest
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"2024-03-0{d}") for i, d in enumerate([1, 1, 2, 3, 4], 1)],
        "event_id long, partition_date string",
    )
    write_partitioned(df, path)

    with pytest.raises(ValueError, match="exactly one"):
        expire_partitions(spark, path)
    with pytest.raises(ValueError, match="exactly one"):
        expire_partitions(spark, path, before="2024-03-03", keep_days=1)

    dropped = expire_partitions(spark, path, before="2024-03-03")
    assert dropped == ["2024-03-01", "2024-03-02"]
    left = spark.read.parquet(path)
    assert {str(r.partition_date) for r in left.collect()} == {
        "2024-03-03", "2024-03-04",
    }
    # keep_days form with pinned 'today': cutoff 2024-03-04 drops 03-03
    dropped2 = expire_partitions(
        spark, path, keep_days=1, today=dt.date(2024, 3, 5)
    )
    assert dropped2 == ["2024-03-03"]
    assert not os.path.isdir(os.path.join(path, "partition_date=2024-03-03"))
    # idempotent: nothing older remains
    assert expire_partitions(spark, path, before="2024-03-04") == []


def test_compact_only_needed_skips_compacted_partitions(spark, tmp_path):
    """only_needed: a partition already at its target layout keeps its
    exact files; a fragmented one is rewritten."""
    import os

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.compact import (
        compact_table,
        table_stats,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sink import (
        write_partitioned,
    )

    path = str(tmp_path / "t")
    frag = spark.createDataFrame(
        [(i, "2024-03-01") for i in range(40)],
        "event_id long, partition_date string",
    ).repartition(8)  # 8 files in one partition
    write_partitioned(frag, path)
    tidy = spark.createDataFrame(
        [(100, "2024-03-02")], "event_id long, partition_date string"
    ).coalesce(1)
    write_partitioned(tidy, path)
    compact_table(spark, path)  # both now at 1 file
    stats = table_stats(spark, path)
    assert {p: s["n_files"] for p, s in stats.items()} == {
        "2024-03-01": 1, "2024-03-02": 1,
    }

    def files(p):
        d = os.path.join(path, f"partition_date={p}")
        return sorted(f for f in os.listdir(d) if not f.startswith(("_", ".")))

    before = {p: files(p) for p in stats}
    # fragment 03-01 again with an append
    write_partitioned(
        spark.createDataFrame(
            [(200, "2024-03-01")], "event_id long, partition_date string"
        ).coalesce(1),
        path,
    )
    result = compact_table(spark, path, only_needed=True)
    assert set(result) == {"2024-03-01"}           # only the fragmented day
    assert files("2024-03-02") == before["2024-03-02"]  # untouched files
    assert spark.read.parquet(path).count() == 42


def test_expire_default_partition_opt_in(spark, tmp_path):
    """The NULL partition has no date, so the lexicographic cutoff can
    never expire it — only the explicit opt-in drops it."""
    import os

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.compact import (
        expire_partitions,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sink import (
        write_partitioned,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "2024-03-01"), (2, None)], "event_id long, partition_date string"
    )
    write_partitioned(df, path)
    ddir = os.path.join(path, "partition_date=__HIVE_DEFAULT_PARTITION__")
    assert os.path.isdir(ddir)
    # cutoff far in the future: dated partition drops, default survives
    assert expire_partitions(spark, path, before="2099-01-01") == ["2024-03-01"]
    assert os.path.isdir(ddir)
    # opt-in drops it
    dropped = expire_partitions(
        spark, path, before="2099-01-01", include_default_partition=True
    )
    assert dropped == ["__HIVE_DEFAULT_PARTITION__"]
    assert not os.path.isdir(ddir)


def test_export_text_shards_roundtrip(spark, tmp_path):
    """JSONL export: shard count tracks the byte target, every document
    survives a round-trip read, and the empty frame exports cleanly."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sink import (
        export_text_shards,
    )

    docs = spark.createDataFrame(
        [(i, "tok " * 100) for i in range(200)], "doc_id long, text string"
    )
    out = str(tmp_path / "shards")
    # ~200 rows x ~400 bytes = ~80 KB; 16 KB target → ~6 shards
    n = export_text_shards(docs, out, target_bytes=16 * 1024)
    assert 3 <= n <= 10
    import glob

    files = glob.glob(f"{out}/part-*")
    assert len(files) == n
    back = spark.read.json(out)
    assert back.count() == 200
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == set(range(200))

    empty = docs.where("doc_id < 0")
    assert export_text_shards(empty, str(tmp_path / "empty")) == 0


def test_export_cli_end_to_end(spark, tmp_path):
    """run_export reads a warehouse table, applies the filter, and
    writes JSONL shards."""
    import glob
    import os

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.cli import (
        run_export,
    )

    wh = str(tmp_path / "wh")
    spark.createDataFrame(
        [(i, "web" if i % 2 else "books", "tok " * 50) for i in range(100)],
        "doc_id long, source string, text string",
    ).write.parquet(os.path.join(wh, "documents"))
    out = str(tmp_path / "export")
    run_export.main([
        "--warehouse", wh, "--table", "documents", "--output", out,
        "--where", "source = 'web'", "--target-mb", "1",
    ])
    back = spark.read.json(out)
    assert back.count() == 50
    assert {r["source"] for r in back.select("source").distinct().collect()} == {"web"}
    assert glob.glob(f"{out}/part-*")


def test_expire_partitions_rejects_non_canonical_cutoff(spark, tmp_path):
    """A non-zero-padded cutoff orders wrong as a string and would
    silently expire the whole year — it must be refused, not applied."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.compact import (
        expire_partitions,
    )

    path = str(tmp_path / "t")
    for d in ("2024-01-05", "2024-03-31", "2024-11-02"):
        spark.range(3).withColumn("partition_date", F.lit(d)).write.mode(
            "append"
        ).partitionBy("partition_date").parquet(path)
    for bad in ("2024-3-1", "garbage", "2024/03/01", "20240301"):
        with _pytest.raises(ValueError):
            expire_partitions(spark, path, before=bad)
    # nothing was deleted by the refused calls
    assert len(os.listdir(path)) >= 3
    # the canonical form works and expires exactly the older partitions
    dropped = expire_partitions(spark, path, before="2024-03-01")
    assert dropped == ["2024-01-05"]


def test_warehouse_summary_newest_skips_null_partition(spark, tmp_path):
    """One historic malformed-date record must not pin newest_partition
    to __HIVE_DEFAULT_PARTITION__ forever; a table left with only
    crashed-swap scratch dirs reports nulls instead of crashing."""
    import os

    from pyspark.sql import functions as F

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.warehouse import (
        warehouse_summary,
    )

    wh = str(tmp_path / "wh")
    t = os.path.join(wh, "transfers")
    for d in ("2024-03-01", "2024-03-02"):
        spark.range(2).withColumn("partition_date", F.lit(d)).write.mode(
            "append"
        ).partitionBy("partition_date").parquet(t)
    # a NULL-date partition (sorts after every date)
    os.makedirs(os.path.join(t, "partition_date=__HIVE_DEFAULT_PARTITION__"))
    s = warehouse_summary(spark, wh)
    assert s["tables"]["transfers"]["newest_partition"] == "2024-03-02"
    assert s["tables"]["transfers"]["n_partitions"] == 3
    # scratch-only table: reported with null bounds, not IndexError
    broken = os.path.join(wh, "broken")
    os.makedirs(os.path.join(broken, "partition_date=2024-03-01._compacting"))
    s = warehouse_summary(spark, wh)
    assert s["tables"]["broken"]["newest_partition"] is None


def test_localfs_rename_no_overwrite_is_atomic_refusal(tmp_path):
    """rename(overwrite=False) onto an existing target refuses for both
    files and non-empty directories."""
    import os

    import pytest as _pytest

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.fs import (
        LocalFS,
    )

    fs = LocalFS()
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    open(a, "w").write("x")
    open(b, "w").write("y")
    with _pytest.raises(FileExistsError):
        fs.rename(a, b)
    assert open(b).read() == "y" and os.path.exists(a)
    da, db = str(tmp_path / "da"), str(tmp_path / "db")
    os.makedirs(da)
    os.makedirs(db)
    open(os.path.join(db, "f"), "w").write("z")
    with _pytest.raises(FileExistsError):
        fs.rename(da, db)
    assert os.path.exists(os.path.join(db, "f"))


def test_expire_partitions_rejects_non_positive_keep_days(spark, tmp_path):
    """Regression (review-confirmed typo-to-mass-delete): keep_days=-90
    (a sign slip or bad cron substitution) computes a FUTURE cutoff and
    would expire every partition the table owns; keep_days=0 deletes all
    history up to today. Both must refuse, deleting nothing."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.compact import (
        expire_partitions,
    )

    path = str(tmp_path / "t")
    for d in ("2024-03-01", "2024-03-02"):
        spark.range(2).withColumn("partition_date", F.lit(d)).write.mode(
            "append"
        ).partitionBy("partition_date").parquet(path)
    for bad in (-90, -1, 0):
        with _pytest.raises(ValueError, match="keep_days"):
            expire_partitions(spark, path, keep_days=bad)
    assert sorted(
        d for d in os.listdir(path) if d.startswith("partition_date=")
    ) == ["partition_date=2024-03-01", "partition_date=2024-03-02"]
    # a positive retention still works
    import datetime as dt

    dropped = expire_partitions(
        spark, path, keep_days=1, today=dt.date(2024, 3, 3)
    )
    assert dropped == ["2024-03-01"]


def test_export_cli_detects_maintenance_race(spark, tmp_path):
    """The lock-free export default must FAIL LOUDLY (status 1) when the
    table's directory layout changes under it — the silent-miss window
    of compaction's two-rename swap — instead of reporting a complete
    corpus. With --lock-path the guard is unnecessary and off."""
    import os

    import pytest as _pytest

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.cli import (
        run_export,
    )

    wh = str(tmp_path / "wh")
    spark.createDataFrame(
        [(i, "tok " * 20) for i in range(10)], "doc_id long, text string"
    ).write.parquet(os.path.join(wh, "documents"))
    # a crashed/in-flight compaction's scratch marker beside the data
    os.makedirs(os.path.join(wh, "documents", "._compact_old_2024-03-01"))
    out = str(tmp_path / "export")
    status = str(tmp_path / "status")
    with _pytest.raises(RuntimeError, match="raced warehouse maintenance"):
        run_export.main([
            "--warehouse", wh, "--table", "documents", "--output", out,
            "--status-path", status,
        ])
    assert open(status).read() == "1"  # monitoring sees the failure
    # serialized via --lock-path: same table exports fine (the scratch
    # dir is hidden from Spark's listing; the guard is the lock now)
    out2 = str(tmp_path / "export2")
    run_export.main([
        "--warehouse", wh, "--table", "documents", "--output", out2,
        "--lock-path", str(tmp_path / "wh.lock"),
    ])
    assert spark.read.json(out2).count() == 10


def test_cli_session_factory_does_not_clobber_host_session(spark):
    """Regression: a CLI entry point invoked inside a host session
    (tests, notebooks, an orchestrator embedding run_export) must not
    re-apply the factory's DEFAULTS onto it — getOrCreate silently sets
    runtime confs, and flipping spark.sql.shuffle.partitions 4→32 here
    made the planner stop using the dedup stores' 4-bucket bucketed
    scans (their exchange-free screen plans regressed suite-order-
    dependently). Explicit overrides still apply."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark import (
        get_spark_session,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    embedded = get_spark_session(app_name="embedded_cli_call")
    assert embedded is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    explicit = get_spark_session(shuffle_partitions=int(before))
    assert explicit is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
