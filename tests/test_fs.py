"""The FS abstraction (fs.py): LocalFS / HadoopFS contract parity, and
the exactly-once sink + compaction protocols driven through the Hadoop
FileSystem via ``file://`` URIs — the same code path a ``hdfs://``
deployment takes, no cluster needed."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.compact import (
    compact_table,
    list_partitions,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.fs import (
    HadoopFS,
    LocalFS,
    get_filesystem,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sink import (
    BatchLedger,
    batch_manifest_path,
    write_partitioned_batch,
)


def _impls(spark, tmp_path):
    """(fs, root) pairs: local impl on a bare path, Hadoop impl on the
    same tree as a file:// URI."""
    local_root = str(tmp_path / "local")
    hadoop_root = f"file://{tmp_path}/hadoop"
    return [(LocalFS(), local_root), (HadoopFS(spark), hadoop_root)]


def test_fs_dispatch(spark):
    assert isinstance(get_filesystem("/tmp/x"), LocalFS)
    assert isinstance(get_filesystem("file:///tmp/x", spark), HadoopFS)
    assert isinstance(get_filesystem("hdfs://nn/x", spark), HadoopFS)


def test_fs_contract_parity(spark, tmp_path):
    """The op sequence the sink/compaction protocols rely on behaves
    identically on both impls."""
    for fs, root in _impls(spark, tmp_path):
        d = os.path.join(root, "a/b")
        fs.mkdirs(d)
        assert fs.exists(d) and fs.is_dir(d)
        fs.write_text_atomic(os.path.join(d, "f.json"), "[1, 2]")
        assert fs.read_text(os.path.join(d, "f.json")) == "[1, 2]"
        # overwrite rename (the ledger swap)
        fs.write_text_atomic(os.path.join(d, "f.json"), "[1, 2, 3]")
        assert fs.read_text(os.path.join(d, "f.json")) == "[1, 2, 3]"
        # list_entries: (name, is_dir), hidden included (callers filter)
        fs.mkdirs(os.path.join(d, "sub"))
        entries = dict(fs.list_entries(d))
        assert entries == {"f.json": False, "sub": True}
        assert fs.list_entries(os.path.join(root, "missing")) == []
        # no-overwrite rename refuses an existing destination
        fs.write_text_atomic(os.path.join(d, "g.json"), "x")
        with pytest.raises((FileExistsError, OSError)):
            fs.rename(os.path.join(d, "g.json"), os.path.join(d, "f.json"))
        # plain rename moves; delete removes
        fs.rename(os.path.join(d, "g.json"), os.path.join(d, "h.json"))
        assert fs.exists(os.path.join(d, "h.json"))
        assert not fs.exists(os.path.join(d, "g.json"))
        fs.delete(os.path.join(d, "sub"), recursive=True)
        assert not fs.exists(os.path.join(d, "sub"))
        # recursive file listing with sizes
        sizes = dict(fs.list_files_recursive(d))
        assert sizes == {"f.json": 9, "h.json": 1}
        # read of a missing file is FileNotFoundError on both impls
        with pytest.raises(FileNotFoundError):
            fs.read_text(os.path.join(d, "nope.json"))


def test_ledger_on_hadoop_fs(spark, tmp_path):
    path = f"file://{tmp_path}/wh/_ledger.json"
    ledger = BatchLedger(path, fs=HadoopFS(spark))
    assert ledger.committed() == set()
    ledger.commit(3)
    ledger.commit(7)
    assert ledger.is_committed(3) and ledger.is_committed(7)
    # a fresh handle re-reads from the store
    assert BatchLedger(path, fs=HadoopFS(spark)).committed() == {3, 7}


def _events(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.date_add(F.lit("2024-03-01").cast("date"), (F.col("id") % 3).cast("int"))
        .cast("string")
        .alias("partition_date"),
        (F.col("id") * 2).alias("value"),
    )


def test_write_batch_idempotent_on_hadoop_fs(spark, tmp_path):
    """The stage→promote→replay protocol through file:// URIs: a replay
    of the same batch must not duplicate rows; a new batch appends."""
    path = f"file://{tmp_path}/wh/transfers"
    fs = HadoopFS(spark)
    df = _events(spark)
    write_partitioned_batch(df, path, batch_id=0, fs=fs)
    assert spark.read.parquet(path).count() == 40
    # replay of batch 0 (crash-before-ledger-commit scenario)
    write_partitioned_batch(df, path, batch_id=0, fs=fs)
    assert spark.read.parquet(path).count() == 40
    # new batch appends
    write_partitioned_batch(df, path, batch_id=1, fs=fs)
    assert spark.read.parquet(path).count() == 80
    # partition layout is Hive-style, batch id embedded in file names
    parts = list_partitions(spark, path, fs=fs)
    assert parts == ["2024-03-01", "2024-03-02", "2024-03-03"]
    names = [n for n, _ in fs.list_files_recursive(path)]
    assert any(n.startswith("batch0-") for n in names)
    assert any(n.startswith("batch1-") for n in names)


def test_compact_on_hadoop_fs(spark, tmp_path):
    """Compaction's two-rename swap through file:// URIs: row counts
    unchanged, one file per partition afterwards."""
    path = f"file://{tmp_path}/wh/transfers"
    fs = HadoopFS(spark)
    for b in range(4):
        write_partitioned_batch(_events(spark), path, batch_id=b, fs=fs)
    before = spark.read.parquet(path).count()
    result = compact_table(spark, path, fs=fs)
    assert set(result) == {"2024-03-01", "2024-03-02", "2024-03-03"}
    assert spark.read.parquet(path).count() == before
    for p in result:
        data_files = [
            n
            for n, _ in fs.list_files_recursive(
                os.path.join(path, f"partition_date={p}")
            )
            if not n.startswith(("_", "."))
        ]
        assert len(data_files) == 1, data_files


def test_rename_refuses_existing_empty_dir_dst_on_both_impls(spark, tmp_path):
    """Cross-impl parity for the swap protocol's load-bearing edge:
    rename(overwrite=False) onto an existing EMPTY directory must refuse
    on BOTH impls. POSIX os.rename silently replaces an empty dst dir;
    Hadoop's FileSystem.rename moves src INTO an existing dst dir
    (burying the compacted files one level deep) — either divergence
    would let compact_partition's rename(tmp, pdir) silently corrupt a
    partition that a concurrent reader/mkdirs recreated."""
    for fs, root in _impls(spark, tmp_path):
        src = os.path.join(root, "src_dir")
        dst = os.path.join(root, "dst_dir")
        fs.mkdirs(src)
        fs.write_text_atomic(os.path.join(src, "data.txt"), "payload")
        fs.mkdirs(dst)  # exists and EMPTY — the silent-clobber case
        with pytest.raises(FileExistsError):
            fs.rename(src, dst)
        # src intact, dst not silently replaced or nested into
        assert fs.read_text(os.path.join(src, "data.txt")) == "payload"
        assert dict(fs.list_entries(dst)) == {}


class _Crash(RuntimeError):
    pass


class _CrashingFS:
    """Delegates to ``inner``; after ``survive`` calls of ``op`` the next
    one raises — the process dying right before that FS operation."""

    def __init__(self, inner, op, survive):
        self._inner, self._op, self._left = inner, op, survive

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name != self._op:
            return attr

        def call(*args, **kwargs):
            if self._left == 0:
                raise _Crash(f"simulated crash before {name}{args}")
            self._left -= 1
            return attr(*args, **kwargs)

        return call


def _batch_files(fs, path, batch_id):
    """Relative paths of the visible (promoted) files of one batch."""
    prefix = f"batch{batch_id}-"
    return sorted(
        os.path.join(d, f)
        for d, d_is_dir in fs.list_entries(path)
        if d_is_dir and not d.startswith(("_", "."))
        for f, f_is_dir in fs.list_entries(os.path.join(path, d))
        if not f_is_dir and f.startswith(prefix)
    )


@pytest.mark.parametrize("case", ["a", "b", "c", "d"])
@pytest.mark.parametrize("impl", ["local", "hadoop"])
def test_manifest_crash_matrix(spark, tmp_path, impl, case):
    """Crash points of the manifest protocol, on both FS impls; every
    case replays to exactly one copy of the batch's rows.
    (a) after the manifest write, before the first promote rename;
    (b) after k of n promote renames;
    (c) mid-undo of (b)'s residue, with some listed files already gone;
    (d) after the ledger commit, before the manifest is retired: the
        stale manifest leaves the next batch unaffected."""
    fs, root = dict(zip(["local", "hadoop"], _impls(spark, tmp_path)))[impl]
    path = os.path.join(root, "wh", "transfers")
    manifest = batch_manifest_path(path, 0)
    df = _events(spark).coalesce(1)  # one file per partition: n = 3

    if case == "d":
        write_partitioned_batch(df, path, batch_id=0, fs=fs)
        BatchLedger(os.path.join(root, "wh", "_ledger.json"), fs=fs).commit(0)
        # crash here: the manifest of committed batch 0 is never retired
        write_partitioned_batch(df, path, batch_id=1, fs=fs)
        assert fs.exists(manifest)
        assert len(_batch_files(fs, path, 0)) == 3
        assert len(_batch_files(fs, path, 1)) == 3
        assert spark.read.parquet(path).count() == 80
        return

    renames_survived = {"a": 0, "b": 1, "c": 2}[case]
    with pytest.raises(_Crash):
        write_partitioned_batch(
            df, path, batch_id=0, fs=_CrashingFS(fs, "rename", renames_survived)
        )
    listed = json.loads(fs.read_text(manifest))
    assert len(listed) == 3
    visible = _batch_files(fs, path, 0)
    assert len(visible) == renames_survived and set(visible) <= set(listed)
    if case == "c":
        # the replay dies after deleting the staging dir and ONE listed
        # file: one promoted file is still visible, one listed file
        # was never promoted, and the manifest survives for the next try
        with pytest.raises(_Crash):
            write_partitioned_batch(
                df, path, batch_id=0, fs=_CrashingFS(fs, "delete", 2)
            )
        assert len(_batch_files(fs, path, 0)) == 1
        assert fs.exists(manifest)

    write_partitioned_batch(df, path, batch_id=0, fs=fs)
    assert spark.read.parquet(path).count() == 40
    assert _batch_files(fs, path, 0) == sorted(json.loads(fs.read_text(manifest)))
    assert not fs.exists(os.path.join(path, "._batch_staging_0"))
