"""The FS abstraction (fs.py): LocalFS / HadoopFS contract parity, and
the exactly-once sink + compaction protocols driven through the Hadoop
FileSystem via ``file://`` URIs — the same code path a ``hdfs://``
deployment takes, no cluster needed."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from conftest import RoundTrips

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


def test_file_stats_lists_single_file_and_sees_rewrite(spark, tmp_path):
    """The signature behind pinned-schema loads: a single-file path is
    its own entry on both impls (``os.walk`` of a file yields nothing),
    names are relative to the path, and a rewrite changes the entry."""
    for fs, root in _impls(spark, tmp_path):
        f = os.path.join(root, "t.parquet")
        fs.mkdirs(os.path.join(root, "d", "p=1"))
        fs.write_text_atomic(f, "abc")
        fs.write_text_atomic(os.path.join(root, "d", "p=1", "x"), "xy")
        [(name, size, mtime)] = fs.file_stats(f)
        assert (name, size) == ("t.parquet", 3)
        assert fs.list_files_recursive(f) == [("t.parquet", 3)]
        assert [(n, s) for n, s, _ in fs.file_stats(os.path.join(root, "d"))] == [
            (os.path.join("p=1", "x"), 2)
        ]
        assert fs.file_stats(os.path.join(root, "missing")) == []
        fs.write_text_atomic(f, "abcd")
        assert fs.file_stats(f) != [(name, size, mtime)]


def test_list_nested_files_parity(spark, tmp_path):
    """``list_nested_files`` gives the same (dir, file) pairs on both
    impls: files one level inside the visible subdirectories only —
    ``_``/``.`` names skipped at both levels, a directory inside a
    partition not taken as a file, a file at the top not descended
    into, and no character of a name (separators, quotes, newlines, a
    fake ``isDirectory`` field) splitting an entry. The table path
    itself carries glob characters, which must match only themselves."""
    odd = 'a,b"c; isDirectory=true'
    results = []
    for fs, root in _impls(spark, tmp_path):
        t = os.path.join(root, "t[1]{a,b}*?")
        for rel in (
            "p=1/batch0-part-0.parquet", f"p=1/{odd}", "p=1/n\nl é",
            "p=1/_SUCCESS", "p=1/.hidden", "p=1/sub/deeper.parquet",
            "p=2/part-0.parquet", "_batch_manifests/1.json",
            "._batch_staging_3/p=1/x.parquet", ".tmp/p=1/x", "topfile",
        ):
            fs.mkdirs(os.path.dirname(os.path.join(t, rel)))
            fs.write_text_atomic(os.path.join(t, rel), "x")
        fs.mkdirs(os.path.join(t, "p=3"))  # an empty partition
        results.append(sorted(fs.list_nested_files(t)))
        assert fs.list_nested_files(os.path.join(root, "missing")) == []
        assert dict(fs.list_entries(os.path.join(t, "p=1"))) == {
            "batch0-part-0.parquet": False, odd: False, "n\nl é": False,
            "_SUCCESS": False, ".hidden": False, "sub": True,
        }
    assert results[0] == results[1] == sorted([
        ("p=1", "batch0-part-0.parquet"), ("p=1", odd), ("p=1", "n\nl é"),
        ("p=2", "part-0.parquet"),
    ])


def test_hadoop_fs_round_trip_budget(spark, tmp_path):
    """Each ``HadoopFS`` operation makes a few py4j round trips, and a
    listing's count grows only with the text it returns, not by calls
    per entry: no per-call class lookup, no duplicate probe, no
    per-entry getter. A read longer than one py4j answer comes back
    whole."""
    fs, root = HadoopFS(spark), f"file://{tmp_path}"

    def trips(op):
        with RoundTrips(spark) as n:
            op()
        return n.count

    fs.mkdirs(root)  # resolves the store once per instance
    d = os.path.join(root, "d")
    assert trips(lambda: fs.mkdirs(d)) <= 3
    fs.write_text_atomic(os.path.join(d, "f.json"), "[1]")
    assert trips(lambda: fs.read_text(os.path.join(d, "f.json"))) <= 6
    assert trips(lambda: fs.rename(os.path.join(d, "f.json"), os.path.join(d, "g.json"))) <= 6
    listing, nested = [], []
    for n in (3, 30):
        t = os.path.join(root, f"t{n}")
        for i in range(n):
            fs.write_text_atomic(os.path.join(t, f"p={i}", "part-0.parquet"), "x")
        listing.append(trips(lambda: fs.list_entries(t)))
        nested.append(trips(lambda: fs.list_nested_files(t)))
        assert sorted(fs.list_nested_files(t)) == sorted(
            (f"p={i}", "part-0.parquet") for i in range(n)
        )
    assert listing[0] <= 16 and listing[1] <= listing[0] + 4
    assert nested[0] <= 16 and nested[1] <= nested[0] + 4
    long = json.dumps(list(range(5000)))
    fs.write_text_atomic(os.path.join(d, "long.json"), long)
    assert fs.read_text(os.path.join(d, "long.json")) == long


def test_rename_carries_checksum_on_both_impls(spark, tmp_path):
    """A file's ``.<name>.crc`` follows it through ``rename`` on both
    impls, and a local overwrite drops a stale checksum at the target:
    a file Hadoop wrote, then replaced through the local impl, still
    reads through ``file://``."""
    for fs, root in _impls(spark, tmp_path):
        fs.mkdirs(root)
        src, dst = os.path.join(root, "f"), os.path.join(root, "g")
        fs.write_text_atomic(src, "payload")
        local = root.removeprefix("file://")
        with open(os.path.join(local, ".f.crc"), "a"):
            pass  # the local impl writes none of its own
        fs.rename(src, dst)
        assert ".g.crc" in os.listdir(local)
        assert ".f.crc" not in os.listdir(local)
    hadoop = HadoopFS(spark)
    target = os.path.join(str(tmp_path), "h.json")
    hadoop.write_text_atomic(f"file://{target}", "[1, 2, 3]")
    assert os.path.exists(os.path.join(str(tmp_path), ".h.json.crc"))
    LocalFS().write_text_atomic(target, "[4]")
    assert hadoop.read_text(f"file://{target}") == "[4]"


def test_bare_path_batch_files_are_checksummed(spark, tmp_path):
    """A batch written to a bare local path keeps each data file's
    checksum, so a flipped byte fails a ``file://`` read instead of
    being served."""
    path = str(tmp_path / "transfers")
    write_partitioned_batch(_events(spark), path, batch_id=0)
    pdir = os.path.join(path, "partition_date=2024-03-01")
    names = os.listdir(pdir)
    data = sorted(f for f in names if f.startswith("batch0-"))
    assert data and all(f".{f}.crc" in names for f in data)
    with open(os.path.join(pdir, data[0]), "r+b") as f:
        f.seek(4)
        byte = f.read(1)
        f.seek(4)
        f.write(bytes([byte[0] ^ 0xFF]))
    with pytest.raises(Exception, match="Checksum"):
        spark.read.parquet(f"file://{path}").collect()


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
    unchanged, one file per partition afterwards, named with the max
    committed batch, and the local store's checksum file renamed with
    it."""
    path = f"file://{tmp_path}/wh/transfers"
    fs = HadoopFS(spark)
    ledger = BatchLedger(f"file://{tmp_path}/wh/_ledger.json", fs=fs)
    for b in range(4):
        write_partitioned_batch(_events(spark), path, batch_id=b, fs=fs)
        ledger.commit(b)
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
        assert data_files[0].startswith("compacted3-part-"), data_files
        local = os.listdir(tmp_path / "wh" / "transfers" / f"partition_date={p}")
        assert f".{data_files[0]}.crc" in local, local


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
