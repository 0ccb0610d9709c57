"""Partitioned Parquet sinks with idempotent micro-batch writes.

Reference parity: the four INSERT-INTO-partitioned-table sinks
(`Dcache_kafka_to_hive.py:115-141`). Differences, deliberate:

- **Name-based writes** (``partitionBy`` + parquet path / ``insertInto``
  by name), not the reference's positional ``INSERT INTO … SELECT *``
  (`:118-120`) whose correctness silently depends on select-list order
  matching DDL order (SURVEY §2.7). Column order is still pinned by tests
  as a contract.
- **Idempotence** (fixes SURVEY §3.4): the reference's foreachBatch is
  at-least-once — a mid-batch failure replays the batch and duplicates
  earlier inserts. Here two layers close the gap: a committed-batch
  ledger skips whole replayed batch ids, and every data file a batch
  writes carries the batch id in its NAME (stage → promote-with-rename,
  ``write_partitioned_batch``). Before the first promote rename the
  batch records its intent — the relative paths of the files it will
  promote — in ``<table>/_batch_manifests/<id>.json``, so a replay of a
  half-written batch first deletes exactly the files its manifest lists
  and then rewrites them — duplicates cannot survive any crash point.
  This is the FileOutputCommitter-v1 shape: data lands in a hidden
  staging dir, promotion is per-file rename (a metadata op on HDFS-like
  stores).

Every crash point is covered (the full matrix is at
``write_partitioned_batch``): before the manifest nothing is visible;
after it, a replay deletes the listed files, then the manifest — last,
so a crash mid-undo re-runs it. The caller retires the manifest after
its ledger commit; a crash in between leaves a stale manifest of a
committed batch, which the ledger makes harmless and the maintenance
sweep (``warehouse.remove_orphan_batches``) deletes. The undo costs one
manifest read plus one delete per file of the batch — flat in table
history. A table with no ``_batch_manifests/`` dir was written before
manifests existed and may hold a crashed batch's files with no manifest
behind them: its first write runs the full-scan ``cleanup_batch_files``
once, then creates the dir.

This module is the one owner of that on-disk layout: the ledger's name,
format and two-level resolution (``read_ledger``,
``resolve_table_ledger``), the ``batch<id>-`` file names and the walk
that groups a table's files by them (``batch_files``,
``batch_id_column``), the ``compacted<M>-`` names compaction gives its
output (``compacted_prefix``, ``compaction_stamp``), the manifests and
staging dirs, and the per-batch metrics files (``batch_metrics_files``).
Readers elsewhere call these and keep only their own filters.

All file operations route through the ``fs`` abstraction (fs.py), so
the exactly-once protocol runs unchanged against bare local paths AND
``hdfs://``/``s3a://``/``file://`` URIs — the reference's actual
deployment target is Hive-on-HDFS.

At 100 TB: appends are partition-local (no shuffle); one pass per batch
over the parsed frame per route, with the parsed batch persisted by the
caller (streaming/pipeline.py) so its 5 route writes, which it runs
concurrently (one table and manifest each), share one parse.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fs import get_filesystem
from .schema import PARTITION_FIELD


LEDGER_FILE = "_ledger.json"


def ledger_path(base: str) -> str:
    """The committed-batch ledger of the warehouse or table dir ``base``."""
    return os.path.join(base, LEDGER_FILE)


def read_ledger(path: str, fs) -> list[int] | dict | None:
    """Read a ledger's batch ids or another JSON marker, creating nothing.

    The other marker is ``_snapshot_horizon``. Unlike ``BatchLedger``,
    no directory is made. None when there is no usable file at
    ``path``: it is missing or does not parse (a torn write). Any other
    read error propagates — a transient store error read as "no ledger"
    would silently skip whatever the caller guards with it, and a
    marker read as empty would be rewritten without the check it
    feeds."""
    try:
        return json.loads(fs.read_text(path))
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def resolve_table_ledger(table_path: str, fs) -> tuple[str, list[int]] | None:
    """Find the ledger that governs reads of a table.

    That is the table's own ledger if it has one, else the
    warehouse-level ledger one dir up that route tables share. Returns
    ``(dir holding it, ids)``, or None when neither level has one."""
    table = table_path.rstrip("/")
    for base in (table, os.path.dirname(table)):
        ids = read_ledger(ledger_path(base), fs)
        if ids is not None:
            return base, ids
    return None


class BatchLedger:
    """Crash-safe record of committed (sink, batch_id) pairs.

    The ledger is tiny (one int per committed batch), read once per
    batch, written via create-temp + rename. On HDFS-like stores the
    overwrite rename is delete-then-rename — a crash in that window
    leaves NO ledger, so nothing is skipped; the stream re-delivers the
    batch whose commit was in flight, and that batch's manifest is
    retired only after the commit (write_partitioned_batch), so its
    replay undoes the earlier attempt and stays duplicate-free — the
    window is safe.
    """

    def __init__(self, path: str, fs=None):
        self.path = path
        self.fs = fs or get_filesystem(path)
        parent = os.path.dirname(path)
        if parent:
            self.fs.mkdirs(parent)

    def committed(self) -> set[int]:
        return set(read_ledger(self.path, self.fs) or ())

    def commit(self, batch_id: int) -> None:
        ids = self.committed()
        ids.add(batch_id)
        self.fs.write_text_atomic(self.path, json.dumps(sorted(ids)))

    def is_committed(self, batch_id: int) -> bool:
        return batch_id in self.committed()


METRICS_DIR = "_metrics"


def batch_metrics_path(warehouse: str, batch_id: int) -> str:
    """Where the ingest pipeline records a committed batch's metrics."""
    return os.path.join(warehouse, METRICS_DIR, f"batch-{batch_id}.json")


def batch_metrics_files(warehouse: str, fs) -> dict[int, str]:
    """Map each batch id to its metrics file under ``warehouse``.

    In listing order. Exact ``batch-<id>.json`` names only: a crashed
    atomic write leaves ``batch-<id>.json.tmp`` beside them, which must
    never be read as a batch."""
    mdir = os.path.join(warehouse, METRICS_DIR)
    out = {}
    for name, is_dir in fs.list_entries(mdir):
        m = re.fullmatch(r"batch-(\d+)\.json", name)
        if m and not is_dir:
            out[int(m.group(1))] = os.path.join(mdir, name)
    return out


def write_partitioned(df: DataFrame, path: str, mode: str = "append") -> None:
    """Append a route frame to its Parquet table, Hive-style partitioned by
    partition_date (≙ ``INSERT INTO t PARTITION (partition_date)``,
    `Dcache_kafka_to_hive.py:118-120`)."""
    df.write.mode(mode).partitionBy(PARTITION_FIELD).parquet(path)


MANIFEST_DIR = "_batch_manifests"


def _batch_prefix(batch_id) -> str:
    return f"batch{batch_id}-"


# the batch id in a promoted file's name, and the Hadoop glob
# (``pathGlobFilter``) that admits only batch-named files
_BATCH_NAME = re.compile("^" + _batch_prefix(r"(\d+)"))
BATCH_FILE_GLOB = _batch_prefix("*") + "*"


def compacted_prefix(batch_id) -> str:
    """The name prefix of a compaction's output files: ``batch_id`` is
    the max committed batch when it ran, the batch those files hold
    state through."""
    return f"compacted{batch_id}-"


_COMPACTED_NAME = re.compile("^" + compacted_prefix(r"(\d+)"))


def compaction_stamp(files) -> int:
    """The newest ``compacted<M>-`` stamp among ``files`` (paths or
    names), −1 if none carries one."""
    return max(
        (
            int(m.group(1))
            for f in files
            if (m := _COMPACTED_NAME.match(os.path.basename(f)))
        ),
        default=-1,
    )


def batch_id_column():
    """The ``_batch_id`` column: each row's batch id, from its file name.

    Parsed JVM-side from ``input_file_name()`` (one regexp per row in
    the scan stage — no Python, no join)."""
    return F.regexp_extract(
        F.element_at(F.split(F.input_file_name(), "/"), -1),
        _BATCH_NAME.pattern,
        1,
    ).cast("long")


def batch_files(path: str, fs) -> tuple[dict[int, list[str]], list[str]]:
    """Group a table's promoted data files by the batch id in their names.

    One two-level listing (``fs.list_nested_files``: one ``globStatus``
    on Hadoop FS), returning ``({batch id: [file paths]}, [un-named file
    paths])``. Only partition dirs are read; ``_``/``.`` names (staging
    dirs, manifests, compaction scratch) are skipped, as Spark's reader
    skips them. The un-named files are compaction rewrites, which carry
    no batch id (``compaction_stamp`` reads the batch they hold state
    through from their names)."""
    named: dict[int, list[str]] = {}
    unnamed: list[str] = []
    for d, f in fs.list_nested_files(path):
        m = _BATCH_NAME.match(f)
        if m is None:
            unnamed.append(os.path.join(path, d, f))
        else:
            named.setdefault(int(m.group(1)), []).append(os.path.join(path, d, f))
    return named, unnamed


_STAGING_PREFIX = "._batch_staging_"
_STAGING_NAME = re.compile(re.escape(_STAGING_PREFIX) + r"(\d+)")


def batch_staging_dir(path: str, batch_id: int) -> str:
    """The hidden dir a batch's output lands in before promotion."""
    return os.path.join(path, f"{_STAGING_PREFIX}{batch_id}")


def batch_staging_ids(path: str, fs=None) -> set[int]:
    """Ids of the batches that have a staging dir in the table at
    ``path``: batches mid-write, or crashed before their cleanup."""
    fs = fs or get_filesystem(path)
    return {
        int(m.group(1))
        for name, is_dir in fs.list_entries(path)
        if is_dir and (m := _STAGING_NAME.fullmatch(name))
    }


def batch_manifest_path(path: str, batch_id: int) -> str:
    """Where ``write_partitioned_batch`` records the files a batch
    promotes into the table at ``path`` (a JSON list of paths relative
    to the table). The ``_`` dir prefix keeps it out of Spark's reads."""
    return os.path.join(path, MANIFEST_DIR, f"{batch_id}.json")


def cleanup_batch_files(path: str, batch_id: int, fs=None) -> int:
    """Delete every data file a previous (crashed) attempt of this batch
    promoted into the table, plus any leftover staging dir. Returns the
    number of files removed. File membership is name-based — the batch
    id is embedded in every promoted file's name — so no data needs to
    be read, but every partition dir of the table is listed: the cost
    grows with table history. ``write_partitioned_batch`` runs it only
    once per table, for tables written before batch manifests existed."""
    fs = fs or get_filesystem(path)
    staging = batch_staging_dir(path, batch_id)
    if fs.is_dir(staging):
        fs.delete(staging, recursive=True)
    if not fs.is_dir(path):
        return 0
    files = batch_files(path, fs)[0].get(batch_id, [])
    for f in files:
        fs.delete(f)
    return len(files)


def batch_manifests(path: str, fs=None) -> tuple[set[int], list[str]]:
    """The manifest dir of the table at ``path``, in one listing:
    ``(ids of the batches with a manifest, paths of the other files)``.
    The other files are temp files a crash inside a manifest's own
    atomic write left (``.tmp-*`` locally, ``<id>.json.tmp`` on Hadoop
    FS); their names carry no usable batch id. Both are empty if the
    table has no manifest dir."""
    fs = fs or get_filesystem(path)
    mdir = os.path.join(path, MANIFEST_DIR)
    ids, temps = set(), []
    for name, is_dir in fs.list_entries(mdir):
        if is_dir:
            continue
        if m := re.fullmatch(r"(\d+)\.json", name):
            ids.add(int(m.group(1)))
        else:
            temps.append(os.path.join(mdir, name))
    return ids, temps


def undo_batch_attempt(path: str, batch_id: int, fs=None) -> None:
    """Remove whatever an uncommitted attempt of this batch left in the
    table: its staging dir and the files its manifest lists (missing
    ones are fine). The manifest goes last, so a crash mid-undo leaves
    it for the next undo to finish the job."""
    fs = fs or get_filesystem(path)
    fs.delete(batch_staging_dir(path, batch_id), recursive=True)
    manifest = batch_manifest_path(path, batch_id)
    try:
        listed = json.loads(fs.read_text(manifest))
    except FileNotFoundError:
        return
    for rel in listed:
        fs.delete(os.path.join(path, rel))
    fs.delete(manifest)


def _undo_batch(path: str, batch_id: int, fs) -> None:
    manifests = os.path.join(path, MANIFEST_DIR)
    if not fs.is_dir(manifests):
        # written before manifests existed (or never written): one full
        # scan catches a crashed attempt's unlisted files, and the dir
        # then marks every later write as manifest-covered
        cleanup_batch_files(path, batch_id, fs=fs)
        fs.mkdirs(manifests)
        return
    undo_batch_attempt(path, batch_id, fs=fs)


def retire_batch_manifest(path: str, batch_id: int, fs=None) -> None:
    """Drop a batch's manifest once the caller's ledger has committed
    the batch — a committed batch is never replayed, so its manifest
    has no further use. Missing is fine (an empty batch writes none)."""
    fs = fs or get_filesystem(path)
    fs.delete(batch_manifest_path(path, batch_id))


def write_partitioned_batch(
    df: DataFrame,
    path: str,
    batch_id: int,
    fs=None,
    partition_field: str = PARTITION_FIELD,
) -> None:
    """Idempotent micro-batch append: stage the batch's output under a
    hidden per-batch dir, record the files about to be promoted in the
    batch's manifest, then promote each data file into its partition
    dir under a batch-scoped NAME (``batch<id>-<part-file>``). Anything
    an earlier crashed attempt of the same batch left behind is undone
    first, from that attempt's manifest.

    Crash matrix: during staging → nothing visible (hidden dir), replay
    deletes the staging dir and rewrites; after the manifest write,
    before or during promotion → some listed files visible, replay
    deletes exactly the listed files, then the manifest, and
    re-promotes; mid-undo → the manifest is still there (deleted last),
    the next replay repeats the undo; after promotion but before the
    caller's ledger commit → replay rewrites byte-identical content
    (same checkpointed offset range). The caller retires the manifest
    (``retire_batch_manifest``) after its ledger commit; a crash in
    between leaves a stale manifest the ledger makes harmless.

    FS cost per call is O(files this batch writes): no listing of the
    table's partitions, except once for a table that has no
    ``_batch_manifests/`` dir yet (written before manifests existed),
    whose first write runs the full-scan ``cleanup_batch_files``.
    Promotion is one rename per file — a metadata operation on
    HDFS-like stores, the same pattern FileOutputCommitter v1 uses."""
    fs = fs or get_filesystem(path, df.sparkSession)
    _undo_batch(path, batch_id, fs)
    staging = batch_staging_dir(path, batch_id)
    df.write.mode("overwrite").partitionBy(partition_field).parquet(staging)
    prefix = _batch_prefix(batch_id)
    staged = fs.list_nested_files(staging)  # skips _SUCCESS and friends
    if staged:
        fs.write_text_atomic(
            batch_manifest_path(path, batch_id),
            json.dumps([os.path.join(d, prefix + f) for d, f in staged]),
        )
    for d in dict.fromkeys(d for d, _f in staged):
        fs.mkdirs(os.path.join(path, d))
    for d, f in staged:
        fs.rename(os.path.join(staging, d, f), os.path.join(path, d, prefix + f))
    fs.delete(staging, recursive=True)


def write_partitioned_table(df: DataFrame, table: str, mode: str = "append") -> None:
    """Same, against a catalog table (Hive deployment path).

    Inserts are aligned to the table's columns BY NAME first
    (``warehouse.align_to_table``): ``insertInto`` is positional, so
    without alignment a frame written by a pre-evolution writer fails on
    arity after ``ALTER TABLE ADD COLUMNS`` — or, with type-compatible
    column orders, silently writes values into the wrong columns.
    Alignment is a pure projection (no shuffle); frames carrying columns
    the table does not know still fail loudly (deployment-order bug)."""
    if not df.sparkSession.catalog.tableExists(table):
        clear_orphan_table_location(df.sparkSession, table)
        df.write.mode(mode).partitionBy(PARTITION_FIELD).saveAsTable(table)
    else:
        from .warehouse import align_to_table

        align_to_table(df, table).write.mode(mode).insertInto(table)


def managed_table_location(spark, table: str) -> str | None:
    """Resolve where the catalog places (or would place) a MANAGED
    table: ``<database location>/<table name, lowercased>``. Returns a
    local filesystem path, or None when the database location is on a
    remote scheme (hdfs/s3) — those deployments pair with a persistent
    metastore, where the orphan-location failure mode below cannot
    arise (the catalog never forgets a created table).
    """
    parts = table.split(".")
    db = parts[-2] if len(parts) > 1 else spark.catalog.currentDatabase()
    loc = next(
        (
            r.info_value
            for r in spark.sql(f"DESCRIBE DATABASE `{db}`").collect()
            if r.info_name == "Location"
        ),
        None,
    )
    if loc is None:
        return None
    # Hadoop renders local URIs as file:/path (one slash) or file:///path
    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*):(.*)$", loc)
    if m:
        if m.group(1) != "file":
            return None  # remote warehouse → persistent metastore territory
        loc = re.sub(r"^//(?=/)", "", m.group(2)) or m.group(2)
        if loc.startswith("//"):  # file://host/path — not a local path
            return None
    return os.path.join(loc, parts[-1].lower())


def clear_orphan_table_location(spark, table: str) -> bool:
    """Heal create-time crash residue: a managed-table DIRECTORY with no
    catalog entry behind it.

    With the in-memory catalog, a process killed after ``saveAsTable``
    created the warehouse directory (but before the data outlived the
    session) leaves ``spark-warehouse/<table>/`` on disk while the next
    session's catalog has never heard of the table — and every later
    create then fails ``LOCATION_ALREADY_EXISTS``, permanently. The
    catalog is the source of truth for store existence (``exists()`` on
    the dedup stores checks it, nothing else), so a location without a
    catalog entry is by definition garbage: remove it. Returns True if
    residue was cleared. No-op (False) when the table exists in the
    catalog, the location is absent, or the warehouse is remote (see
    ``managed_table_location``).
    """
    if spark.catalog.tableExists(table):
        return False
    loc = managed_table_location(spark, table)
    if loc is None or not os.path.isdir(loc):
        return False
    shutil.rmtree(loc, ignore_errors=True)
    return not os.path.isdir(loc)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a catalog table bucketed (and optionally sorted) by join
    key — the co-located-join layout for 100 TB fact tables.

    Two tables bucketed the same way join with ZERO exchange: each task
    reads matching bucket files from both sides, so the shuffle that
    dominates a big fact-fact join disappears from every subsequent
    query against the layout (pay the shuffle once at write time,
    amortized over all reads). Verified by plan assertion in
    tests/test_relational_ops.py.

    Bucket count is a layout contract: both join sides must use the same
    ``n_buckets``; size it so one bucket of the larger table fits a task
    (~128-512 MB) at the target scale.
    """
    clear_orphan_table_location(df.sparkSession, table)
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def export_text_shards(
    df: DataFrame,
    path: str,
    target_bytes: int = 256 * 1024 * 1024,
    text_col: str = "text",
    sample_rows: int = 1024,
    fmt: str = "json",
) -> int:
    """Export a curated corpus as size-targeted JSONL (or text) shards —
    the training-data handoff format (one document per line, shards
    sized for downstream loader parallelism, NOT Spark's default
    task-count splits).

    Shard count = estimated total text bytes / ``target_bytes``,
    estimated the same metadata-cheap way as
    ``multimodal.media_repartition``: a footer-only ``count()`` times
    the mean text length over a bounded sample — no full scan of the
    column being budgeted. The repartition is round-robin, so shards
    come out near-uniform regardless of document-length skew (a
    hash-partitioned export can produce a 10× shard from one hot key).

    Returns the shard count. Deterministic layout, not deterministic
    row order (round-robin assignment depends on the input split); for
    content-stable sharding at the cost of a sort, order by a content
    hash first and use ``repartitionByRange``.
    """
    n_rows = df.count()
    if n_rows == 0:
        df.limit(0).write.format(fmt).mode("overwrite").save(path)
        return 0
    # octet_length, not length: character count undercounts UTF-8 bytes
    # ~3x on CJK/emoji-heavy corpora (the same sampled-average idiom as
    # multimodal.media_repartition, whose binary payloads have len==bytes)
    avg_b = (
        df.select(F.octet_length(text_col).alias("b"))
        .limit(sample_rows)
        .agg(F.avg("b").alias("avg_b"))
        .first()["avg_b"]
        or 0.0
    )
    n_shards = max(1, int(n_rows * avg_b) // target_bytes + 1)
    df.repartition(n_shards).write.format(fmt).mode("overwrite").save(path)
    return n_shards
