"""Warehouse DDL / catalog lifecycle for the four route tables.

≙ the ``Tables`` class (`Dcache_kafka_to_hive.py:144-269`): per-table
CREATE (S3-S6), bulk DROP (S7 `:264-266`), SHOW TABLES (S8 `:268-269`),
USE database (S9 `:159`), SHOW PARTITIONS + parse (S10 `:268-272`).

Differences, deliberate:

- One source of truth: table schemas derive from ``BILLING_SCHEMA`` +
  ``ROUTE_COLUMNS`` instead of four hand-written DDL strings that must
  stay in sync with the parser's select lists (SURVEY §1.3).
- Identifiers are validated instead of f-string-interpolated raw into
  SQL (the reference is injection-prone, SURVEY §3.3).
- Partition enumeration is a DataFrame expression over SHOW PARTITIONS —
  no driver-side RDD collect/map (`:369-372`).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import BILLING_SCHEMA, PARTITION_FIELD, ROUTE_COLUMNS

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_ident(name: str) -> str:
    if not _IDENT.match(name):
        raise ValueError(f"invalid SQL identifier: {name!r}")
    return name


def route_table_schema(route: str) -> T.StructType:
    """Typed schema of one route table (contract columns + partition)."""
    flat_types: dict[str, T.DataType] = {}
    for f in BILLING_SCHEMA.fields:
        if f.name == "status":
            flat_types["status_msg"] = T.StringType()
            flat_types["status_code"] = T.IntegerType()
        elif f.name == "protocolInfo":
            flat_types["protocolInfo_protocol"] = T.StringType()
            flat_types["protocolInfo_port"] = T.IntegerType()
            flat_types["protocolInfo_host"] = T.StringType()
        else:
            flat_types[f.name] = f.dataType
    fields = [T.StructField(c, flat_types[c]) for c in ROUTE_COLUMNS[route]]
    fields.append(T.StructField(PARTITION_FIELD, T.StringType()))
    return T.StructType(fields)


def use_database(spark: SparkSession, database: str) -> None:
    """≙ `use {database}` at :159, via the catalog API."""
    _check_ident(database)
    if not spark.catalog.databaseExists(database):
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    spark.catalog.setCurrentDatabase(database)


def create_route_table(
    spark: SparkSession, route: str, table: str, location: str | None = None
) -> None:
    """CREATE a partitioned Parquet route table ≙ create_* (:161-262)."""
    _check_ident(table.replace(".", "_"))
    schema = route_table_schema(route)
    ddl_cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({ddl_cols}) USING PARQUET "
        f"PARTITIONED BY ({PARTITION_FIELD}){loc}"
    )


def evolve_table_add_columns(
    spark: SparkSession, table: str, fields: list[T.StructField] | T.StructType
) -> T.StructType:
    """Additive schema evolution on a catalog Parquet table: ``ALTER
    TABLE … ADD COLUMNS``. Returns the post-evolution schema.

    The reference's DDL is frozen at create time
    (`Dcache_kafka_to_hive.py:161-262`) — a new billing field means
    hand-editing four DDL strings and re-creating tables. Here
    evolution is a metadata-only catalog operation: NO data files are
    rewritten (old Parquet footers simply lack the column and scan as
    NULL — verified behavior, not convention), so it is O(1) regardless
    of table size — the only schema-change shape that is viable at
    100 TB.

    Additive-only by design: drops/renames/retypes on Parquet would
    orphan or reinterpret existing footer data; they belong to a full
    rewrite (compact.py), not DDL. Guards: identifier validation, no
    collision with existing columns (case-insensitive — Spark's
    resolver is), never the partition column. New columns append after
    the existing DATA columns; the partition column stays last in scan
    order, so ``align_to_table`` (not positional ``insertInto``) is how
    writers survive evolution — see ``sink.write_partitioned_table``.
    """
    if isinstance(fields, T.StructType):
        fields = list(fields.fields)
    if not fields:
        raise ValueError("evolve_table_add_columns: no columns to add")
    _check_ident(table.replace(".", "_"))
    existing = {f.name.lower() for f in spark.table(table).schema.fields}
    seen: set[str] = set()
    for f in fields:
        _check_ident(f.name)
        low = f.name.lower()
        if low == PARTITION_FIELD.lower():
            raise ValueError(
                f"cannot add the partition column {PARTITION_FIELD!r}"
            )
        if low in existing or low in seen:
            raise ValueError(f"column already exists: {f.name!r}")
        seen.add(low)
    ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in fields
    )
    spark.sql(f"ALTER TABLE {table} ADD COLUMNS ({ddl})")
    return spark.table(table).schema


def align_to_table(
    df: DataFrame, table: str, on_extra: str = "error"
) -> DataFrame:
    """Project ``df`` into a catalog table's column ORDER by NAME,
    filling columns the frame lacks with typed NULLs.

    ``insertInto`` is positional: after ``evolve_table_add_columns`` a
    pre-evolution writer fails on arity — or worse, two type-compatible
    columns in a scrambled frame write into each other's slots with no
    error at all. Name-based alignment makes writer frames immune to
    both catalog evolution and frame column order. A pure projection:
    codegen'd, zero shuffle, free at any scale.

    ``on_extra``: ``"error"`` (default) rejects frame columns the table
    doesn't have — an UNEVOLVED table receiving evolved frames is a
    deployment-order bug that must be loud, not silently thinned;
    ``"drop"`` opts into discarding them (canary writers emitting a
    field the fleet hasn't migrated to yet).
    """
    if on_extra not in ("error", "drop"):
        raise ValueError(f"on_extra must be 'error' or 'drop': {on_extra!r}")
    schema = df.sparkSession.table(table).schema
    by_lower = {c.lower(): c for c in df.columns}
    if len(by_lower) != len(df.columns):
        dupes = sorted(
            {c.lower() for c in df.columns if sum(
                1 for o in df.columns if o.lower() == c.lower()) > 1}
        )
        raise ValueError(f"frame has case-colliding columns: {dupes}")
    table_lower = {f.name.lower() for f in schema.fields}
    extras = [c for c in df.columns if c.lower() not in table_lower]
    if extras and on_extra == "error":
        raise ValueError(
            f"frame has columns not in {table}: {extras} "
            "(evolve the table first, or pass on_extra='drop')"
        )
    cols = [
        F.col(by_lower[f.name.lower()]).alias(f.name)
        if f.name.lower() in by_lower
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ]
    return df.select(cols)


def drop_tables(spark: SparkSession, tables: list[str]) -> None:
    """≙ delete_tables (:264-266)."""
    for t in tables:
        _check_ident(t.replace(".", "_"))
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def show_tables(spark: SparkSession) -> DataFrame:
    """≙ Tables.show (:268-269), returned as a DataFrame not stdout."""
    return spark.sql("SHOW TABLES")


def table_partitions(spark: SparkSession, table: str) -> DataFrame:
    """Partition values of a catalog table as a single-column DataFrame
    ≙ SHOW PARTITIONS + RDD parse (:369-372), without the RDD."""
    _check_ident(table.replace(".", "_"))
    parts = spark.sql(f"SHOW PARTITIONS {table}")
    col = parts.columns[0]
    return parts.select(
        F.split(F.col(col), "=").getItem(1).alias(PARTITION_FIELD)
    )


def warehouse_summary(spark: SparkSession, warehouse_dir: str) -> dict:
    """Operational snapshot of a path-based warehouse: per table the
    partition count, data-file count and bytes (pure FS metadata — no
    data scan at any scale), plus the ingest ledger's committed-batch
    count and the latest per-batch metrics entry. The one-call health
    surface for 'is the feed alive and is the layout sane'.

    Tables may be partitioned by ANY field — the partition prefix is
    detected per table from its directory names (billing routes use
    partition_date, corpus tables use source), so none are invisible
    to the summary."""
    import json as _json
    import os as _os

    from .compact import list_partitions, table_stats
    from .fs import get_filesystem
    from .sink import batch_metrics_files, ledger_path, read_ledger

    fs = get_filesystem(warehouse_dir, spark)
    out: dict = {"tables": {}, "batches_committed": 0, "last_batch": None}
    for name, is_dir in fs.list_entries(warehouse_dir):
        if not is_dir or name.startswith(("_", ".")):
            continue
        path = _os.path.join(warehouse_dir, name)
        # detect the partition field from the directory layout
        fields = {
            d.split("=", 1)[0]
            for d, dd in fs.list_entries(path)
            if dd and "=" in d and not d.startswith(("_", "."))
        }
        if len(fields) != 1:
            continue  # not a (single-field) partitioned table dir
        pf = next(iter(fields))
        parts = list_partitions(spark, path, fs=fs, partition_field=pf)
        stats = table_stats(
            spark, path, partitions=parts, fs=fs, partition_field=pf
        )
        # the NULL partition sorts after every date ('_' > '9') — as
        # "newest" it would permanently mask a stalled feed behind one
        # historic malformed record, the exact condition this health
        # surface exists to expose; oldest/newest therefore consider
        # dated partitions only (the NULL one stays in n_partitions).
        # A table whose only partition-shaped dirs are crashed-swap
        # scratch artifacts yields parts == [] — report it, not crash,
        # while an operator is diagnosing exactly that state.
        from .schema import DEFAULT_PARTITION_NAME

        dated = [p_ for p_ in parts if p_ != DEFAULT_PARTITION_NAME]
        out["tables"][name] = {
            "partition_field": pf,
            "n_partitions": len(parts),
            "n_files": sum(s["n_files"] for s in stats.values()),
            "bytes": sum(s["bytes"] for s in stats.values()),
            "oldest_partition": dated[0] if dated else None,
            "newest_partition": dated[-1] if dated else None,
        }
    # same corrupt-file tolerance as the pipeline itself (a truncated
    # ledger must not crash the health surface an operator reads while
    # diagnosing a crash)
    out["batches_committed"] = len(
        set(read_ledger(ledger_path(warehouse_dir), fs) or ())
    )
    # last batch by NUMERIC id — a lexicographic name sort reports
    # batch-9 forever once batch-10 exists
    metrics = batch_metrics_files(warehouse_dir, fs)
    if metrics:
        try:
            out["last_batch"] = _json.loads(fs.read_text(metrics[max(metrics)]))
        except (FileNotFoundError, _json.JSONDecodeError):
            pass
    return out


def _scan_orphan_batches(warehouse_dir: str, fs):
    """One listing per table: yields ``(table, table dir, committed ids,
    {uncommitted batch id: [file paths]})`` for every table dir of the
    warehouse."""
    import os as _os

    from .sink import batch_files, ledger_path, read_ledger

    wh_committed = set(read_ledger(ledger_path(warehouse_dir), fs) or ())
    for table, is_dir in fs.list_entries(warehouse_dir):
        if not is_dir or table.startswith(("_", ".")):
            continue
        tdir = _os.path.join(warehouse_dir, table)
        # the union of both levels, unlike the reads (see the audit)
        committed = wh_committed | set(read_ledger(ledger_path(tdir), fs) or ())
        # promoted locations only — files inside hidden staging dirs
        # belong to a batch mid-write, not to an orphan
        named = batch_files(tdir, fs)[0]
        orphans = {b: files for b, files in named.items() if b not in committed}
        yield table, tdir, committed, orphans


def audit_orphan_batches(warehouse_dir: str, fs=None) -> dict[str, dict[int, int]]:
    """Find data files whose embedded batch id was never committed to
    the ledger — the residue of a crashed micro-batch whose stream was
    then ABANDONED (a restarted stream self-heals by replaying the
    batch; nothing heals a stream that never comes back, and until then
    those files are visible to readers as at-least-once duplicates).

    Returns {table: {batch_id: n_files}} for uncommitted ids. Pure FS
    metadata (name-scoped batch files + the tiny ledger) — no data
    read at any scale. Committed ids are the UNION of the
    warehouse-level ledger and the table's own ledger, if it has one.
    That is deliberately not the reads' rule (``sink.resolve_table_ledger``:
    the table-local ledger first, else the warehouse one): this audit
    feeds deletion, which cannot be undone, so a batch that EITHER
    ledger records as committed is never flagged and never deleted.
    Files without a batch prefix (compaction rewrites) are never
    flagged — compaction deliberately collapses batch history."""
    from .fs import get_filesystem

    fs = fs or get_filesystem(warehouse_dir)
    return {
        table: {bid: len(files) for bid, files in sorted(orphans.items())}
        for table, _tdir, _committed, orphans in _scan_orphan_batches(
            warehouse_dir, fs
        )
        if orphans
    }


def remove_orphan_batches(
    warehouse_dir: str, fs=None, include_latest: bool = False
) -> dict[str, dict[int, int]]:
    """Delete the files ``audit_orphan_batches`` flags and any matching
    staging dirs, returning what was removed (same shape as the audit).
    The numerically-LARGEST uncommitted id per table is skipped unless
    ``include_latest=True``: without the shared maintenance lock it may
    be a batch mid-write right now; under the lock (ingest serialized)
    pass True to clean everything.

    Deletes from the audit's own listing (one pass over each table, not
    one per orphan id). Batch manifests and staging dirs
    (``sink.batch_manifests``, ``sink.batch_staging_ids``) join the
    sweep: an uncommitted id with a manifest or a staging dir but no
    visible file (a crash before the first promote rename, or before
    the manifest write) counts as an orphan too, so it can be the
    protected latest id, but it has no data file to count in the
    result. Every removed id loses its staging dir, listed files and
    manifest (``sink.undo_batch_attempt``). Manifests of committed ids
    — stale ones a crash between a ledger commit and the manifest's
    retirement left — are deleted. The temp files a crash inside a
    manifest's own atomic write left carry no usable batch id, so they
    are deleted only with ``include_latest=True``, when no batch can be
    writing one."""
    from .fs import get_filesystem
    from .sink import (
        batch_manifests,
        batch_staging_ids,
        retire_batch_manifest,
        undo_batch_attempt,
    )

    fs = fs or get_filesystem(warehouse_dir)
    removed: dict[str, dict[int, int]] = {}
    for table, tdir, committed, orphans in _scan_orphan_batches(
        warehouse_dir, fs
    ):
        manifested, temps = batch_manifests(tdir, fs)
        started = manifested | batch_staging_ids(tdir, fs)
        ids = sorted(set(orphans) | (started - committed))
        if not include_latest:
            ids = ids[:-1]
        for bid in ids:
            for f in orphans.get(bid, ()):
                fs.delete(f)
            undo_batch_attempt(tdir, bid, fs=fs)
            if bid in orphans:
                removed.setdefault(table, {})[bid] = len(orphans[bid])
        for bid in manifested & committed:
            retire_batch_manifest(tdir, bid, fs=fs)
        if include_latest:
            for f in temps:
                fs.delete(f)
    return removed


def analyze_table(
    spark: SparkSession,
    table: str,
    columns: list[str] | None = None,
    partitions: bool = True,
) -> dict:
    """Collect catalog statistics for the cost-based optimizer —
    ``ANALYZE TABLE ... COMPUTE STATISTICS`` (+ ``FOR COLUMNS`` when
    ``columns`` given, ``PARTITION`` stats for partitioned tables).
    Without stats, CBO falls back to file sizes: a table whose logical
    size shrinks after filters still looks too big to broadcast, and
    join reorders have nothing to go on. Nightly maintenance should run
    this after compaction (the reference's INSERT-OVERWRITE pipeline has
    no stats step at all — every plan it ever ran was size-guessed).

    Column stats (ndv/nulls/min/max) are what drive broadcast decisions
    and join reordering; restrict ``columns`` to join/filter keys —
    per-column NDV sketches over 100 TB are priced per column.

    Returns the post-analyze stats summary ({rows, bytes}) parsed from
    DESCRIBE EXTENDED, so callers (and tests) can assert stats landed.
    """
    _check_ident(table.replace(".", "_"))
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if partitions:
        from pyspark.errors import AnalysisException

        try:
            spark.sql(f"ANALYZE TABLE {table} PARTITION ({PARTITION_FIELD}) COMPUTE STATISTICS")
        except AnalysisException:
            # unpartitioned table or non-standard partition column — the
            # expected shape; infrastructure failures (metastore timeout,
            # FS permissions) must still surface to the maintenance job
            pass
    if columns:
        for c in columns:
            _check_ident(c)
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}")
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    stats_row = next(
        (r["data_type"] for r in desc if r["col_name"] == "Statistics"), ""
    )
    out: dict = {"raw": stats_row}
    import re as _re

    m = _re.search(r"(\d+)\s+bytes", stats_row)
    if m:
        out["bytes"] = int(m.group(1))
    m = _re.search(r"(\d+)\s+rows", stats_row)
    if m:
        out["rows"] = int(m.group(1))
    return out
