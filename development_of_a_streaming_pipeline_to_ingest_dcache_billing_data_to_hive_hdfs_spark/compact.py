"""Partition compaction: rewrite small micro-batch files into few large ones.

Reference parity: ``Streaming.repartition`` (`Dcache_kafka_to_hive.py:354-385`)
+ the partition policy CLI (`run_compact_tables.py:23-25,47-58`). Fixed /
upgraded, per SURVEY §2.6 and §4:

- **Partition-list bug fixed** (`:366-372`): the reference computes the
  partition list once while it is None, so tables 2-4 are compacted with
  table 1's partitions. Here enumeration is per table.
- **No staging table**: the reference round-trips every partition through a
  ``temporal`` table that it never drops (`:382-385`). Here the rewrite is
  read → coalesce → dynamic-partition overwrite, straight back to the table.
- **Size-targeted output, not 1 file**: the reference hard-codes
  ``repartition(1)`` (`:380`) — a full shuffle to one task, which at 100 TB
  is both a straggler and a >HDFS-block file. Here the file count is
  ``ceil(partition bytes / target_bytes)`` (default 512 MB) via
  ``coalesce`` — no shuffle at all.

All file operations route through the ``fs`` abstraction (fs.py): the
two-rename swap and its crash self-heal run unchanged against bare
local paths and ``hdfs://``/``file://`` URIs (rename is a metadata op
on HDFS — exactly what the swap protocol assumes).
"""

from __future__ import annotations

import datetime as dt
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fs import HIDDEN_PREFIXES, get_filesystem
from .schema import DEFAULT_PARTITION_NAME, PARTITION_FIELD
from .sink import compacted_prefix, resolve_table_ledger

DEFAULT_TARGET_BYTES = 512 * 1024 * 1024


def zorder_key(
    bounds: dict[str, tuple[float, float]], bits: int = 8
) -> "F.Column":
    """Morton (Z-order) interleave key over 2+ numeric columns: each
    column is linearly bucketed to ``bits`` bits inside its [lo, hi]
    bounds (values outside clamp to the edge buckets, NULLs to bucket
    0), then the per-column bucket bits are interleaved. Sorting by
    this key clusters rows so that EVERY keyed column's value range is
    narrow within every output file — linear ``cluster_by`` gives
    tight parquet min/max stats on the leading column only, Z-order
    gives ~sqrt-of-file-count coverage on all of them, so predicates
    on ANY keyed column skip most files at 100 TB. Linear in-bounds
    bucketing is the standard practice (Iceberg's fixed-width byte
    mapping; Delta OSS uses range-partition ids); [p01, p99] bounds
    keep tail outliers from collapsing the useful resolution into one
    bucket. Pure codegen'd integer bit arithmetic — no UDF, no shuffle
    of its own. ``bits`` is capped so the interleave fits a signed
    64-bit key (bits × n_cols ≤ 63): JVM shift counts wrap mod 64, so
    an uncapped 9-column × 8-bit key would silently scramble the high
    bit-planes into the low positions instead of overflowing loudly."""
    cols = list(bounds)
    bits = min(bits, 63 // max(1, len(cols)))
    max_bucket = (1 << bits) - 1
    buckets = []
    for c, (lo, hi) in bounds.items():
        span = (hi - lo) or 1.0  # degenerate column: everything → bucket 0
        raw = F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * (1 << bits))
        buckets.append(
            F.coalesce(
                F.greatest(F.least(raw, F.lit(max_bucket)), F.lit(0)),
                F.lit(0),
            ).cast("bigint")
        )
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, b in enumerate(buckets):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), i * len(cols) + j)
            )
    return z


def _zorder_bounds(
    df: DataFrame, cols: list[str]
) -> dict[str, tuple[float, float]]:
    """[p01, p99] per column, one small aggregate (a bounded 2×n-column
    driver collect — the same class as the IVF train sample)."""
    aggs = []
    for c in cols:
        aggs += [
            F.approx_percentile(F.col(c).cast("double"), F.lit(0.01)).alias(f"{c}__lo"),
            F.approx_percentile(F.col(c).cast("double"), F.lit(0.99)).alias(f"{c}__hi"),
        ]
    row = df.agg(*aggs).first()
    return {
        c: (
            row[f"{c}__lo"] if row[f"{c}__lo"] is not None else 0.0,
            row[f"{c}__hi"] if row[f"{c}__hi"] is not None else 0.0,
        )
        for c in cols
    }


def resolve_partition_policy(policy: str, today: dt.date | None = None) -> list[str] | None:
    """'yesterday' (default) / 'all' / comma-separated YYYY-MM-DD list
    ≙ `run_compact_tables.py:47-58`. Returns None for 'all' (= enumerate
    per table)."""
    if policy == "all":
        return None
    if policy == "yesterday":
        base = today or dt.date.today()
        return [(base - dt.timedelta(days=1)).isoformat()]
    return [p.strip() for p in policy.split(",") if p.strip()]


def list_partitions(
    spark: SparkSession,
    path: str,
    fs=None,
    partition_field: str = PARTITION_FIELD,
) -> list[str]:
    """Enumerate partition values of a path-based table from the
    directory layout. Pure metadata — no data scan, no RDD (the reference
    collects an RDD off SHOW PARTITIONS, `:369-372`). ``partition_field``
    defaults to the billing day key; corpus tables laid out by another
    field (e.g. ``source``) pass theirs."""
    fs = fs or get_filesystem(path, spark)
    prefix = partition_field + "="
    return sorted(
        d[len(prefix):]
        for d, is_dir in fs.list_entries(path)
        if is_dir
        and d.startswith(prefix)
        # a crashed legacy swap could leave 'partition_date=X._compacting';
        # never parse scratch suffixes as partition values
        and "._" not in d
    )


def _partition_files(
    fs, path: str, partition: str, partition_field: str = PARTITION_FIELD
) -> list[tuple[str, int]]:
    """(name, size) of the DATA files of one partition — the single
    definition of 'data file' (hidden/underscore names excluded) shared
    by sizing and health stats."""
    pdir = os.path.join(path, f"{partition_field}={partition}")
    return [
        (name, size)
        for name, size in fs.list_files_recursive(pdir)
        if not name.startswith(HIDDEN_PREFIXES)
    ]


_RETIRED_PREFIX = "._compact_old_"
_SCRATCH_PREFIX = "._compact_new_"


def recover_crashed_compactions(path: str, only: str | None = None, fs=None) -> list[str]:
    """Finish any swap a previous compaction crashed in the middle of.
    A '._compact_old_P' dir with the partition present means the swap
    completed but cleanup didn't (drop the retired copy); WITHOUT the
    partition it means the crash hit between the two renames (restore
    the original). Stale '._compact_new_P' scratch writes are dropped.
    Returns the partition values that were restored.

    ``only``: heal that one partition, probing its two scratch names
    directly — the table root is not listed, so the cost does not grow
    with the table's history."""
    fs = fs or get_filesystem(path)
    if only is None:
        names = [d for d, _is_dir in fs.list_entries(path)]
    else:
        names = [
            d
            for d in (_RETIRED_PREFIX + only, _SCRATCH_PREFIX + only)
            if fs.exists(os.path.join(path, d))
        ]
    restored = []
    for d in names:
        if d.startswith(_RETIRED_PREFIX):
            p = d[len(_RETIRED_PREFIX):]
            pdir = os.path.join(path, f"{PARTITION_FIELD}={p}")
            if fs.is_dir(pdir):
                fs.delete(os.path.join(path, d), recursive=True)
            else:
                fs.rename(os.path.join(path, d), pdir)
                restored.append(p)
        elif d.startswith(_SCRATCH_PREFIX):
            fs.delete(os.path.join(path, d), recursive=True)
    return restored


def compact_partition(
    spark: SparkSession,
    path: str,
    partition: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    cluster_by: list[str] | None = None,
    known_bytes: int | None = None,
    fs=None,
    zorder_by: list[str] | None = None,
    file_stats_for: list[str] | None = None,
    allow_unbucket: bool = False,
    bloom_for: list[str] | None = None,
    bloom_ndv: int = 1_000_000,
) -> int:
    """Rewrite one day-partition to ~target_bytes files. Returns the file
    count written. ≙ `Dcache_kafka_to_hive.py:376-385` minus the staging
    table and the repartition(1) shuffle. ``known_bytes``: partition size
    already measured by the caller (only_needed's stats pass) — skips a
    second full metadata listing of the same directory.

    Refuses BUCKETED data files (the ``_NNNNN`` bucket-id suffix Spark
    writes for bucketBy tables) unless ``allow_unbucket=True``: this
    rewrite is a plain coalesce that would silently destroy the bucket
    layout the fingerprint/band stores and co-located joins rely on —
    every later "bucket-local" read would return wrong joins, not
    errors. Bucketed stores compact through
    ``operators.dedup.rewrite_bucketed_table`` instead, which preserves
    the layout.

    ``cluster_by``: optionally range-partition + sort the rewrite on the
    given columns, so each output file covers a disjoint key range and
    every file/row-group carries tight parquet min/max stats — point and
    range predicates on those columns then skip whole files at plan time
    instead of scanning the day. Costs one shuffle (vs the shuffle-free
    coalesce); worth it for the clustering read-pattern at scale.

    ``zorder_by`` (mutually exclusive with ``cluster_by``): rewrite in
    Morton Z-order over 2+ numeric columns — every keyed column gets
    narrow per-file min/max stats, not just the leading one, so
    predicates on ANY of them prune files. Same single shuffle as
    ``cluster_by`` plus one tiny bounds aggregate.

    ``bloom_for``: write parquet BLOOM FILTERS for the named columns —
    the POINT-lookup complement to the range-pruning layouts above.
    min/max stats (cluster_by/zorder/filestats) cannot prune
    high-cardinality hash-like columns (pnfsid, session ids: every
    file spans the full value range), and dictionary filtering dies
    exactly when cardinality forces the dict-page fallback; a bloom
    filter skips whole ROW GROUPS for `col = x` probes with no false
    negatives (measured here: a 2-row-group scan drops to the single
    matching group — tests/test_layout_optimizations.py). Costs
    ~1.2 bytes/ndv per file at write time, nothing at read time for
    non-matching groups. ``bloom_ndv``: expected distinct values PER
    FILE (size it to rows-per-file; oversizing wastes footer bytes,
    undersizing raises the false-positive rate and with it unskipped
    groups)."""
    fs = fs or get_filesystem(path, spark)
    pdir = os.path.join(path, f"{PARTITION_FIELD}={partition}")
    # Scratch dirs live beside the partition, dot-prefixed: Spark's file
    # listing skips hidden dirs and list_partitions never sees them (a
    # scratch name starting with 'partition_date=' would be parsed as a
    # bogus partition value by any reader that lists the table).
    tmp = os.path.join(path, _SCRATCH_PREFIX + partition)
    retired = os.path.join(path, _RETIRED_PREFIX + partition)
    recover_crashed_compactions(path, only=partition, fs=fs)
    import re as _re

    files = _partition_files(fs, path, partition)
    bucketed = [
        name for name, _sz in files if _re.search(r"_\d{5}\.c\d{3}\.", name)
    ]
    if bucketed and not allow_unbucket:
        raise ValueError(
            f"compact_partition: partition {partition!r} of {path} holds "
            f"{len(bucketed)} BUCKETED data file(s) (e.g. {bucketed[0]}) — "
            "a coalesce rewrite would silently destroy the bucket layout "
            "that bucket-local joins and the fingerprint/band stores "
            "depend on. Use operators.dedup.rewrite_bucketed_table (which "
            "preserves the layout), or pass allow_unbucket=True to "
            "deliberately flatten it."
        )
    size = known_bytes if known_bytes is not None else sum(n for _f, n in files)
    n_files = max(1, math.ceil(size / target_bytes))
    # mergeSchema: after additive schema evolution
    # (warehouse.evolve_table_add_columns) a partition can mix pre- and
    # post-evolution files; the default single-footer schema inference
    # would adopt whichever file it samples — sampling an OLD file makes
    # this rewrite silently DROP every evolved column's values. Footer
    # merging reads only metadata (distributed, one footer per file) and
    # the rewrite reads all those files anyway.
    df = spark.read.option("mergeSchema", "true").parquet(pdir)
    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    if zorder_by:
        numeric = {
            "tinyint", "smallint", "int", "bigint", "float", "double",
        }
        bad = [
            (c, t)
            for c, t in df.dtypes
            if c in zorder_by
            and t.split("(")[0] not in numeric | {"decimal"}
        ]
        if bad:
            # a string column casts to NULL double: every bucket would
            # be 0, the z-key constant, and repartitionByRange would
            # funnel the whole partition into ONE file — fail loudly
            raise ValueError(f"zorder_by needs numeric columns, got: {bad}")
        bounds = _zorder_bounds(df, zorder_by)
        if all(lo == hi for lo, hi in bounds.values()):
            # every keyed column is constant/all-NULL: no clustering
            # signal exists; keep the shuffle-free size-targeted layout
            df = df.coalesce(n_files)
        else:
            df = (
                df.withColumn("__zorder", zorder_key(bounds))
                .repartitionByRange(n_files, F.col("__zorder"))
                .sortWithinPartitions("__zorder")
                .drop("__zorder")
            )
    elif cluster_by:
        cols = [F.col(c) for c in cluster_by]
        df = df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)
    else:
        df = df.coalesce(n_files)
    # Rewrite through the scratch dir then swap with two renames
    # (retire-old → promote-new → delete-old). The partition is absent
    # only between the two renames — metadata ops — instead of for the
    # whole delete of the old data; any crash leaves either the original
    # or the compacted data recoverable (and the self-heal above
    # finishes the job on the next run).
    writer = df.write.mode("overwrite")
    for c in bloom_for or []:
        if c not in df.columns:
            raise ValueError(f"bloom_for column not in table: {c!r}")
        writer = writer.option(
            f"parquet.bloom.filter.enabled#{c}", "true"
        ).option(f"parquet.bloom.filter.expected.ndv#{c}", str(bloom_ndv))
    writer.parquet(tmp)
    # The compacted files hold state through the max committed batch M.
    # Stamping M into their names before the swap makes it visible in
    # the same rename as the data, so time-travel/change-feed reads
    # below M fail fast from then on, whatever crashes later. A ledger
    # read error propagates here, before anything is swapped; a table
    # without a ledger (not an exactly-once warehouse) stays unstamped.
    found = resolve_table_ledger(path, fs)
    if found and found[1]:
        prefix = compacted_prefix(max(found[1]))
        # a local store's checksum file follows its data file (both
        # impls' rename moves it along)
        for name, is_dir in fs.list_entries(tmp):
            if not is_dir and not name.startswith(HIDDEN_PREFIXES):
                fs.rename(os.path.join(tmp, name), os.path.join(tmp, prefix + name))
    fs.rename(pdir, retired)
    fs.rename(tmp, pdir)
    fs.delete(retired, recursive=True)
    if file_stats_for:
        # after the swap: a crash leaves fresh stats or none, never
        # stats describing files that no longer exist (pruning fails
        # open on unknown files either way)
        from .filestats import write_file_stats

        write_file_stats(spark, path, partition, file_stats_for, fs=fs)
    return n_files


def table_stats(
    spark: SparkSession,
    path: str,
    partitions: list[str] | None = None,
    fs=None,
    partition_field: str = PARTITION_FIELD,
) -> dict[str, dict[str, int]]:
    """Per-partition file-layout health: data-file count and bytes —
    the input to 'which partitions actually need compacting'. Pure
    metadata (FS listing), no data read at any scale; pass
    ``partitions`` to stat only those (a nightly --partition yesterday
    run must not list every file of every day the table owns)."""
    fs = fs or get_filesystem(path, spark)
    out: dict[str, dict[str, int]] = {}
    parts = (
        partitions
        if partitions is not None
        else list_partitions(spark, path, fs=fs, partition_field=partition_field)
    )
    for p in parts:
        files = _partition_files(fs, path, p, partition_field)
        out[p] = {"n_files": len(files), "bytes": sum(sz for _n, sz in files)}
    return out


def expire_partitions(
    spark: SparkSession,
    path: str,
    *,
    before: str | None = None,
    keep_days: int | None = None,
    today: dt.date | None = None,
    include_default_partition: bool = False,
    fs=None,
) -> list[str]:
    """Retention: drop day-partitions strictly OLDER than the cutoff —
    ``before`` (an exclusive YYYY-MM-DD bound) or ``keep_days`` (cutoff
    = today − keep_days). Returns the partition values dropped (sorted).

    Pure metadata + delete: partition enumeration from the directory
    layout, lexicographic compare (ISO dates order correctly as
    strings), recursive delete per expired partition through the FS
    abstraction — no data is read at any scale. A crashed compaction's
    scratch dirs are healed FIRST so a partition stranded mid-swap is
    restored before the cutoff is applied (its retired copy would
    otherwise dodge or double the delete)."""
    if (before is None) == (keep_days is None):
        raise ValueError("pass exactly one of before= / keep_days=")
    if keep_days is not None:
        # same destructive-typo class as the non-canonical `before` below:
        # a sign slip (--retain-days -90, or a bad cron-template
        # substitution) computes a FUTURE cutoff and expires every dated
        # partition the table owns while reporting success. Zero is
        # refused too — "keep nothing older than today" deletes all of
        # history up to this morning; an operator who truly wants that
        # states it explicitly via before=.
        if keep_days < 1:
            raise ValueError(
                f"expire_partitions: keep_days={keep_days} must be >= 1 "
                "— a non-positive retention would expire every partition "
                "up to (or beyond) today; pass an explicit before= cutoff "
                "if that is really intended"
            )
        base = today or dt.date.today()
        before = (base - dt.timedelta(days=keep_days)).isoformat()
    else:
        # the cutoff drives RECURSIVE DELETES via lexicographic compare,
        # so it must be canonical ISO (zero-padded): "2024-3-1" — a
        # realistic typo — sorts AFTER every "2024-0x"/"2024-1x"
        # partition and would silently expire the whole year
        try:
            canonical = dt.date.fromisoformat(before).isoformat()
        except ValueError as e:
            raise ValueError(
                f"expire_partitions: before={before!r} is not a date"
            ) from e
        if canonical != before:
            raise ValueError(
                f"expire_partitions: before={before!r} is not canonical "
                f"YYYY-MM-DD (did you mean {canonical!r}?) — refusing a "
                "cutoff whose string ordering diverges from date ordering"
            )
    fs = fs or get_filesystem(path, spark)
    recover_crashed_compactions(path, fs=fs)
    dropped = sorted(
        p
        for p in list_partitions(spark, path, fs=fs)
        if p < before and p != DEFAULT_PARTITION_NAME
    )
    # the NULL (__HIVE_DEFAULT_PARTITION__) partition has no date, so the
    # lexicographic cutoff can NEVER expire it ('_' > '9') — without the
    # explicit opt-in it would grow unboundedly while --retain-days
    # reports success
    if include_default_partition:
        ddir = os.path.join(
            path, f"{PARTITION_FIELD}={DEFAULT_PARTITION_NAME}"
        )
        if fs.is_dir(ddir):
            dropped.append(DEFAULT_PARTITION_NAME)
    for p in dropped:
        fs.delete(os.path.join(path, f"{PARTITION_FIELD}={p}"), recursive=True)
    return sorted(dropped)


def compact_table(
    spark: SparkSession,
    path: str,
    partitions: list[str] | None = None,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    cluster_by: list[str] | None = None,
    only_needed: bool = False,
    fs=None,
    zorder_by: list[str] | None = None,
    file_stats_for: list[str] | None = None,
    bloom_for: list[str] | None = None,
    bloom_ndv: int = 1_000_000,
) -> dict[str, int]:
    """Compact the given (or all) partitions of one table path. Partition
    enumeration happens here, per table — the reference's cross-table
    partition-list reuse bug (`:366-372`) cannot recur. Crashed swaps
    from a previous run are healed BEFORE enumeration, so a partition
    stranded mid-swap is restored and compacted rather than skipped.

    ``only_needed``: skip partitions already at their target layout
    (file count ≤ ceil(bytes/target)) — an FS-metadata check, so nightly
    maintenance over a mostly-compacted table rewrites only the
    fragmented days instead of re-shuffling every byte it owns. Not
    applied when ``cluster_by``/``zorder_by`` is set (the stats can't
    see whether the existing files are clustered)."""
    fs = fs or get_filesystem(path, spark)
    recover_crashed_compactions(path, fs=fs)
    existing = list_partitions(spark, path, fs=fs)
    parts = existing if partitions is None else [p for p in partitions if p in existing]
    known: dict[str, int] = {}
    if only_needed and not cluster_by and not zorder_by:
        stats = table_stats(spark, path, partitions=parts, fs=fs)
        parts = [
            p
            for p in parts
            if stats[p]["n_files"]
            > max(1, math.ceil(stats[p]["bytes"] / target_bytes))
        ]
        known = {p: stats[p]["bytes"] for p in parts}
    return {
        p: compact_partition(
            spark, path, p, target_bytes, cluster_by,
            known_bytes=known.get(p), fs=fs, zorder_by=zorder_by,
            file_stats_for=file_stats_for, bloom_for=bloom_for,
            bloom_ndv=bloom_ndv,
        )
        for p in parts
    }


SNAPSHOT_HORIZON_FILE = "_snapshot_horizon.json"


def expire_snapshots(
    warehouse: str,
    *,
    up_to_batch: int | None = None,
    fs=None,
) -> dict[str, int]:
    """Retention for TIME-TRAVEL state: declare every snapshot below a
    horizon expired, and drop the per-batch metadata that served it.

    Compaction collapses batch-named files into ``compacted<M>-`` ones,
    which makes ``read_table_as_of`` points below M unreconstructible
    (those reads fail on the stamp). This operator makes the
    lifecycle explicit: record ``horizon`` (the first still-valid as-of
    batch id) in ``_snapshot_horizon.json`` at the warehouse root, and
    delete ``_metrics/batch-<id>.json`` files below it (bounded
    metadata that would otherwise grow forever). Reads below the
    horizon then fail FAST with an operator-set reason, and
    ``table_snapshots`` stops advertising them.

    The exactly-once ledger is deliberately NOT pruned: it is one int
    per batch, and a from-scratch checkpoint reset replays batch ids
    from 0 — the full ledger is what keeps that replay duplicate-free.

    ``up_to_batch``: explicit horizon; default = the max committed
    batch id (i.e. "only the current state and later batches are
    readable as-of" — the right call immediately after compacting).
    The horizon is monotonic: lowering it would re-advertise snapshots
    whose metadata is already gone, so that is refused.

    Scale: pure metadata — one ledger read, one listing of _metrics/,
    bounded deletes. No data file is touched at any warehouse size.
    """
    import json as _json

    from .sink import batch_metrics_files, ledger_path, read_ledger

    fs = fs or get_filesystem(warehouse)
    committed = sorted(read_ledger(ledger_path(warehouse), fs) or ())
    if up_to_batch is None:
        if not committed:
            raise ValueError(
                "expire_snapshots: no committed batches and no explicit "
                "up_to_batch — nothing to expire"
            )
        horizon = max(committed)
    else:
        horizon = int(up_to_batch)
        if committed and horizon > max(committed):
            raise ValueError(
                f"expire_snapshots: up_to_batch={horizon} exceeds the max "
                f"committed batch id {max(committed)} — that would expire "
                "the CURRENT table state"
            )
    horizon_path = os.path.join(warehouse, SNAPSHOT_HORIZON_FILE)
    prev_doc = read_ledger(horizon_path, fs)
    prev = int(prev_doc["horizon"]) if prev_doc else 0
    if horizon < prev:
        raise ValueError(
            f"expire_snapshots: horizon is monotonic — refusing to lower "
            f"it from {prev} to {horizon} (the expired metadata is gone)"
        )
    removed = 0
    for bid, metrics in batch_metrics_files(warehouse, fs).items():
        if bid < horizon:
            fs.delete(metrics)
            removed += 1
    fs.write_text_atomic(
        horizon_path,
        _json.dumps(
            {
                "horizon": horizon,
                "expired_at": dt.datetime.now(dt.timezone.utc).isoformat(),
            },
            sort_keys=True,
        ),
    )
    return {"horizon": horizon, "metrics_removed": removed}
