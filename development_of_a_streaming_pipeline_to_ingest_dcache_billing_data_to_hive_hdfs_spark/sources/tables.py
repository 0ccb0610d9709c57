"""Batch table loading for the star-schema testdata and warehouse tables.

≙ the reference's batch scans (`spark.sql("select * from db.t where
partition_date=…")`, `Dcache_kafka_to_hive.py:376-377`) — here expressed
as partition-pruned DataFrame reads. Filters/projections applied by
callers push down to the Parquet scan via Catalyst (verify with
``df.explain``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Tables whose parquet footers may declare TIMESTAMP(NANOS), which the
# Spark vectorized reader rejects (SPARK-40819). Such a file is read as
# raw nanos longs and converted to microsecond timestamps (Spark's
# native precision); see load_table.
NANOS_TS_COLUMNS: dict[str, list[str]] = {"events": ["ts"]}


# The session confs that change what parquet schema inference returns
# for the same files; part of every schema-cache key, so an entry
# inferred under one setting never serves another.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# (path, inference confs, file signature) → inferred StructType; cleared
# whole at 256 entries, like similarity's _AUTO_STRATEGY_CACHE.
_SCHEMA_CACHE: dict[tuple, StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a schema once per file
    set: the first read of a path infers it (one Spark job) and caches
    the ``StructType``; later reads pass it to ``spark.read.schema`` and
    start no job. The plan is the same either way (same FileScan, same
    ReadSchema).

    The key is the path, the session's inference confs and the
    (relative name, size, mtime) of every file at or under the path, so
    a rewritten file, an added file or a new partition dir is inferred
    afresh. The signature is taken BEFORE the inference: a file set that
    changes in between leaves its entry under a signature no later read
    computes, never a stale schema under the new one."""
    from ..fs import get_filesystem

    key = (
        path,
        tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
        tuple(sorted(get_filesystem(path, spark).file_stats(path))),
    )
    schema = _SCHEMA_CACHE.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if len(_SCHEMA_CACHE) >= 256:
        _SCHEMA_CACHE.clear()
    _SCHEMA_CACHE[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``<sf_dir>/<name>.parquet`` through :func:`read_parquet`.

    A ``NANOS_TS_COLUMNS`` table is read under the session's own
    ``nanosAsLong`` setting first; only when that inference fails with
    ``PARQUET_TYPE_ILLEGAL`` (a footer that declares TIMESTAMP(NANOS))
    is the conf set to true, the read repeated and the raw nanos longs
    converted to microsecond timestamps. The flip then stays on the
    session: Spark reads the conf again when the scan executes, so
    restoring it would fail the query. A MICROS footer leaves the conf,
    and so every schema-cache key, as it was."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    nanos_cols = NANOS_TS_COLUMNS.get(name, [])
    try:
        df = read_parquet(spark, path)
    except AnalysisException as e:
        if not nanos_cols or e.getCondition() != "PARQUET_TYPE_ILLEGAL":
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, path)
    for c in nanos_cols:
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def snapshot_horizon(path: str, fs=None) -> int:
    """The first still-valid as-of batch id, as recorded by
    ``compact.expire_snapshots`` (0 = never expired). Checked at the
    table dir and one level up (route tables share warehouse-level
    lifecycle files, exactly like the ledger). A missing or unparsable
    file counts as absent; any other read error propagates
    (``sink.read_ledger``)."""
    from ..compact import SNAPSHOT_HORIZON_FILE
    from ..fs import get_filesystem
    from ..sink import read_ledger

    fs = fs or get_filesystem(path)
    candidates = [
        os.path.join(path, SNAPSHOT_HORIZON_FILE),
        os.path.join(os.path.dirname(path.rstrip("/")), SNAPSHOT_HORIZON_FILE),
    ]
    for hp in candidates:
        doc = read_ledger(hp, fs)
        if doc is not None:
            return int(doc["horizon"])
    return 0


def compacted_as_of(path: str, fs=None) -> int:
    """The batch this table's compacted files hold state through: the
    newest ``compacted<M>-`` stamp compaction wrote into their names
    (−1 = none, never compacted or compacted without a ledger). Snapshots
    strictly below it are unreconstructible even when the snapshot
    horizon lags behind (a re-compaction without ``expire_snapshots``
    advances the stamp but not the horizon). The stamps are in the
    table's own files, so compacting one route table says nothing about
    a sibling's."""
    from ..fs import get_filesystem
    from ..sink import batch_files, compaction_stamp

    fs = fs or get_filesystem(path)
    return compaction_stamp(batch_files(path, fs)[1])


def table_snapshots(path: str, fs=None) -> list[int]:
    """Committed batch ids of a warehouse route table (its ledger's
    content) that are still READABLE ``as_of`` points — ids below an
    operator-set snapshot horizon (compact.expire_snapshots) are
    excluded, because their history was collapsed by compaction."""
    from ..fs import get_filesystem
    from ..sink import resolve_table_ledger

    fs = fs or get_filesystem(path)
    # a re-compaction after expiry can advance the unreconstructible
    # boundary past the horizon without touching it — advertise only
    # snapshots that are actually faithful
    horizon = max(snapshot_horizon(path, fs=fs), compacted_as_of(path, fs=fs))
    # route tables share the warehouse-level ledger one dir up; a
    # ledger kept inside the table dir by its batch writer takes
    # precedence (UpsertStreamWriter's _upsert_ledger.json is not a
    # batch ledger here: merge_into output carries no batch names)
    found = resolve_table_ledger(path, fs)
    return [i for i in sorted(found[1]) if i >= horizon] if found else []


def read_table_as_of(
    spark: SparkSession,
    path: str,
    batch_id: int,
    fs=None,
    allow_compacted: bool = False,
) -> DataFrame:
    """Snapshot read: the table as it stood after batch ``batch_id``
    committed — TIME TRAVEL the batch-named sink layout gives for free.
    Every data file the exactly-once sink promotes carries its batch id
    in the file NAME (``batch<id>-...``, sink.write_partitioned_batch),
    so "as of batch N" is a pure METADATA operation: list the partition
    dirs, keep files whose embedded id is ≤ N, and hand Spark that file
    list with ``basePath`` so partition columns still resolve. No data
    is copied, no log replayed, no extra storage kept.

    History exists until COMPACTION collapses it: a compacted partition's
    files carry no batch names, so a snapshot below the compaction
    point is unrecoverable. Their names carry that point instead
    (``compacted<M>-``, the max committed batch when compaction ran),
    and a snapshot below the newest M fails fast, whatever the horizon
    says. The lifecycle is operator-driven via
    ``compact.expire_snapshots``, which records the horizon H (= max
    committed batch at expiry time):

    - ``batch_id >= H``: compacted files ARE the faithful pre-horizon
      state (compaction ran at H), so they are included silently and
      batch-named files filter as usual — no error, no opt-in needed.
    - ``batch_id < H``: fails fast with the operator-set horizon in the
      message; ``allow_compacted=True`` is the explicit opt-in for a
      best-effort read (compacted partitions at their full current
      state, batch-named files still filtered).
    - no horizon recorded (H=0) and no stamp, but compacted files
      present (compacted without a ledger): loud failure, same
      ``allow_compacted`` opt-in."""
    from ..fs import get_filesystem
    from ..sink import batch_files, compaction_stamp

    fs = fs or get_filesystem(path, spark)
    horizon = snapshot_horizon(path, fs=fs)
    if batch_id < horizon and not allow_compacted:
        raise ValueError(
            f"read_table_as_of: snapshot at batch {batch_id} is EXPIRED — "
            f"expire_snapshots set the horizon to {horizon}, so pre-horizon "
            "history has been collapsed by compaction. Pass "
            "allow_compacted=True for a best-effort read (compacted "
            "partitions at their full current state)."
        )
    named, compacted = batch_files(path, fs)
    cao = compaction_stamp(compacted)
    if batch_id < cao and not allow_compacted:
        # the horizon can LAG the real unreconstructible boundary: a
        # re-compaction without expire_snapshots folds newer batches
        # into the compacted files, and silently including them here
        # would return rows from after the requested snapshot
        raise ValueError(
            f"read_table_as_of: snapshot at batch {batch_id} predates the "
            f"last compaction, which ran when batch {cao} was committed — "
            "the compacted files hold state through that batch, so the "
            "requested snapshot cannot be reconstructed (run "
            "expire_snapshots after compacting to make this lifecycle "
            "explicit). Pass allow_compacted=True for a best-effort read."
        )
    keep = [f for b, files in named.items() if b <= batch_id for f in files]
    if compacted and not allow_compacted and horizon == 0 and cao < 0:
        raise ValueError(
            f"read_table_as_of: {len(compacted)} file(s) under {path} have "
            "no batch name (compaction collapsed their history), e.g. "
            f"{compacted[0]} — a snapshot at batch {batch_id} cannot be "
            "reconstructed below the compaction horizon, and no horizon "
            "was recorded (run compact.expire_snapshots with compaction "
            "to make this lifecycle explicit). Pass allow_compacted=True "
            "to include compacted partitions at their full current state."
        )
    keep.extend(compacted)
    if not keep:
        return spark.read.parquet(path).limit(0)
    return spark.read.option("basePath", path).parquet(*keep)


def read_table_changes(
    spark: SparkSession,
    path: str,
    since_batch: int,
    until_batch: int | None = None,
    fs=None,
) -> DataFrame:
    """Incremental change feed over the batch-named exactly-once
    layout: all rows appended by batches in ``(since_batch,
    until_batch]`` (until defaults to everything), plus a derived
    ``_batch_id`` column. The append-only complement of
    ``read_table_as_of``: a downstream consumer remembers the last
    batch id it processed and reads only the increment — a METADATA
    file-list read like the snapshot path (no log, no copies, no full
    scan), because every promoted data file carries its batch id in its
    NAME (sink.write_partitioned_batch).

    ``_batch_id`` derives JVM-side from ``input_file_name()`` (one
    regexp per row in the scan stage — no Python, no join).

    Lifecycle: increments at or below the snapshot horizon
    (compact.expire_snapshots) were collapsed by compaction and cannot
    be reconstructed — ``since_batch`` below the horizon fails fast
    naming it. At 100 TB the cost is one directory listing plus the
    parquet scan of exactly the increment's files."""
    from ..fs import get_filesystem
    from ..sink import batch_files, batch_id_column, compaction_stamp

    fs = fs or get_filesystem(path, spark)
    horizon = snapshot_horizon(path, fs=fs)
    # ``since_batch`` is EXCLUSIVE, so the increment delivers batches
    # since_batch+1 .. until_batch. On a never-expired table (horizon 0)
    # any start is fine — including the since_batch=-1 sentinel, the
    # "from the very beginning" read that delivers batch 0 (matching
    # stream_table_changes, which always starts at batch 0). With a
    # recorded horizon H > 0, batches THROUGH H were collapsed by the
    # compaction that preceded the expiry, so the first deliverable
    # batch is H+1 (read_table_as_of at H is the baseline).
    if horizon > 0 and since_batch < horizon:
        raise ValueError(
            f"read_table_changes: since_batch={since_batch} is below the "
            f"snapshot horizon {horizon} — those increments were collapsed "
            "by compaction (expire_snapshots). Re-baseline the consumer "
            "with read_table_as_of at the horizon, then stream changes "
            "from there."
        )
    named, compacted = batch_files(path, fs)
    cao = compaction_stamp(compacted)
    if since_batch < cao:
        # a compaction that ran when batch `cao` was committed collapsed
        # the batch-named files of every batch THROUGH cao (including
        # cao itself) — a silent read here would return an EMPTY
        # increment for batches that really happened
        raise ValueError(
            f"read_table_changes: since_batch={since_batch} would deliver "
            f"batch {since_batch + 1}, but the last compaction ran when "
            f"batch {cao} was committed and collapsed the batch files "
            "through it. Re-baseline the consumer with read_table_as_of "
            f"at batch {cao}, then stream changes from there."
        )
    # un-named (compacted) files are pre-horizon state, never an increment
    keep = [
        f
        for b, files in named.items()
        if b > since_batch and (until_batch is None or b <= until_batch)
        for f in files
    ]
    if not keep:
        return (
            spark.read.parquet(path)
            .limit(0)
            .withColumn("_batch_id", F.lit(None).cast("long"))
        )
    return (
        spark.read.option("basePath", path)
        .parquet(*keep)
        .withColumn("_batch_id", batch_id_column())
    )


def stream_table_changes(
    spark: SparkSession,
    path: str,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Structured-Streaming change feed over a warehouse route table:
    a ``readStream`` whose file source sees ONLY the exactly-once
    promoted batch files (``pathGlobFilter``, ``sink.BATCH_FILE_GLOB``),
    plus the same derived ``_batch_id`` column as ``read_table_changes``.

    Downstream pipelines subscribe to a table the way the billing
    pipeline subscribes to Kafka — checkpointed progress, availableNow
    drains, backpressure via ``max_files_per_trigger``. The glob filter
    is what makes this SAFE under maintenance: compaction rewrites a
    partition into ``compacted<M>-part-*`` files, which the source never
    matches — so a nightly compaction cannot re-deliver rows the
    consumer already processed, and the removed batch files were
    already checkpointed as seen.

    ``schema``: pass the route schema explicitly for a fully streaming
    plan; default infers it with a one-time batch read of the table.
    """
    from ..sink import BATCH_FILE_GLOB, batch_id_column

    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", BATCH_FILE_GLOB)
        .option("basePath", path)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path).withColumn("_batch_id", batch_id_column())


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Expose the tables as temp views for the SQL API surface."""
    for n, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(n)
