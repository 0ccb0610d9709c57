"""The ingest pipeline: stream source → parse once → route → 4 sinks.

Reference parity: ``Streaming.to_hive`` + ``forEachBatch``
(`Dcache_kafka_to_hive.py:303-347`). Upgrades, per SURVEY §3.4/§4:

- **Parse once, write four times**: the parsed micro-batch is persisted
  before the route writes; the reference re-reads and re-parses the Kafka
  range for each of its 4 INSERT actions (no cache — the single biggest
  perf defect, 4× the ingest work).
- **Idempotent batches**: a committed-batch ledger skips replayed
  batchIds, and every route write embeds the batch id in its file names
  and records them in a per-batch manifest that a replay undoes first
  (sink.write_partitioned_batch) — so a crash after SOME route writes
  cannot duplicate rows on replay. Together: exactly-once at the table
  level across every crash point (the reference duplicates on replay).
  Each route's manifest is retired after the ledger commit, so the
  per-batch commit cost stays flat as the tables age.
- **Bounded drain via ``trigger(availableNow=True)``** instead of the
  reference's ``awaitTermination(2 × trigger)`` wall-clock race
  (`:345-347`, docstring admits it "can happen that it streams twice").
- **Rejects sink**: unknown msgTypes and corrupt JSON land in a
  dead-letter table instead of vanishing (`:120,127,134,141` drop them).
- **Per-batch observability**: each route write carries an
  ``Observation`` (metrics piggyback on the write action itself — no
  second scan, unlike a ``df.count()`` probe), and the per-route row
  counts land in ``_metrics/batch-<id>.json`` beside the ledger. The
  reference emits nothing — a silent night of zero-row batches and a
  dead feed look identical there.
"""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..fs import get_filesystem
from ..parse import parse_billing
from ..route import route
from ..schema import REJECTS_ROUTE
from ..sink import BatchLedger, retire_batch_manifest, write_partitioned_batch

ROUTES = ("transfers", "requests", "storage", "removes", REJECTS_ROUTE)



def drain_available_now(source, process_batch, checkpoint_dir: str) -> None:
    """Shared bounded-drain loop: run ``process_batch`` over everything
    currently available through one checkpointed foreachBatch query,
    then stop — the idiomatic replacement for the reference's
    cron-window ``awaitTermination(2*trigger); stop()`` (`:345-347`).
    One definition serves the billing pipeline, the upsert writer and
    the corpus builder, so drain-loop fixes land once."""
    q = (
        source.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

class BillingPipeline:
    """Wires a billing stream source to partitioned Parquet route sinks.

    ``warehouse_dir`` may be a bare local path or any Hadoop-mountable
    URI (``hdfs://``, ``file://``, ``s3a://``): one FS handle is
    resolved up front (fs.py) and shared by the ledger and every route
    sink, so the exactly-once protocol runs identically on all of them.

    ``lock_path``: serialize each MICRO-BATCH with the shared
    ingest/compaction/merge lock. A long-running (processing-time
    trigger) query must not hold the warehouse lock for its whole
    lifetime — nightly compaction and retention would starve forever —
    so the lock scope is one batch: acquired before the route writes,
    released between triggers, with a bounded wait (a nightly
    maintenance hold should queue the batch, a wedged holder should
    fail the query loudly after ``lock_timeout_s``).

    ``sketch_specs``: optional per-route HLL sketch maintenance —
    ``{route_name: (slice_col, value_col, store_table)}``. After each
    batch's route writes, the batch slice of that route register-merges
    into the named ``operators.sketches.HllStore`` (the "distinct
    producers per day" dashboard maintained AT INGEST, no nightly
    rescan). Exactly-once composition: a fully-committed batch is
    skipped by the ledger before any merge; a crash BETWEEN the merge
    and the ledger commit replays the merge, which is harmless — HLL
    registers are pointwise max, so re-merging the same values cannot
    move any estimate (`tests/test_sketch_store.py`)."""

    def __init__(
        self,
        source: DataFrame,
        warehouse_dir: str,
        lock_path: str | None = None,
        lock_timeout_s: float = 3600,
        sketch_specs: dict[str, tuple[str, str, str]] | None = None,
    ):
        self.source = source
        self.warehouse = warehouse_dir
        self.lock_path = lock_path
        self.lock_timeout_s = lock_timeout_s
        self.sketch_specs = sketch_specs or {}
        # source may be None in replay-only tests; URI warehouses then
        # resolve the Hadoop FS from the active session inside fs.py
        self.fs = get_filesystem(
            warehouse_dir, source.sparkSession if source is not None else None
        )
        self.ledger = BatchLedger(
            os.path.join(warehouse_dir, "_ledger.json"), fs=self.fs
        )

    def table_path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch callback ≙ `Dcache_kafka_to_hive.py:317-336`."""
        if self.ledger.is_committed(batch_id):
            return
        if self.lock_path is not None:
            from ..cli.locking import run_lock

            with run_lock(self.lock_path, timeout_s=self.lock_timeout_s):
                self._process_batch_locked(batch_df, batch_id)
            return
        self._process_batch_locked(batch_df, batch_id)

    def _process_batch_locked(self, batch_df: DataFrame, batch_id: int) -> None:
        parsed = parse_billing(batch_df)
        parsed.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            route_rows: dict[str, int] = {}
            routed = route(parsed)
            for name, df in routed.items():
                # Observation rides the write action — the count costs a
                # map-side aggregate inside the job that runs anyway; a
                # df.count() probe would re-scan the route frame.
                obs = Observation(f"route_{name}_b{batch_id}")
                df = df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
                write_partitioned_batch(
                    df, self.table_path(name), batch_id, fs=self.fs
                )
                route_rows[name] = obs.get["n_rows"]
            for name, (slice_col, value_col, table) in self.sketch_specs.items():
                if name not in routed:
                    raise ValueError(
                        f"sketch_specs names unknown route {name!r}; "
                        f"routes are {sorted(routed)}"
                    )
                from ..operators.sketches import HllStore

                HllStore(parsed.sparkSession, table).merge(
                    routed[name].select(slice_col, value_col),
                    slice_col,
                    value_col,
                )
            self._write_metrics(batch_id, route_rows)
            self.ledger.commit(batch_id)
            # after the commit: a crash before this loop leaves stale
            # manifests the ledger makes harmless (the batch is skipped)
            for name in routed:
                retire_batch_manifest(self.table_path(name), batch_id, fs=self.fs)
        finally:
            parsed.unpersist()

    # ---- per-batch metrics ------------------------------------------

    def _metrics_dir(self) -> str:
        return os.path.join(self.warehouse, "_metrics")

    def _write_metrics(self, batch_id: int, route_rows: dict[str, int]) -> None:
        """One JSON file per committed batch (atomic write; a replayed
        batch overwrites its own file, so metrics stay exactly-once with
        the data). Written BEFORE the ledger commit: a crash between the
        two replays the batch and rewrites identical metrics."""
        payload = {
            "batch_id": batch_id,
            "routes": route_rows,
            "total_rows": sum(route_rows.values()),
            "written_at": dt.datetime.now(dt.timezone.utc).isoformat(),
        }
        self.fs.mkdirs(self._metrics_dir())
        self.fs.write_text_atomic(
            os.path.join(self._metrics_dir(), f"batch-{batch_id}.json"),
            json.dumps(payload, sort_keys=True),
        )

    def metrics(self) -> list[dict]:
        """All committed batches' metrics, ordered by batch id — the
        feed-health surface (a dead feed shows zero-row batches here
        instead of silence)."""
        import re as _re

        out = []
        for name, is_dir in self.fs.list_entries(self._metrics_dir()):
            # exact batch-<n>.json only: a crashed atomic write leaves
            # batch-<n>.json.tmp beside the real files
            if is_dir or not _re.fullmatch(r"batch-\d+\.json", name):
                continue
            out.append(
                json.loads(
                    self.fs.read_text(os.path.join(self._metrics_dir(), name))
                )
            )
        return sorted(out, key=lambda m: m["batch_id"])

    def run_available_now(self, checkpoint_dir: str) -> None:
        drain_available_now(self.source, self.process_batch, checkpoint_dir)

    def run_continuous(self, checkpoint_dir: str, trigger_seconds: int):
        """Long-running mode with a processing-time trigger
        ≙ `Dcache_kafka_to_hive.py:338-345`. Returns the query handle;
        caller stops it (≙ ``stop_streaming`` `:350-351`)."""
        return (
            self.source.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start()
        )


class UpsertStreamWriter:
    """Streaming upsert sink: each micro-batch MERGEs into a partitioned
    table instead of appending — the CDC-ingestion shape (a change feed
    of keyed records where later versions replace earlier ones), which
    the append-only billing pipeline deliberately is not.

    Exactly-once composition: a committed-batch ledger skips replayed
    batch ids outright, and ``merge_into`` itself is idempotent for
    identical inputs (same batch → same anti-join + overwrite result),
    so a crash BETWEEN the merge and the ledger commit replays to the
    same table state. Within a batch, duplicate keys resolve by
    ``version_col`` (last-write-wins) when given.

    Scale shape is merge_into's: only partitions present in the batch
    (plus, with ``scope="table"``, partitions a key moved away from)
    are rewritten; driver state stays partition-cardinality."""

    def __init__(
        self,
        source: DataFrame,
        path: str,
        key_cols: list[str],
        *,
        version_col: str | None = None,
        scope: str = "partitions",
        delete_col: str | None = None,
    ):
        from ..merge import merge_into  # late: avoid cycle at import

        self._merge = merge_into
        self.source = source
        self.path = path
        self.key_cols = key_cols
        self.version_col = version_col
        self.scope = scope
        self.delete_col = delete_col
        self.fs = get_filesystem(
            path, source.sparkSession if source is not None else None
        )
        self.ledger = BatchLedger(
            os.path.join(path, "_upsert_ledger.json"), fs=self.fs
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.ledger.is_committed(batch_id):
            return
        self._merge(
            batch_df.sparkSession,
            self.path,
            batch_df,
            self.key_cols,
            version_col=self.version_col,
            scope=self.scope,
            delete_col=self.delete_col,
            fs=self.fs,
        )
        self.ledger.commit(batch_id)

    def run_available_now(self, checkpoint_dir: str) -> None:
        drain_available_now(self.source, self.process_batch, checkpoint_dir)
