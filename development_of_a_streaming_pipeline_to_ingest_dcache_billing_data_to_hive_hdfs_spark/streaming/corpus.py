"""Streaming corpus builder: document stream → quality gate →
cross-batch exact dedup → exactly-once partitioned corpus append.

The end-to-end training-data shape, composed entirely from machinery
this engine already guarantees: the billing pipeline's ledger +
batch-named-file idempotence (sink.py), and the bucketed fingerprint
store's shuffle-free seen-check (operators/dedup.FingerprintStore).
Each micro-batch:

1. optional GATE (a caller-supplied DataFrame→DataFrame filter — e.g.
   token-count / language / repetition bounds from operators.textops);
2. SCREEN against every fingerprint ever admitted, excluding entries
   this same batch id committed (see the crash matrix below);
3. idempotent partitioned APPEND of the surviving documents
   (batch-named files, partitioned by ``partition_field``);
4. fingerprint COMMIT (batch-tagged), ledger commit, then the append's
   batch manifest is retired (a crash before that leaves a stale
   manifest the ledger makes harmless).

Crash matrix — the ordering is load-bearing:
- crash in/after the doc append, before the fp commit → replay cleans
  exactly this batch's doc files and rewrites them; the screen result
  is unchanged (its fps were never committed);
- crash after the fp commit, before the ledger commit → replay screens
  with ``exclude_tag=this batch's tag``, so the batch's OWN
  fingerprints do not screen out its own documents (without the
  exclusion every doc of the batch would be silently lost: files
  cleaned for rewrite, rows filtered as "seen"); the fp commit appends
  duplicate rows, which the semi/anti screens tolerate;
- replay of a ledger-committed batch → skipped outright.

Lifecycle coupling: the corpus dir (ledger + run id) and the streaming
checkpoint form ONE lineage — batch tags are run-id#batch-id, so
corpora sharing a fingerprint store never exclude each other's
entries. Resetting the checkpoint without resetting the corpus dir is
unsupported (the ledger would skip the new lineage's reused batch ids
— the same coupling every ledger-idempotent foreachBatch sink has).

At 100 TB: the gate is a scan-stage filter; the screen shuffles only
the new batch (the store reads bucket-locally); the append is
partition-local. Nothing rescans or reshuffles the historical corpus.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from ..fs import get_filesystem
from ..operators.dedup import BandBucketStore, FingerprintStore
from ..sink import BatchLedger, retire_batch_manifest, write_partitioned_batch
from .pipeline import drain_available_now


class CorpusIngestPipeline:
    """Wires a streaming document source into a deduplicated corpus.

    ``source`` columns must include ``id_col``, ``text_col`` and
    ``partition_field`` (e.g. ``source`` for by-provenance layout).

    ``near_store_table`` (optional) adds CROSS-BATCH NEAR-duplicate
    screening between the exact screen and the append: each batch's
    survivors are checked against the persistent MinHash band-bucket
    store (``operators.dedup.BandBucketStore``) and near-dups of
    previously admitted documents (est. Jaccard ≥ ``near_threshold``)
    are dropped before they ever reach the corpus. The band store
    commits under the same run-id#batch-id tag and the same
    crash-window ordering as the fingerprint store, so the replay
    matrix in the module docstring holds unchanged — a crash between
    the band commit and the ledger commit replays with the batch's own
    band rows excluded."""

    def __init__(
        self,
        source: DataFrame,
        corpus_dir: str,
        store_table: str,
        *,
        partition_field: str = "source",
        id_col: str = "doc_id",
        text_col: str = "text",
        gate: Callable[[DataFrame], DataFrame] | None = None,
        store_buckets: int = 64,
        run_tag: str | None = None,
        near_store_table: str | None = None,
        near_threshold: float = 0.8,
    ):
        self.source = source
        self.corpus_dir = corpus_dir
        self.partition_field = partition_field
        self.id_col = id_col
        self.text_col = text_col
        self.gate = gate
        spark = source.sparkSession if source is not None else None
        self.fs = get_filesystem(corpus_dir, spark)
        self.ledger = BatchLedger(
            os.path.join(corpus_dir, "_ledger.json"), fs=self.fs
        )
        self._store_table = store_table
        self._store_buckets = store_buckets
        self._near_store_table = near_store_table
        self._near_threshold = near_threshold
        # Batch-tag identity: exclude_tag must be STORE-unique per
        # logical batch. foreachBatch ids restart at 0 per checkpoint,
        # so the tag prefixes them with a run id persisted BESIDE THE
        # LEDGER — stable across restarts of the same corpus (replays
        # keep their exclusion), distinct across corpora sharing one
        # store table (pipeline B's batch 7 never excludes pipeline A's
        # batch-7 fingerprints).
        self.run_tag = run_tag or self._load_or_create_run_tag()

    def _load_or_create_run_tag(self) -> str:
        path = os.path.join(self.corpus_dir, "_run_id")
        try:
            return self.fs.read_text(path).strip()
        except FileNotFoundError:
            tag = uuid.uuid4().hex[:16]
            self.fs.mkdirs(self.corpus_dir)
            self.fs.write_text_atomic(path, tag)
            return tag

    def _batch_tag(self, batch_id: int) -> str:
        return f"{self.run_tag}#{batch_id}"

    def _store(self, spark) -> FingerprintStore:
        return FingerprintStore(
            spark, self._store_table, n_buckets=self._store_buckets
        )

    def _near_store(self, spark) -> BandBucketStore | None:
        if self._near_store_table is None:
            return None
        return BandBucketStore(
            spark,
            self._near_store_table,
            threshold=self._near_threshold,
            n_buckets=self._store_buckets,
        )

    def docs_path(self) -> str:
        return os.path.join(self.corpus_dir, "documents")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.ledger.is_committed(batch_id):
            return
        store = self._store(batch_df.sparkSession)
        near = self._near_store(batch_df.sparkSession)
        tag = self._batch_tag(batch_id)
        gated = self.gate(batch_df) if self.gate is not None else batch_df
        kept = store.screen(
            gated,
            id_col=self.id_col,
            text_col=self.text_col,
            exclude_tag=tag,
        )
        if near is not None:
            # near-dup screen AFTER the exact screen: the exact pass has
            # already collapsed identical texts, so the (more expensive)
            # signature pipeline runs on the smaller survivor set
            kept = near.screen(
                kept,
                id_col=self.id_col,
                text_col=self.text_col,
                exclude_tag=tag,
            )
        # persist: the doc append and the fp commit are two actions over
        # the same gate+fingerprint+anti-join plan — unpersisted, the
        # full screen (including the store scan) would run twice, and a
        # nondeterministic gate could even commit fingerprints for docs
        # that were never written
        kept.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            write_partitioned_batch(
                kept,
                self.docs_path(),
                batch_id,
                fs=self.fs,
                partition_field=self.partition_field,
            )
            store.commit(
                kept,
                id_col=self.id_col,
                text_col=self.text_col,
                batch_tag=tag,
            )
            if near is not None:
                near.commit(
                    kept,
                    id_col=self.id_col,
                    text_col=self.text_col,
                    batch_tag=tag,
                )
            self.ledger.commit(batch_id)
            retire_batch_manifest(self.docs_path(), batch_id, fs=self.fs)
        finally:
            kept.unpersist()

    def run_available_now(self, checkpoint_dir: str) -> None:
        drain_available_now(self.source, self.process_batch, checkpoint_dir)
