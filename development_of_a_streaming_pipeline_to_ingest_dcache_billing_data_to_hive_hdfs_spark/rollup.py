"""Incrementally-maintained materialized rollups over the change feed.

The natural consumer of ``sources.tables.read_table_changes``: a
persisted aggregate (counts / sums / mins / maxs per key) that is kept
equal to the full recompute by folding only each ``(since, until]``
increment — the downstream-summary shape every warehouse grows around
the reference's route tables (daily volumes per pool, event counts per
day × type) without re-scanning history on every refresh.

Exactness: only DECOMPOSABLE aggregates are supported (count, sum, min,
max over an append-only table), because those are the ones where
``merge(state, agg(increment)) == agg(everything)`` holds exactly.
AVG is derived (sum/count) by the reader. Sums over floating columns
should be folded in decimal (pass an explicit cast) when bit-exact
equality with a recompute matters — float addition is not associative,
decimal addition is.

Exactly-once without a log: the rollup state is VERSIONED. Each fold
writes a complete new rollup under ``v{n+1}/`` and only then atomically
points ``_rollup_state.json`` (version, last_batch) at it; a crash
anywhere replays the same increment against the still-current ``v{n}``
and overwrites ``v{n+1}`` — never a double-fold, never a torn read for
the WRITER. Concurrent readers get one fold's grace: the sweep keeps
``v{n}`` when installing ``v{n+1}`` (deleting only ``v{n-1}`` and
older), so a reader that resolved ``state()`` just before a fold can
still finish scanning the version it resolved — it would take two full
folds inside one reader's scan to pull files out from under it.

At 100 TB: each refresh scans exactly the increment's files (a
metadata-cheap name-filtered list), shuffles only (keys × increment)
partial rows, and rewrites a rollup whose size is bounded by the key
cardinality, not the fact table. Compaction of the base table is safe:
``read_table_changes`` fails fast (never silently empty) if the rollup
fell behind the compaction marker, and ``rebaseline()`` is the recovery
operator — it re-anchors at the marker via a snapshot read + full
aggregate, after which folds resume incrementally. A caught-up rollup
is untouched by compaction because compacted files are never
re-delivered.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .fs import get_filesystem
from .sources.tables import read_table_changes

STATE_FILE = "_rollup_state.json"

# agg kind -> (increment aggregate, merge aggregate over partials)
_MERGE = {
    "count": F.sum,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
}


class IncrementalRollup:
    """A persisted ``groupBy(keys).agg(...)`` over a batch-named route
    table, refreshed by folding change-feed increments.

    ``aggs``: {output_col: ("count",) | (kind, input_col_or_Column)}
    with kind in count/sum/min/max, e.g.::

        IncrementalRollup(
            spark, table_path, rollup_dir,
            keys=["partition_date", "event_type"],
            aggs={
                "n_events": ("count",),
                "sum_value": ("sum", F.col("value").cast("decimal(28,10)")),
            },
        )
    """

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        rollup_dir: str,
        *,
        keys: list[str],
        aggs: dict[str, tuple],
        fs=None,
    ):
        for name, spec in aggs.items():
            if spec[0] not in _MERGE:
                raise ValueError(
                    f"agg {name!r}: kind {spec[0]!r} not decomposable — "
                    f"supported: {sorted(_MERGE)}"
                )
        self.spark = spark
        self.table_path = table_path
        self.rollup_dir = rollup_dir
        self.keys = list(keys)
        self.aggs = dict(aggs)
        self.fs = fs or get_filesystem(rollup_dir, spark)

    # -- state ---------------------------------------------------------

    def state(self) -> dict:
        try:
            return json.loads(
                self.fs.read_text(os.path.join(self.rollup_dir, STATE_FILE))
            )
        except FileNotFoundError:
            return {"version": 0, "last_batch": -1}

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.rollup_dir, f"v{version}")

    def _require_table(self) -> None:
        """Fail with a targeted message when the base table path does
        not exist yet — otherwise the schema probe surfaces a
        path-not-found from deep inside the change-feed reader."""
        table_fs = get_filesystem(self.table_path, self.spark)
        if not table_fs.exists(self.table_path):
            raise FileNotFoundError(
                f"IncrementalRollup: base table {self.table_path!r} does "
                "not exist (no batch has been ingested yet) — the rollup "
                "is empty and has no schema to report; fold() after the "
                "first ingest"
            )

    def read(self) -> DataFrame:
        """The current rollup (empty frame with the right schema before
        the first fold; a targeted error before the base table's first
        batch exists — there is no schema to derive yet)."""
        st = self.state()
        if st["version"] == 0:
            self._require_table()
            inc = self._increment_agg(
                read_table_changes(
                    self.spark, self.table_path, since_batch=10**15
                )
            )
            return inc.limit(0)
        return self.spark.read.parquet(self._version_dir(st["version"]))

    # -- the fold --------------------------------------------------------

    def _agg_input(self, spec: tuple) -> Column:
        if spec[0] == "count":
            return F.lit(1).cast("bigint")
        col = spec[1]
        return col if isinstance(col, Column) else F.col(col)

    def _increment_agg(self, changes: DataFrame) -> DataFrame:
        exprs = []
        for name, spec in self.aggs.items():
            kind = spec[0]
            inp = self._agg_input(spec)
            base = F.sum(inp) if kind == "count" else {
                "sum": F.sum, "min": F.min, "max": F.max
            }[kind](inp)
            exprs.append(base.alias(name))
        return changes.groupBy(*self.keys).agg(*exprs)

    def _merge(self, current: DataFrame, inc: DataFrame) -> DataFrame:
        exprs = [
            _MERGE[spec[0]](F.col(name)).alias(name)
            for name, spec in self.aggs.items()
        ]
        return (
            current.unionByName(inc)
            .groupBy(*self.keys)
            .agg(*exprs)
        )

    def _install(self, merged: DataFrame, new_state: dict) -> None:
        """Write a complete new version, commit the state pointer, then
        sweep — keeping ONE superseded version (the reader's grace, see
        module docstring) plus any crash residue beyond it."""
        new_version = new_state["version"]
        merged.write.mode("overwrite").parquet(self._version_dir(new_version))
        self.fs.write_text_atomic(
            os.path.join(self.rollup_dir, STATE_FILE),
            json.dumps(new_state, sort_keys=True),
        )
        keep = {f"v{new_version}", f"v{new_version - 1}"}
        for d, is_dir in self.fs.list_entries(self.rollup_dir):
            if is_dir and d.startswith("v") and d not in keep:
                self.fs.delete(os.path.join(self.rollup_dir, d), recursive=True)

    def fold(self, until_batch: int | None = None) -> dict:
        """Fold the next increment ``(last_batch, until_batch]`` into the
        rollup. Returns the new state plus how many batches were folded.
        No committed increment (including a base table that does not
        exist yet) → no new version (state untouched)."""
        st = self.state()
        if not get_filesystem(self.table_path, self.spark).exists(
            self.table_path
        ):
            return {**st, "folded_batches": 0}
        changes = read_table_changes(
            self.spark,
            self.table_path,
            since_batch=st["last_batch"],
            until_batch=until_batch,
        )
        # the write below is one action; bound the increment's max batch
        # id FIRST (a second scan of the same immutable file list) so
        # the recorded watermark always matches what was folded
        hi = changes.agg(F.max("_batch_id").alias("hi")).first()["hi"]
        if hi is None:
            return {**st, "folded_batches": 0}
        inc = self._increment_agg(changes.drop("_batch_id"))
        merged = (
            self._merge(self.read(), inc) if st["version"] > 0 else inc
        )
        new_state = {"version": st["version"] + 1, "last_batch": int(hi)}
        self._install(merged, new_state)
        return {**new_state, "folded_batches": int(hi) - st["last_batch"]}

    def rebaseline(self) -> dict:
        """Re-anchor a rollup that FELL BEHIND the base table's
        compaction marker — the recovery operator for the loud failure
        ``fold()`` raises when ``read_table_changes`` refuses an
        increment whose history compaction collapsed.

        The stamp M (``sources.tables.compacted_as_of``) is the
        earliest faithful snapshot point, so the re-anchor is: snapshot
        read at M (compacted files + batch-named files ≤ M — pure
        metadata), full aggregate, install as the next version with
        ``last_batch = M``. Subsequent folds resume incrementally from
        there. One full scan of the CURRENT table state — the same cost
        the initial fold paid — not a replay of collapsed history,
        which no longer exists. No-op when the rollup is not actually
        behind the marker (returns the state unchanged)."""
        from .sources.tables import compacted_as_of, read_table_as_of

        st = self.state()
        cao = compacted_as_of(self.table_path)
        if cao <= st["last_batch"]:
            return {**st, "folded_batches": 0}
        snap = read_table_as_of(self.spark, self.table_path, cao)
        new_state = {"version": st["version"] + 1, "last_batch": int(cao)}
        self._install(self._increment_agg(snap), new_state)
        return {**new_state, "folded_batches": 0}

    def recompute(self) -> DataFrame:
        """The full-scan answer the rollup must equal — the verification
        twin. (For recovery after falling behind a compaction horizon,
        use ``rebaseline()``, which re-anchors the PERSISTED state.)"""
        return self._increment_agg(self.spark.read.parquet(self.table_path))
