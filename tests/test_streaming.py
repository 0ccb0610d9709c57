"""End-to-end streaming (SURVEY §5.3): file-source stream of synthetic
billing JSON → foreachBatch router → partitioned warehouse; replay a batch
to assert idempotence (the property the reference lacks, SURVEY §3.4);
event-time windowed aggregation with watermark."""

from __future__ import annotations

import os

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.parse import (
    parse_billing,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources import (
    billing_stream_source,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.streaming import (
    BillingPipeline,
    dedup_within_watermark,
    tumbling_counts,
)

from conftest import billing_record


def _write_input(input_dir, records, name="batch0.json"):
    os.makedirs(input_dir, exist_ok=True)
    with open(os.path.join(input_dir, name), "w") as f:
        f.write("\n".join(records) + "\n")


def test_stream_end_to_end(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    warehouse = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    _write_input(
        input_dir,
        [
            billing_record("transfer"),
            billing_record("request"),
            billing_record("store"),
            billing_record("remove"),
            billing_record("alien"),
        ],
    )
    src = billing_stream_source(spark, "file", path=input_dir)
    pipe = BillingPipeline(src, warehouse)
    pipe.run_available_now(ckpt)

    counts = {
        t: spark.read.parquet(pipe.table_path(t)).count()
        for t in ("transfers", "requests", "storage", "removes", "rejects")
    }
    assert counts == {"transfers": 1, "requests": 1, "storage": 1, "removes": 1, "rejects": 1}
    # partition layout: Hive-style partition_date dirs
    assert any(
        d.startswith("partition_date=") for d in os.listdir(pipe.table_path("transfers"))
    )

    # second drain with NO new input writes nothing new
    pipe2 = BillingPipeline(billing_stream_source(spark, "file", path=input_dir), warehouse)
    pipe2.run_available_now(ckpt)
    assert spark.read.parquet(pipe.table_path("transfers")).count() == 1


def test_batch_replay_is_idempotent(spark, tmp_path):
    # Simulate foreachBatch replay after a mid-commit crash: same batch_id
    # delivered twice must write once.
    warehouse = str(tmp_path / "wh")
    batch = spark.createDataFrame([(billing_record("transfer"),)], ["value"])
    pipe = BillingPipeline(source=None, warehouse_dir=warehouse)
    pipe.process_batch(batch, 7)
    pipe.process_batch(batch, 7)
    assert spark.read.parquet(pipe.table_path("transfers")).count() == 1
    # a new batch id still appends
    pipe.process_batch(batch, 8)
    assert spark.read.parquet(pipe.table_path("transfers")).count() == 2


def test_tumbling_window_agg_streaming(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    _write_input(
        input_dir,
        [
            billing_record("transfer", date="2024-03-01T10:05:00.000+0000"),
            billing_record("transfer", date="2024-03-01T10:25:00.000+0000"),
            billing_record("request", date="2024-03-01T11:05:00.000+0000"),
        ],
    )
    src = billing_stream_source(spark, "file", path=input_dir)
    agg = tumbling_counts(parse_billing(src), window_len="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {
        (str(r.w_start), r.msgType): r.n for r in spark.sql("select * from win_out").collect()
    }
    assert rows == {
        ("2024-03-01 10:00:00", "transfer"): 2,
        ("2024-03-01 11:00:00", "request"): 1,
    }


def test_sliding_window_drops_late_data(spark, tmp_path):
    """slide= + watermark in append mode: a second micro-batch's
    too-late event must NOT reopen sliding windows the watermark
    already finalized — tumbling and session windows have this
    assertion; this is the sliding twin."""
    input_dir = str(tmp_path / "in")
    # batch 1: two on-time events + a far-future one that advances the
    # watermark (max event time 12:10 − 30 min ⇒ watermark 11:40)
    _write_input(
        input_dir,
        [
            billing_record("transfer", date="2024-03-01T10:05:00.000+0000"),
            billing_record("transfer", date="2024-03-01T10:20:00.000+0000"),
            billing_record("transfer", date="2024-03-01T12:10:00.000+0000"),
        ],
        name="batch0.json",
    )
    src = billing_stream_source(spark, "file", path=input_dir)
    agg = tumbling_counts(
        parse_billing(src),
        window_len="1 hour",
        slide="30 minutes",
        watermark="30 minutes",
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("slide_out")
        .start()
    )
    q.processAllAvailable()
    # batch 2: one LATE event (10:10 < watermark 11:40 — its windows
    # [09:30,10:30) and [10:00,11:00) are already closed) and one
    # on-time event keeping the stream alive
    _write_input(
        input_dir,
        [
            billing_record("transfer", date="2024-03-01T10:10:00.000+0000"),
            billing_record("transfer", date="2024-03-01T12:20:00.000+0000"),
        ],
        name="batch1.json",
    )
    q.processAllAvailable()
    q.stop()
    rows = {
        (str(r.w_start), str(r.w_end)): r.n
        for r in spark.sql("select * from slide_out").collect()
    }
    # exactly the two finalized sliding windows, with the LATE row NOT
    # counted (n=2, not 3); the 12:xx windows are still open → absent
    assert rows == {
        ("2024-03-01 09:30:00", "2024-03-01 10:30:00"): 2,
        ("2024-03-01 10:00:00", "2024-03-01 11:00:00"): 2,
    }


def test_dedup_within_watermark_batch(spark):
    recs = [
        billing_record("transfer", session="dup"),
        billing_record("transfer", session="dup"),
        billing_record("transfer", session="uniq"),
    ]
    df = parse_billing(spark.createDataFrame([(r,) for r in recs], ["value"]))
    assert dedup_within_watermark(df, ["session"]).count() == 2


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: each micro-batch enriches parsed billing rows
    against a static dimension (cellName -> site) before the sink — the
    standard dimension-enrichment pattern the reference lacks."""
    from pyspark.sql import functions as F

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    _write_input(
        input_dir,
        [billing_record("transfer"), billing_record("request"), billing_record("remove")],
    )
    dim = spark.createDataFrame(
        [("pool-a", "site-1"), ("pool-b", "site-2")], "cellName string, site string"
    )
    src = billing_stream_source(spark, "file", path=input_dir)
    enriched = parse_billing(src).join(F.broadcast(dim), "cellName", "left")
    q = (
        enriched.select("msgType", "cellName", "site", "partition_date")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 3
    assert all(r.site == "site-1" for r in rows)  # conftest records use pool-a


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner join with watermarks on BOTH sides and a
    bounded time-range condition (state stores prunable): a request
    matches a transfer on session only within 1 hour of it."""
    from pyspark.sql import functions as F

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.streaming import (
        interval_join,
    )

    t_dir, r_dir = str(tmp_path / "t"), str(tmp_path / "r")
    _write_input(t_dir, [billing_record("transfer", date="2024-03-01T10:00:00.000+0000")])
    _write_input(
        r_dir,
        [
            billing_record("request", date="2024-03-01T10:30:00.000+0000"),  # in window
            billing_record("request", date="2024-03-01T12:30:00.000+0000"),  # too late
        ],
    )
    transfers = parse_billing(billing_stream_source(spark, "file", path=t_dir)).select(
        "session", F.col("event_ts").alias("t_ts")
    )
    requests = parse_billing(billing_stream_source(spark, "file", path=r_dir)).select(
        "session", F.col("event_ts").alias("r_ts")
    )
    joined = interval_join(
        transfers, requests, key="session", left_ts="t_ts", right_ts="r_ts",
        watermark="2 hours", within="1 hour",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select * from ssj_out").collect()
    assert len(rows) == 1
    assert str(rows[0].r_ts).startswith("2024-03-01 10:30")


def test_crash_after_partial_route_writes_no_duplicates(spark, tmp_path, monkeypatch):
    """ADVICE crash window: die after 2 of 5 route writes, before the
    ledger commit; the replayed batch must not duplicate the routes that
    were already written (batch-scoped file names + pre-write cleanup)."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.streaming import (
        pipeline as pipeline_mod,
    )

    warehouse = str(tmp_path / "wh")
    recs = [
        (billing_record("transfer", date="2024-03-01T10:00:00.000+0000"),),
        (billing_record("transfer", date="2024-03-02T11:00:00.000+0000"),),
        (billing_record("request", date="2024-03-01T12:00:00.000+0000"),),
        (billing_record("store", date="2024-03-01T13:00:00.000+0000"),),
        (billing_record("remove", date="2024-03-01T14:00:00.000+0000"),),
    ]
    batch = spark.createDataFrame(recs, ["value"])
    pipe = BillingPipeline(source=None, warehouse_dir=warehouse)

    real_write = pipeline_mod.write_partitioned_batch
    calls = {"n": 0}

    def dying_write(df, path, batch_id, fs=None):
        calls["n"] += 1
        if calls["n"] > 2:
            raise RuntimeError("simulated crash mid-batch")
        real_write(df, path, batch_id, fs=fs)

    monkeypatch.setattr(pipeline_mod, "write_partitioned_batch", dying_write)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated crash"):
        pipe.process_batch(batch, 3)
    assert not pipe.ledger.is_committed(3)
    # two routes were written once already
    written_before = spark.read.parquet(pipe.table_path("transfers")).count()
    assert written_before == 2

    # replay of the SAME batch id after restart
    monkeypatch.setattr(pipeline_mod, "write_partitioned_batch", real_write)
    pipe.process_batch(batch, 3)
    assert pipe.ledger.is_committed(3)
    assert spark.read.parquet(pipe.table_path("transfers")).count() == 2
    assert spark.read.parquet(pipe.table_path("requests")).count() == 1
    assert spark.read.parquet(pipe.table_path("storage")).count() == 1
    assert spark.read.parquet(pipe.table_path("removes")).count() == 1
    # third delivery is ledger-skipped outright
    pipe.process_batch(batch, 3)
    assert spark.read.parquet(pipe.table_path("transfers")).count() == 2


def test_crash_before_manifest_retire_leaves_next_batch_unaffected(
    spark, tmp_path, monkeypatch
):
    """Crash after the ledger commit, before the route manifests are
    retired: the ledger skips the batch's replay, the stale manifest
    stays harmless, and the next batch appends and retires its own."""
    import os

    import pytest as _pytest

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sink import (
        batch_manifest_path,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.streaming import (
        pipeline as pipeline_mod,
    )

    warehouse = str(tmp_path / "wh")
    batch = spark.createDataFrame([(billing_record("transfer"),)], ["value"])
    pipe = BillingPipeline(source=None, warehouse_dir=warehouse)
    real_retire = pipeline_mod.retire_batch_manifest

    def dying_retire(*args, **kwargs):
        raise RuntimeError("simulated crash before manifest retire")

    monkeypatch.setattr(pipeline_mod, "retire_batch_manifest", dying_retire)
    with _pytest.raises(RuntimeError, match="simulated crash"):
        pipe.process_batch(batch, 3)
    assert pipe.ledger.is_committed(3)
    stale = batch_manifest_path(pipe.table_path("transfers"), 3)
    assert os.path.exists(stale)

    monkeypatch.setattr(pipeline_mod, "retire_batch_manifest", real_retire)
    pipe.process_batch(batch, 3)  # replay: skipped by the ledger
    pipe.process_batch(batch, 4)
    assert spark.read.parquet(pipe.table_path("transfers")).count() == 2
    assert os.path.exists(stale)
    assert not os.path.exists(batch_manifest_path(pipe.table_path("transfers"), 4))


def test_per_batch_metrics_written(spark, tmp_path):
    """Each committed batch leaves _metrics/batch-<id>.json with exact
    per-route row counts (observation riding the write action); a
    replayed batch overwrites, never duplicates."""
    warehouse = str(tmp_path / "wh")
    recs = [
        (billing_record("transfer", date="2024-03-01T10:00:00.000+0000"),),
        (billing_record("transfer", date="2024-03-02T11:00:00.000+0000"),),
        (billing_record("request", date="2024-03-01T12:00:00.000+0000"),),
        ("{not json",),
    ]
    batch = spark.createDataFrame(recs, ["value"])
    pipe = BillingPipeline(source=None, warehouse_dir=warehouse)
    pipe.process_batch(batch, 0)

    got = pipe.metrics()
    assert len(got) == 1
    m = got[0]
    assert m["batch_id"] == 0
    assert m["routes"]["transfers"] == 2
    assert m["routes"]["requests"] == 1
    assert m["routes"]["rejects"] == 1
    assert m["routes"]["storage"] == 0
    assert m["total_rows"] == 4

    # ledger-skipped replay leaves metrics untouched; a second batch appends
    pipe.process_batch(batch, 0)
    assert len(pipe.metrics()) == 1
    pipe.process_batch(batch, 1)
    ms = pipe.metrics()
    assert [m["batch_id"] for m in ms] == [0, 1]


def test_upsert_stream_writer_cdc(spark, tmp_path):
    """Streaming CDC upsert: two micro-batches of keyed changes, later
    versions replace earlier rows, replayed batches are ledger-skipped."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.streaming.pipeline import (
        UpsertStreamWriter,
    )

    path = str(tmp_path / "accounts")
    w = UpsertStreamWriter(
        source=None, path=path, key_cols=["acct_id"], version_col="ver"
    )
    b0 = spark.createDataFrame(
        [(1, "2024-03-01", 100.0, 1), (2, "2024-03-01", 200.0, 1),
         (3, "2024-03-02", 300.0, 1)],
        "acct_id long, partition_date string, balance double, ver long",
    )
    w.process_batch(b0, 0)
    # batch 1: update acct 2 (two versions in-batch), insert acct 4
    b1 = spark.createDataFrame(
        [(2, "2024-03-01", 250.0, 2), (2, "2024-03-01", 275.0, 3),
         (4, "2024-03-03", 400.0, 1)],
        "acct_id long, partition_date string, balance double, ver long",
    )
    w.process_batch(b1, 1)
    got = {
        r.acct_id: (r.balance, r.ver)
        for r in spark.read.parquet(path).collect()
    }
    assert got == {1: (100.0, 1), 2: (275.0, 3), 3: (300.0, 1), 4: (400.0, 1)}
    # ledger-skipped replay leaves state untouched
    w.process_batch(b1, 1)
    assert {
        r.acct_id: r.ver for r in spark.read.parquet(path).collect()
    }[2] == 3
    # a NEW writer against the same path re-reads the ledger
    w2 = UpsertStreamWriter(
        source=None, path=path, key_cols=["acct_id"], version_col="ver"
    )
    assert w2.ledger.is_committed(1)


def test_upsert_stream_writer_through_stream(spark, tmp_path):
    """The real readStream->foreachBatch path: a file stream of keyed
    change records upserts into the table."""
    import json as _json

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.streaming.pipeline import (
        UpsertStreamWriter,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    recs = [
        {"acct_id": 1, "partition_date": "2024-03-01", "balance": 10.0, "ver": 1},
        {"acct_id": 1, "partition_date": "2024-03-01", "balance": 20.0, "ver": 2},
        {"acct_id": 2, "partition_date": "2024-03-02", "balance": 30.0, "ver": 1},
    ]
    (inp / "a.json").write_text("\n".join(_json.dumps(r) for r in recs))
    src = (
        spark.readStream.schema(
            "acct_id long, partition_date string, balance double, ver long"
        ).json(str(inp))
    )
    path = str(tmp_path / "accounts")
    w = UpsertStreamWriter(src, path, ["acct_id"], version_col="ver")
    w.run_available_now(str(tmp_path / "ck"))
    got = {
        r.acct_id: (r.balance, r.ver)
        for r in spark.read.parquet(path).collect()
    }
    assert got == {1: (20.0, 2), 2: (30.0, 1)}


def test_upsert_crash_between_merge_and_ledger_commit(spark, tmp_path, monkeypatch):
    """Crash AFTER the merge but BEFORE the ledger commit: the replay
    re-runs the merge (idempotent for identical inputs) and converges —
    no duplicates, no lost updates."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.streaming.pipeline import (
        UpsertStreamWriter,
    )

    path = str(tmp_path / "accounts")
    w = UpsertStreamWriter(source=None, path=path, key_cols=["acct_id"])
    b0 = spark.createDataFrame(
        [(1, "2024-03-01", 100.0)],
        "acct_id long, partition_date string, balance double",
    )
    w.process_batch(b0, 0)

    b1 = spark.createDataFrame(
        [(1, "2024-03-01", 150.0), (2, "2024-03-01", 200.0)],
        "acct_id long, partition_date string, balance double",
    )
    real_commit = w.ledger.commit
    calls = {"n": 0}

    def dying_commit(batch_id):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash before ledger commit")
        real_commit(batch_id)

    monkeypatch.setattr(w.ledger, "commit", dying_commit)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated crash"):
        w.process_batch(b1, 1)
    # data landed but batch is uncommitted — exactly the crash window
    assert not w.ledger.is_committed(1)
    # replay converges
    w.process_batch(b1, 1)
    assert w.ledger.is_committed(1)
    got = {
        r.acct_id: r.balance for r in spark.read.parquet(path).collect()
    }
    assert got == {1: 150.0, 2: 200.0}


def test_per_batch_lock_scope_releases_between_batches(spark, tmp_path):
    """Regression (maintenance starvation): a long-running ingest must
    hold the shared warehouse lock only PER MICRO-BATCH, so cron'd
    compaction/merge can interleave between triggers. The lock file must
    be gone after each process_batch, present during it, and a held lock
    must queue the batch (bounded wait) rather than fail."""
    import os
    import threading

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.cli.locking import (
        AlreadyRunning,
        acquire_lock,
        run_lock,
    )

    warehouse = str(tmp_path / "wh")
    lock = str(tmp_path / "wh.lock")
    batch = spark.createDataFrame([(billing_record("transfer"),)], ["value"])
    pipe = BillingPipeline(
        source=None, warehouse_dir=warehouse, lock_path=lock, lock_timeout_s=30
    )

    seen_during = {}
    orig = pipe._process_batch_locked

    def spy(batch_df, batch_id):
        seen_during["held"] = os.path.exists(lock)
        return orig(batch_df, batch_id)

    pipe._process_batch_locked = spy
    pipe.process_batch(batch, 1)
    assert seen_during["held"] is True      # held inside the batch
    assert not os.path.exists(lock)         # released between batches

    # maintenance can acquire between batches, fail-fast style
    acquire_lock(lock, timeout_s=0)
    # ...and while it holds the lock, an ingest batch WAITS then runs
    t = threading.Timer(1.0, os.unlink, args=[lock])
    t.start()
    pipe.process_batch(batch, 2)  # would raise AlreadyRunning pre-fix
    t.join()
    assert spark.read.parquet(pipe.table_path("transfers")).count() == 2

    # a wedged holder still fails loudly after the bounded wait
    acquire_lock(lock, timeout_s=0)
    pipe.lock_timeout_s = 0.2
    try:
        import pytest as _pytest

        with _pytest.raises(AlreadyRunning):
            pipe.process_batch(batch, 3)
    finally:
        os.unlink(lock)

    # run_lock honors timeout_s the same way
    acquire_lock(lock, timeout_s=0)
    t = threading.Timer(0.5, os.unlink, args=[lock])
    t.start()
    with run_lock(lock, timeout_s=10):
        pass
    t.join()


def test_read_table_as_of_batch_snapshots(spark, tmp_path):
    """Time travel over the batch-named layout: 'as of batch N' is a
    metadata-only file-list read; compaction collapses history and must
    make an unreconstructable snapshot loudly fail (not silently show
    the wrong rows)."""
    import pytest as _pytest

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.compact import (
        compact_table,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources.tables import (
        read_table_as_of,
        table_snapshots,
    )

    warehouse = str(tmp_path / "wh")
    pipe = BillingPipeline(source=None, warehouse_dir=warehouse)
    for b in range(3):
        batch = spark.createDataFrame(
            [(billing_record("transfer",
                             date=f"2024-03-0{b + 1}T10:00:00.000+0000"),)],
            ["value"],
        )
        pipe.process_batch(batch, b)
    t = pipe.table_path("transfers")
    assert table_snapshots(t) == [0, 1, 2]

    # snapshots: monotone row counts, correct per-batch content
    assert read_table_as_of(spark, t, 0).count() == 1
    snap1 = read_table_as_of(spark, t, 1)
    assert snap1.count() == 2
    days = {str(r.partition_date) for r in snap1.collect()}
    assert days == {"2024-03-01", "2024-03-02"}  # batch 2's day absent
    assert read_table_as_of(spark, t, 2).count() == 3
    # partition column resolves through basePath
    assert "partition_date" in snap1.columns

    # compaction collapses history -> loud failure below the horizon...
    compact_table(spark, t)
    with _pytest.raises(ValueError, match="compaction"):
        read_table_as_of(spark, t, 1)
    # ...and the explicit opt-in reads the full compacted state
    assert read_table_as_of(spark, t, 1, allow_compacted=True).count() == 3


def test_snapshot_expiry_lifecycle(spark, tmp_path):
    """Operator-driven snapshot retention: compact → expire_snapshots
    records the horizon and drops pre-horizon batch metrics; reads
    below the horizon fail fast with the operator-set reason (opt-in
    still reads the compacted state); reads at/above the horizon
    include compacted files SILENTLY — they are the faithful
    pre-horizon state, so no error or opt-in is needed."""
    import pytest as _pytest

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.compact import (
        compact_table,
        expire_snapshots,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources.tables import (
        read_table_as_of,
        snapshot_horizon,
        table_snapshots,
    )

    warehouse = str(tmp_path / "wh")
    pipe = BillingPipeline(source=None, warehouse_dir=warehouse)
    for b in range(3):
        batch = spark.createDataFrame(
            [(billing_record("transfer",
                             date=f"2024-03-0{b + 1}T10:00:00.000+0000"),)],
            ["value"],
        )
        pipe.process_batch(batch, b)
    t = pipe.table_path("transfers")

    # guard: an explicit horizon above the max committed id is refused
    with _pytest.raises(ValueError, match="CURRENT table state"):
        expire_snapshots(warehouse, up_to_batch=99)

    compact_table(spark, t)
    info = expire_snapshots(warehouse)
    assert info["horizon"] == 2
    # pre-horizon batch metrics removed, horizon batch's kept
    assert [m["batch_id"] for m in pipe.metrics()] == [2]
    assert snapshot_horizon(t) == 2
    assert table_snapshots(t) == [2]

    # below the horizon: operator-driven fail-fast naming the horizon
    with _pytest.raises(ValueError, match="horizon to 2"):
        read_table_as_of(spark, t, 1)
    # ...with the explicit opt-in as the escape hatch
    assert read_table_as_of(spark, t, 1, allow_compacted=True).count() == 3

    # AT the horizon: the compacted state IS the snapshot — silent read
    assert read_table_as_of(spark, t, 2).count() == 3

    # post-expiry ingest keeps time travel working above the horizon
    batch = spark.createDataFrame(
        [(billing_record("transfer", date="2024-03-09T10:00:00.000+0000"),)],
        ["value"],
    )
    pipe.process_batch(batch, 3)
    assert table_snapshots(t) == [2, 3]
    assert read_table_as_of(spark, t, 2).count() == 3
    assert read_table_as_of(spark, t, 3).count() == 4

    # the horizon is monotonic: lowering it is refused
    with _pytest.raises(ValueError, match="monotonic"):
        expire_snapshots(warehouse, up_to_batch=1)
    # re-expiring at the current max advances it
    assert expire_snapshots(warehouse)["horizon"] == 3
    assert table_snapshots(t) == [3]


def test_run_compact_cli_expire_snapshots(spark, tmp_path):
    """--expire-snapshots on the maintenance CLI: one nightly command
    compacts and retires the now-unreconstructible snapshots."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.cli.run_compact import (
        main as compact_main,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources.tables import (
        snapshot_horizon,
        table_snapshots,
    )

    warehouse = str(tmp_path / "wh")
    pipe = BillingPipeline(source=None, warehouse_dir=warehouse)
    for b in range(2):
        batch = spark.createDataFrame(
            [(billing_record("transfer",
                             date=f"2024-03-0{b + 1}T10:00:00.000+0000"),)],
            ["value"],
        )
        pipe.process_batch(batch, b)
    compact_main([
        "--warehouse", warehouse,
        "--tables", "transfers",
        "--partition", "all",
        "--expire-snapshots",
        "--lock-path", str(tmp_path / "lk"),
    ])
    t = pipe.table_path("transfers")
    assert snapshot_horizon(t) == 1
    assert table_snapshots(t) == [1]


def test_read_table_changes_incremental_feed(spark, tmp_path):
    """Change-feed reads over the batch-named layout: a consumer that
    remembers its last batch id gets exactly the increment, with a
    correct _batch_id column; increments below the snapshot horizon
    fail fast after expiry."""
    import pytest as _pytest

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.compact import (
        compact_table,
        expire_snapshots,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources.tables import (
        read_table_changes,
    )

    warehouse = str(tmp_path / "wh")
    pipe = BillingPipeline(source=None, warehouse_dir=warehouse)
    for b in range(3):
        batch = spark.createDataFrame(
            [
                (billing_record(
                    "transfer",
                    date=f"2024-03-0{b + 1}T10:00:00.000+0000",
                    cellName=f"pool-b{b}",
                ),),
            ],
            ["value"],
        )
        pipe.process_batch(batch, b)
    t = pipe.table_path("transfers")

    # full feed from the beginning (exclusive since): batches 1..2
    inc = read_table_changes(spark, t, since_batch=0)
    rows = inc.select("cellName", "_batch_id").collect()
    assert {(r.cellName, r._batch_id) for r in rows} == {
        ("pool-b1", 1),
        ("pool-b2", 2),
    }
    # bounded window (since, until]
    one = read_table_changes(spark, t, since_batch=0, until_batch=1).collect()
    assert [(r.cellName, r._batch_id) for r in one] == [("pool-b1", 1)]
    # caught-up consumer: empty frame, schema intact
    empty = read_table_changes(spark, t, since_batch=2)
    assert empty.count() == 0 and "_batch_id" in empty.columns
    # partition column resolves through basePath
    assert "partition_date" in inc.columns

    # compaction + expiry: pre-horizon increments are gone — loudly
    compact_table(spark, t)
    expire_snapshots(warehouse)
    with _pytest.raises(ValueError, match="below the snapshot horizon"):
        read_table_changes(spark, t, since_batch=0)
    # re-baselined consumer streams from the horizon onward
    assert read_table_changes(spark, t, since_batch=2).count() == 0
    batch = spark.createDataFrame(
        [(billing_record("transfer", date="2024-03-08T10:00:00.000+0000",
                         cellName="pool-b3"),)],
        ["value"],
    )
    pipe.process_batch(batch, 3)
    post = read_table_changes(spark, t, since_batch=2).collect()
    assert [(r.cellName, r._batch_id) for r in post] == [("pool-b3", 3)]


def test_read_table_changes_delivers_batch_zero(spark, tmp_path):
    """The since_batch=-1 sentinel reads 'from the very beginning' and
    delivers batch 0 — parity with stream_table_changes, whose own test
    asserts _batch_id 0 arrives. (A consumer calling since_batch=0
    'from the beginning' would silently miss the first batch; -1 is the
    exclusive bound that includes it.)"""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources.tables import (
        read_table_changes,
    )

    warehouse = str(tmp_path / "wh")
    pipe = BillingPipeline(source=None, warehouse_dir=warehouse)
    for b in range(2):
        batch = spark.createDataFrame(
            [(billing_record("transfer",
                             date=f"2024-03-0{b + 1}T10:00:00.000+0000",
                             cellName=f"pool-b{b}"),)],
            ["value"],
        )
        pipe.process_batch(batch, b)
    t = pipe.table_path("transfers")
    rows = read_table_changes(spark, t, since_batch=-1).collect()
    assert {(r.cellName, r._batch_id) for r in rows} == {
        ("pool-b0", 0),
        ("pool-b1", 1),
    }


def test_recompaction_without_expiry_cannot_silently_lie(spark, tmp_path):
    """A re-compaction WITHOUT --expire-snapshots advances the real
    unreconstructible boundary past the recorded horizon: compacted
    files then hold state through a newer batch, and a snapshot read
    between the horizon and that batch would silently include rows from
    after the requested point. The _compacted_as_of marker (recorded at
    every compaction) turns that into a loud failure, keeps the change
    feed honest, and stops table_snapshots advertising stale points."""
    import pytest as _pytest

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.compact import (
        compact_table,
        expire_snapshots,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources.tables import (
        compacted_as_of,
        read_table_as_of,
        read_table_changes,
        table_snapshots,
    )

    warehouse = str(tmp_path / "wh")
    pipe = BillingPipeline(source=None, warehouse_dir=warehouse)
    for b in range(3):
        batch = spark.createDataFrame(
            [(billing_record("transfer",
                             date=f"2024-03-0{b + 1}T10:00:00.000+0000"),)],
            ["value"],
        )
        pipe.process_batch(batch, b)
    t = pipe.table_path("transfers")

    # first compaction + expiry: the documented lifecycle, horizon = 2
    compact_table(spark, t)
    expire_snapshots(warehouse)
    assert compacted_as_of(t) == 2
    assert read_table_as_of(spark, t, 2).count() == 3

    # more ingest, then a re-compaction WITHOUT expiry (the CLI default)
    batch = spark.createDataFrame(
        [(billing_record("transfer", date="2024-03-09T10:00:00.000+0000"),)],
        ["value"],
    )
    pipe.process_batch(batch, 3)
    assert read_table_as_of(spark, t, 2).count() == 3  # still faithful
    compact_table(spark, t)
    assert compacted_as_of(t) == 3  # marker advanced, horizon still 2

    # the snapshot between horizon (2) and the marker (3) is now
    # unreconstructible — before the marker this read silently returned
    # 4 rows (batch 3 leaked into the "as of batch 2" answer)
    with _pytest.raises(ValueError, match="batch 3 was committed"):
        read_table_as_of(spark, t, 2)
    assert read_table_as_of(spark, t, 3).count() == 4  # faithful point
    assert table_snapshots(t) == [3]

    # the change feed fails the same way instead of returning an empty
    # increment for a batch that really happened
    with _pytest.raises(ValueError, match="batch 3 was committed"):
        read_table_changes(spark, t, since_batch=2)
    assert read_table_changes(spark, t, since_batch=3).count() == 0

    # explicit opt-in still reads the full compacted state
    assert read_table_as_of(spark, t, 2, allow_compacted=True).count() == 4


def test_compacted_as_of_is_scoped_per_table(spark, tmp_path):
    """Compacting ONE route table must not make snapshot/change-feed
    reads refuse a NEVER-compacted sibling: the sibling's batch-named
    files are fully intact, so its history is perfectly
    reconstructible. The shared warehouse-level marker records
    per-table entries, not one warehouse-global refusal boundary."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.compact import (
        compact_table,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources.tables import (
        compacted_as_of,
        read_table_as_of,
        read_table_changes,
    )

    warehouse = str(tmp_path / "wh")
    pipe = BillingPipeline(source=None, warehouse_dir=warehouse)
    for b in range(2):
        batch = spark.createDataFrame(
            [
                (billing_record(
                    "transfer", date=f"2024-03-0{b + 1}T10:00:00.000+0000"),),
                (billing_record(
                    "request", date=f"2024-03-0{b + 1}T11:00:00.000+0000"),),
            ],
            ["value"],
        )
        pipe.process_batch(batch, b)
    transfers = pipe.table_path("transfers")
    requests = pipe.table_path("requests")

    compact_table(spark, transfers)
    assert compacted_as_of(transfers) == 1
    # the sibling keeps its full reconstructible history
    assert compacted_as_of(requests) == -1
    assert read_table_as_of(spark, requests, 0).count() == 1
    assert read_table_changes(spark, requests, since_batch=-1).count() == 2
    # and the compacted table itself still refuses below its marker
    import pytest as _pytest

    with _pytest.raises(ValueError, match="batch 1 was committed"):
        read_table_as_of(spark, transfers, 0)


def test_legacy_flat_marker_survives_per_table_migration(spark, tmp_path):
    """A pre-round-7 warehouse recorded ONE flat warehouse-scope
    compacted_as_of covering every table compacted under that format.
    The first post-upgrade compaction of any one table must NOT strip
    that floor from its siblings: a sibling compacted under the old
    format would otherwise resolve to -1 and read_table_as_of below
    its real compaction point would silently serve wrong rows."""
    import json

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.compact import (
        COMPACTED_AS_OF_FILE,
        compact_table,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources.tables import (
        compacted_as_of,
        read_table_as_of,
    )

    warehouse = str(tmp_path / "wh")
    pipe = BillingPipeline(source=None, warehouse_dir=warehouse)
    for b in range(3):
        batch = spark.createDataFrame(
            [
                (billing_record(
                    "transfer", date=f"2024-03-0{b + 1}T10:00:00.000+0000"),),
                (billing_record(
                    "request", date=f"2024-03-0{b + 1}T11:00:00.000+0000"),),
            ],
            ["value"],
        )
        pipe.process_batch(batch, b)
    transfers = pipe.table_path("transfers")
    requests = pipe.table_path("requests")

    # simulate the legacy era: both tables were compacted when the
    # marker was one flat warehouse-scope value (as of batch 1)
    with open(f"{warehouse}/{COMPACTED_AS_OF_FILE}", "w") as f:
        json.dump({"compacted_as_of": 1, "recorded_at": "2026-01-01"}, f)
    assert compacted_as_of(transfers) == 1
    assert compacted_as_of(requests) == 1

    # first post-upgrade compaction migrates to the per-table format...
    compact_table(spark, transfers)
    assert compacted_as_of(transfers) == 2
    with open(f"{warehouse}/{COMPACTED_AS_OF_FILE}") as f:
        doc = json.load(f)
    assert "tables" in doc  # migrated
    # ...but the sibling keeps the legacy floor, not -1
    assert compacted_as_of(requests) == 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="batch 1 was committed"):
        read_table_as_of(spark, requests, 0)
    # at/above the floor the sibling still reads fine
    assert read_table_as_of(spark, requests, 1).count() == 2


def test_stream_table_changes_subscribes_and_survives_compaction(spark, tmp_path):
    """A downstream pipeline subscribes to a route table as a stream:
    checkpointed availableNow drains deliver each ingested batch exactly
    once, and a compaction rewrite (anonymous part-* files) delivers
    NOTHING — the glob-filtered source only ever sees promoted batch
    files."""
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.compact import (
        compact_table,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources.tables import (
        stream_table_changes,
    )

    warehouse = str(tmp_path / "wh")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    pipe = BillingPipeline(source=None, warehouse_dir=warehouse)
    for b in range(2):
        batch = spark.createDataFrame(
            [(billing_record("transfer",
                             date=f"2024-03-0{b + 1}T10:00:00.000+0000",
                             cellName=f"pool-s{b}"),)],
            ["value"],
        )
        pipe.process_batch(batch, b)
    t = pipe.table_path("transfers")

    def drain():
        q = (
            stream_table_changes(spark, t)
            .select("cellName", "partition_date", "_batch_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    rows = {(r.cellName, r._batch_id) for r in spark.read.parquet(out).collect()}
    assert rows == {("pool-s0", 0), ("pool-s1", 1)}

    # maintenance rewrite: compaction must not re-deliver anything
    compact_table(spark, t)
    drain()
    assert spark.read.parquet(out).count() == 2

    # a post-compaction ingest batch flows through as the increment
    batch = spark.createDataFrame(
        [(billing_record("transfer", date="2024-03-07T10:00:00.000+0000",
                         cellName="pool-s2"),)],
        ["value"],
    )
    pipe.process_batch(batch, 2)
    drain()
    rows = {(r.cellName, r._batch_id) for r in spark.read.parquet(out).collect()}
    assert rows == {("pool-s0", 0), ("pool-s1", 1), ("pool-s2", 2)}
