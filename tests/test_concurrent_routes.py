"""The concurrency contract of ``BillingPipeline``'s route writes: a
micro-batch's five route writes run at once, every route job runs under
the callback thread's job group and session tags, and one failing route
fails the batch only after its siblings have returned, leaving a batch a
replay completes exactly once.

Every test runs on a bare local warehouse and on a ``file://`` one: the
latter drives the Hadoop FileSystem over py4j from the route threads."""

from __future__ import annotations

import os
import threading
import time

import pytest

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sink import (
    batch_manifest_path,
    batch_metrics_path,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.streaming import (
    pipeline as pipeline_mod,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.streaming.pipeline import (
    ROUTES,
    BillingPipeline,
)

from conftest import billing_record

EXPECTED = {"transfers": 2, "requests": 1, "storage": 1, "removes": 1, "rejects": 1}


@pytest.fixture(params=["bare", "file_uri"])
def warehouse(request, tmp_path):
    wh = tmp_path / "wh"
    return str(wh) if request.param == "bare" else f"file://{wh}"


def _batch(spark):
    recs = [
        billing_record("transfer", date="2024-03-01T10:00:00.000+0000"),
        billing_record("transfer", date="2024-03-02T11:00:00.000+0000"),
        billing_record("request", date="2024-03-01T12:00:00.000+0000"),
        billing_record("store", date="2024-03-01T13:00:00.000+0000"),
        billing_record("remove", date="2024-03-01T14:00:00.000+0000"),
        billing_record("alien", date="2024-03-01T15:00:00.000+0000"),
    ]
    return spark.createDataFrame([(r,) for r in recs], ["value"])


def _counts(spark, pipe):
    return {n: spark.read.parquet(pipe.table_path(n)).count() for n in ROUTES}


def test_route_writes_overlap(spark, warehouse, monkeypatch):
    """All five route writes are in flight at once: each waits at a
    five-party barrier before writing, which a serial loop never
    passes (its first write breaks the barrier on the timeout)."""
    real_write = pipeline_mod.write_partitioned_batch
    barrier = threading.Barrier(len(ROUTES), timeout=30)

    def meeting_write(df, path, batch_id, fs=None):
        barrier.wait()
        real_write(df, path, batch_id, fs=fs)

    monkeypatch.setattr(pipeline_mod, "write_partitioned_batch", meeting_write)
    pipe = BillingPipeline(source=None, warehouse_dir=warehouse)
    pipe.process_batch(_batch(spark), 0)
    assert pipe.ledger.is_committed(0)
    assert _counts(spark, pipe) == EXPECTED


def test_route_jobs_inherit_job_group_and_tags(spark, warehouse):
    """Every job the batch starts, the route writes' on their own
    threads included, belongs to the caller's job group and carries its
    session tag — so cancelling the group (or stopping the streaming
    query that set it) reaches the route writes."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    store = sc._jsc.sc().statusStore()
    group, tag = "route-writes-group", "route-writes-tag"
    pipe = BillingPipeline(source=None, warehouse_dir=warehouse)
    batch = _batch(spark)
    bus.waitUntilEmpty(10_000)
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "concurrent route writes")
    spark.addTag(tag)
    try:
        pipe.process_batch(batch, 0)
    finally:
        spark.removeTag(tag)
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    bus.waitUntilEmpty(10_000)
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped_before
    group_jobs = tracker.getJobIdsForGroup(group)
    assert len(group_jobs) >= len(ROUTES)  # at least one job per route write
    for job in group_jobs:
        tags = store.job(job).jobTags().mkString("\n").split("\n")
        assert any(t.endswith("-" + tag) for t in tags), (job, tags)
    assert _counts(spark, pipe) == EXPECTED


@pytest.mark.parametrize("failing", ROUTES)
def test_failed_route_raises_after_siblings_return(spark, warehouse, monkeypatch, failing):
    """One route fails at once while its siblings still write: the
    batch raises that failure only after every sibling has returned,
    commits nothing, and its replay lands each route exactly once and
    retires every manifest."""
    real_write = pipeline_mod.write_partitioned_batch
    events: list[tuple[str, str]] = []
    lock = threading.Lock()

    def failing_write(df, path, batch_id, fs=None):
        name = os.path.basename(path)
        if name == failing:
            raise RuntimeError(f"simulated {name} failure")
        real_write(df, path, batch_id, fs=fs)
        time.sleep(0.2)  # a raise that did not wait would beat this
        with lock:
            events.append(("returned", name))

    monkeypatch.setattr(pipeline_mod, "write_partitioned_batch", failing_write)
    pipe = BillingPipeline(source=None, warehouse_dir=warehouse)
    batch = _batch(spark)
    with pytest.raises(RuntimeError, match=f"simulated {failing} failure"):
        pipe.process_batch(batch, 4)
    with lock:
        seen = list(events)
    assert sorted(seen) == sorted(("returned", n) for n in ROUTES if n != failing)
    assert not pipe.ledger.is_committed(4)
    assert not pipe.fs.exists(batch_metrics_path(warehouse, 4))

    monkeypatch.setattr(pipeline_mod, "write_partitioned_batch", real_write)
    pipe.process_batch(batch, 4)
    assert pipe.ledger.is_committed(4)
    assert _counts(spark, pipe) == EXPECTED
    for name in ROUTES:
        assert not pipe.fs.exists(batch_manifest_path(pipe.table_path(name), 4))


def test_first_failure_in_route_order_wins(spark, warehouse, monkeypatch):
    """When several routes fail, the one raised is the first in route
    order, not the first to fail in time."""

    def failing_write(df, path, batch_id, fs=None):
        name = os.path.basename(path)
        time.sleep(0.1 * (len(ROUTES) - ROUTES.index(name)))  # rejects fails first
        raise RuntimeError(f"simulated {name} failure")

    monkeypatch.setattr(pipeline_mod, "write_partitioned_batch", failing_write)
    pipe = BillingPipeline(source=None, warehouse_dir=warehouse)
    with pytest.raises(RuntimeError, match=f"simulated {ROUTES[0]} failure"):
        pipe.process_batch(_batch(spark), 0)
    assert not pipe.ledger.is_committed(0)
