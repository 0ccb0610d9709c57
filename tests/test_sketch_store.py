"""Persisted HLL sketch store: union≡resketch, slice-overwrite
idempotence, incremental==rebuild, partition-pruned range reads, and
the strict lg_k contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.sketches import (
    HllStore,
    sketch_slices,
    union_estimate,
)


def _events(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .withColumn("day", F.to_date("ts").cast("string"))
    )


def _drop(spark, *tables):
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sketch_slices_one_row_per_slice_exact_counts(spark):
    ev = _events(spark)
    sk = sketch_slices(ev, "day", "user_id").collect()
    exact = {
        r.day: r.n
        for r in ev.groupBy("day").agg(F.count("user_id").alias("n")).collect()
    }
    assert {r.day for r in sk} == set(exact)
    assert all(r.n_rows == exact[r.day] for r in sk)
    assert all(isinstance(r.sketch, (bytes, bytearray)) for r in sk)


def test_union_is_grouping_and_partitioning_invariant(spark):
    """Register merge is pointwise max ⇒ unioning the same per-day
    sketches gives the identical estimate however the input was
    physically partitioned. (NOT asserted: equality with a single-pass
    sketch of the raw rows — DataSketches keeps small sketches in
    exact coupon mode and a union promotes to dense HLL mode, so those
    two can differ inside the error envelope; at this tiny cardinality
    they happen to agree, which the accuracy test covers.)"""
    ev = _events(spark)
    inc = union_estimate(sketch_slices(ev, "day", "user_id")).collect()[0]
    repart = union_estimate(
        sketch_slices(ev.repartition(13), "day", "user_id")
    ).collect()[0]
    assert inc.distinct_estimate == repart.distinct_estimate
    assert inc.n_slices == ev.select("day").distinct().count()


def test_estimate_tracks_exact_distinct(spark):
    ev = _events(spark)
    est = union_estimate(sketch_slices(ev, "day", "user_id")).collect()[0]
    exact = ev.select("user_id").distinct().count()
    assert abs(est.distinct_estimate - exact) <= max(1, 0.05 * exact)


def test_store_update_is_replay_idempotent(spark):
    _drop(spark, "hll_idem")
    ev = _events(spark)
    store = HllStore(spark, "hll_idem")
    try:
        n1 = store.update(ev, "day", "user_id")
        est1 = store.estimate()
        n2 = store.update(ev, "day", "user_id")  # crash-replay
        assert n1 == n2 == len(store.slices())
        # still exactly one row per slice — overwrite, not append
        per_slice = (
            spark.table("hll_idem")
            .groupBy("slice_key")
            .count()
            .where(F.col("count") > 1)
            .count()
        )
        assert per_slice == 0
        assert store.estimate() == est1
    finally:
        store.drop()


def test_incremental_updates_match_full_rebuild(spark):
    _drop(spark, "hll_inc", "hll_full")
    ev = _events(spark)
    days = sorted(r.day for r in ev.select("day").distinct().collect())
    cut = days[len(days) // 2]
    inc = HllStore(spark, "hll_inc")
    full = HllStore(spark, "hll_full")
    try:
        inc.update(ev.where(F.col("day") <= cut), "day", "user_id")
        inc.update(ev.where(F.col("day") > cut), "day", "user_id")
        full.update(ev, "day", "user_id")
        assert inc.slices() == full.slices() == days
        assert inc.estimate() == full.estimate()
        # range reads agree too, and track the exact sub-range count
        lo, hi = days[0], cut
        sub_exact = (
            ev.where(F.col("day").between(lo, hi))
            .select("user_id")
            .distinct()
            .count()
        )
        assert inc.estimate(lo, hi) == full.estimate(lo, hi)
        assert abs(inc.estimate(lo, hi) - sub_exact) <= max(1, 0.05 * sub_exact)
    finally:
        inc.drop()
        full.drop()


def test_late_data_rewrites_one_slice(spark):
    """A late row for an already-summarized slice re-updates THAT slice
    only; the store picks up the new distinct."""
    _drop(spark, "hll_late")
    ev = _events(spark)
    day0 = ev.select(F.min("day").alias("d")).collect()[0].d
    store = HllStore(spark, "hll_late")
    try:
        store.update(ev, "day", "user_id")
        before = store.estimate()
        late = spark.createDataFrame(
            [(day0, 10_000_001), (day0, 10_000_002)], "day string, user_id long"
        )
        augmented = ev.where(F.col("day") == day0).select(
            "day", "user_id"
        ).unionByName(late)
        store.update(augmented, "day", "user_id")
        assert store.estimate() >= before + 1
        assert len(store.slices()) == ev.select("day").distinct().count()
    finally:
        store.drop()


def test_range_read_prunes_partitions(spark):
    """The slice-range filter must reach the store scan as a
    PartitionFilter — a range estimate over a 10-year store opens only
    the covered slice files."""
    _drop(spark, "hll_prune")
    ev = _events(spark)
    store = HllStore(spark, "hll_prune")
    try:
        store.update(ev, "day", "user_id")
        days = store.slices()
        pruned = store._slice_range(days[0], days[2])
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
        assert part_lines and "slice_key" in part_lines[0], plan
        assert pruned.count() == 3
    finally:
        store.drop()


def test_lg_k_contract(spark):
    with pytest.raises(ValueError, match="lg_k"):
        sketch_slices(_events(spark), "day", "user_id", lg_k=3)
    with pytest.raises(ValueError, match="lg_k"):
        HllStore(spark, "t", lg_k=22)
    # strict union: a width mismatch fails loudly rather than silently
    # degrading every register to the coarser sketch
    ev = _events(spark)
    a = sketch_slices(ev, "day", "user_id", lg_k=12)
    b = sketch_slices(ev, "day", "user_id", lg_k=13)
    with pytest.raises(Exception):
        union_estimate(a.unionByName(b)).collect()


def test_merge_folds_fragments_like_a_full_update(spark):
    """Two micro-batch fragments of one day merge to the SAME estimate
    as a single full-day update. (Exact equality holds at this
    cardinality because both paths stay in DataSketches' coupon-exact
    regime; at promoted-HLL cardinalities the guarantee is the error
    envelope, not bit equality — see the module docstring.)"""
    _drop(spark, "hll_mrg_a", "hll_mrg_b")
    ev = _events(spark)
    frag = HllStore(spark, "hll_mrg_a")
    full = HllStore(spark, "hll_mrg_b")
    try:
        frag.merge(ev.where(F.col("event_id") % 2 == 0), "day", "user_id")
        frag.merge(ev.where(F.col("event_id") % 2 == 1), "day", "user_id")
        full.update(ev, "day", "user_id")
        assert frag.slices() == full.slices()
        assert frag.estimate() == full.estimate()
        # range reads agree slice-by-slice
        for d in frag.slices()[:3]:
            assert frag.estimate(d, d) == full.estimate(d, d)
    finally:
        frag.drop()
        full.drop()


def test_merge_replay_leaves_the_estimate_fixed(spark):
    """Re-merging the SAME values is a register no-op (pointwise max):
    the estimate — the quantity the store exists for — cannot drift
    under crash-replay. n_rows is ingest accounting only."""
    _drop(spark, "hll_mrg_r")
    ev = _events(spark)
    store = HllStore(spark, "hll_mrg_r")
    try:
        batch = ev.where(F.col("event_id") % 3 == 0)
        store.merge(ev, "day", "user_id")
        before = store.estimate()
        per_day_before = {d: store.estimate(d, d) for d in store.slices()}
        store.merge(batch, "day", "user_id")  # replay
        assert store.estimate() == before
        assert {d: store.estimate(d, d) for d in store.slices()} == per_day_before
    finally:
        store.drop()


def test_merge_only_touches_the_batch_slices(spark):
    _drop(spark, "hll_mrg_t")
    ev = _events(spark)
    store = HllStore(spark, "hll_mrg_t")
    try:
        store.update(ev, "day", "user_id")
        days = store.slices()
        rows_before = {
            r.slice_key: r.n_rows for r in spark.table("hll_mrg_t").collect()
        }
        late = spark.createDataFrame(
            [(days[0], 20_000_001)], "day string, user_id long"
        )
        est_before = store.estimate()
        store.merge(late, "day", "user_id")
        rows_after = {
            r.slice_key: r.n_rows for r in spark.table("hll_mrg_t").collect()
        }
        # untouched slices keep their accounting rows byte-for-byte
        assert all(
            rows_after[d] == rows_before[d] for d in days if d != days[0]
        )
        assert rows_after[days[0]] == rows_before[days[0]] + 1
        assert store.estimate() == est_before + 1  # coupon-exact regime
        assert len(store.slices()) == len(days)
    finally:
        store.drop()


def test_pipeline_maintains_sketch_store_at_ingest(spark, tmp_path):
    """sketch_specs: the ingest pipeline register-merges each batch's
    route slice into an HllStore — distinct producers per day
    maintained AT INGEST, exactly-once via the batch ledger, replay-
    safe via register idempotence."""
    import os

    from conftest import billing_record
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources.stream import (
        billing_stream_source,
    )
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.streaming.pipeline import (
        BillingPipeline,
    )

    _drop(spark, "hll_ingest")
    input_dir, wh, ck = (str(tmp_path / d) for d in ("in", "wh", "ck"))
    os.makedirs(input_dir)
    recs = [
        billing_record("transfer", date="2024-03-01T10:00:00.000+0000", cellName="pool-a"),
        billing_record("transfer", date="2024-03-01T11:00:00.000+0000", cellName="pool-b"),
        billing_record("transfer", date="2024-03-02T10:00:00.000+0000", cellName="pool-a"),
        billing_record("request", date="2024-03-01T10:00:00.000+0000", cellName="pool-z"),
    ]
    with open(os.path.join(input_dir, "a.json"), "w") as f:
        f.write("\n".join(recs) + "\n")
    spec = {"transfers": ("partition_date", "cellName", "hll_ingest")}

    def pipe():
        return BillingPipeline(
            billing_stream_source(spark, "file", path=input_dir),
            wh,
            sketch_specs=spec,
        )

    pipe().run_available_now(ck)
    store = HllStore(spark, "hll_ingest")
    assert store.slices() == ["2024-03-01", "2024-03-02"]
    assert store.estimate() == 2  # pool-a, pool-b (requests not sketched)
    assert store.estimate("2024-03-02", "2024-03-02") == 1

    # checkpoint replay: committed batch skipped entirely, store stable
    pipe().run_available_now(ck)
    assert store.estimate() == 2
    # new producer on a new day: one slice merged, totals advance
    with open(os.path.join(input_dir, "b.json"), "w") as f:
        f.write(billing_record("transfer", date="2024-03-03T10:00:00.000+0000", cellName="pool-c") + "\n")
    pipe().run_available_now(ck)
    assert store.slices() == ["2024-03-01", "2024-03-02", "2024-03-03"]
    assert store.estimate() == 3
    store.drop()


def test_pipeline_sketch_spec_names_unknown_route(spark, tmp_path):
    import os

    import pytest as _pytest

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.streaming.pipeline import (
        ROUTES,
        BillingPipeline,
    )

    wh = str(tmp_path / "wh")
    with _pytest.raises(ValueError, match="unknown route"):
        BillingPipeline(
            source=None, warehouse_dir=wh,
            sketch_specs={"nonsense": ("partition_date", "cellName", "t")},
        )
    # refused at construction: no batch ran, so no route table exists
    assert not any(
        os.path.exists(os.path.join(wh, name)) for name in ROUTES
    )
