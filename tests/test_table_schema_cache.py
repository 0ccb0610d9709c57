"""Pinned-schema table loads (``sources/tables.read_parquet``): a load of
an unchanged table starts no Spark job, a changed file set is inferred
again, and an entry never serves another parquet-inference setting."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.plans import (
    QUERIES,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources.tables import (
    load_table,
)

from tests.conftest import SF_DIR

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn started), counted by job group
    through the status tracker after the listener bus has drained."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_unchanged_table_starts_no_job(spark):
    for name in ("lineitem", "events"):
        first = load_table(spark, SF_DIR, name)
        second, jobs = _jobs(spark, lambda: load_table(spark, SF_DIR, name))
        assert jobs == 0, name
        assert second.schema == first.schema, name


def test_second_catalog_build_starts_no_job(spark):
    # the billing query loads events too; that load leaves nanosAsLong
    # as it was, so it re-keys no later load
    load_table(spark, SF_DIR, "events")
    names = (
        "q_rel_q5_nation_volume",
        "q_rel_top3_parts_per_brand",
        "q_billing_flagship_daily",
        "q_llm_unicode_normalize",
    )
    for name in names:
        QUERIES[name](spark, SF_DIR)
    for name in names:
        _, jobs = _jobs(spark, lambda: QUERIES[name](spark, SF_DIR))
        assert jobs == 0, name


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


@pytest.mark.parametrize("uri", [False, True], ids=["local", "hadoop"])
def test_rewritten_single_file_table_is_inferred_again(spark, tmp_path, uri):
    sf_dir = f"file://{tmp_path}" if uri else str(tmp_path)
    path = os.path.join(sf_dir, "t.parquet")
    _write(str(tmp_path / "t.parquet"), {"a": [1, 2]})
    assert load_table(spark, sf_dir, "t").columns == ["a"]
    load_table(spark, sf_dir, "t")
    _write(str(tmp_path / "t.parquet"), {"a": [1, 2], "b": ["x", "y"]})
    got = load_table(spark, sf_dir, "t")
    assert got.schema == spark.read.parquet(path).schema
    assert got.columns == ["a", "b"]
    assert sorted(got.collect()) == [(1, "x"), (2, "y")]


@pytest.mark.parametrize("uri", [False, True], ids=["local", "hadoop"])
def test_changed_directory_table_is_inferred_again(spark, tmp_path, uri):
    sf_dir = f"file://{tmp_path}" if uri else str(tmp_path)
    path = os.path.join(sf_dir, "d.parquet")
    spark.createDataFrame([(1,)], "a long").write.parquet(path)
    assert load_table(spark, sf_dir, "d").columns == ["a"]
    load_table(spark, sf_dir, "d")
    # rewritten in place with an extra column
    spark.createDataFrame([(1, "x")], "a long, b string").write.mode(
        "overwrite"
    ).parquet(path)
    got = load_table(spark, sf_dir, "d")
    assert got.schema == spark.read.parquet(path).schema
    assert got.columns == ["a", "b"]
    # a file added beside the old ones with one more column; merged
    # inference so the fresh schema is the union, whatever file is first
    merge = spark.conf.get("spark.sql.parquet.mergeSchema")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        load_table(spark, sf_dir, "d")
        _write(
            str(tmp_path / "d.parquet" / "part-added.parquet"),
            {"a": [2], "b": ["y"], "c": [3.0]},
        )
        got = load_table(spark, sf_dir, "d")
        assert got.schema == spark.read.parquet(path).schema
        assert got.columns == ["a", "b", "c"]
        assert got.count() == 2
    finally:
        spark.conf.set("spark.sql.parquet.mergeSchema", merge)


def test_events_load_flips_nanos_conf_only_for_a_nanos_footer(spark, tmp_path):
    """The shipped events.ts is TIMESTAMP(MICROS): loading it leaves
    nanosAsLong as it was, so a pinned lineitem entry keeps serving. A
    TIMESTAMP(NANOS) footer turns the conf on and keeps it, and its
    ``ts`` still loads as a microsecond timestamp."""
    from pyspark.sql import functions as F

    before = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, "false")
        load_table(spark, SF_DIR, "lineitem")
        load_table(spark, SF_DIR, "events")
        assert spark.conf.get(NANOS) == "false"
        assert _jobs(spark, lambda: load_table(spark, SF_DIR, "lineitem"))[1] == 0
        _write(
            str(tmp_path / "events.parquet"),
            {"ts": pa.array([1_000_000_000_123], pa.timestamp("ns"))},
        )
        ev = load_table(spark, str(tmp_path), "events")
        assert spark.conf.get(NANOS) == "true"
        assert dict(ev.dtypes) == {"ts": "timestamp"}
        assert ev.select(F.unix_micros("ts")).first()[0] == 1_000_000_000
    finally:
        spark.conf.set(NANOS, before)


def test_entry_is_not_served_under_another_nanos_setting(spark, tmp_path):
    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.sources.tables import (
        read_parquet,
    )

    plain = str(tmp_path / "plain.parquet")
    _write(plain, {"id": [1]})
    nanos = str(tmp_path / "nanos.parquet")
    _write(nanos, {"ts": pa.array([1_000_000_000_123], pa.timestamp("ns"))})
    before = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, "false")
        read_parquet(spark, plain)
        assert _jobs(spark, lambda: read_parquet(spark, plain))[1] == 0
        # the entry inferred under false does not serve true
        spark.conf.set(NANOS, "true")
        assert _jobs(spark, lambda: read_parquet(spark, plain))[1] == 1
        assert _jobs(spark, lambda: read_parquet(spark, plain))[1] == 0
        # nor does a true entry serve false: there the nanos column is
        # illegal, and a pinned bigint schema would hide that
        assert dict(read_parquet(spark, nanos).dtypes) == {"ts": "bigint"}
        spark.conf.set(NANOS, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, nanos)
    finally:
        spark.conf.set(NANOS, before)
