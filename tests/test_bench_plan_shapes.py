"""Plan-shape regression gates for the bench-only perf variants.

These 11 queries exist for BENCH timings; their correctness twins are
driver-checked. What was previously verified only by reading PLANS.md
— the exchange/broadcast structure each operator's 100 TB story rests
on — is CI-checked here with measured SQLMetrics from a real run at
sf0.001. Assertions are plan-SHAPE invariants (exchange counts,
broadcast presence, shuffle existence), not byte counts: bytes move
with data content, shape regressions are what silently break the
scale posture (e.g. a lost broadcast hint re-shuffling a fact table,
a new exchange in the kmeans loop).
"""

from __future__ import annotations

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.plans.catalog import (
    BENCH_EXTRA,
)
from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.plans.metrics import (
    run_with_metrics,
)

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return run_with_metrics(BENCH_EXTRA[name](spark, SF))


def test_kmeans_is_exchange_free(spark):
    """The headline kmeans invariant: centroids ride a Python-side
    broadcast, assignment is mapInArrow — NO plan-level exchange and
    NO shuffle at any iteration count."""
    m = _run(spark, "q_llm_kmeans")
    assert m["n_exchanges"] == 0
    assert m["shuffle_bytes_written"] == 0


def test_minhash_pairs_is_banded_bucket_join(spark):
    """Banded LSH: shuffles on band buckets (bounded exchange chain),
    never an all-pairs cross join, never a broadcast of the corpus."""
    m = _run(spark, "q_llm_minhash_pairs")
    assert 1 <= m["n_exchanges"] <= 5
    assert m["n_broadcasts"] == 0
    assert m["shuffle_bytes_written"] > 0


def test_simhash_is_single_exchange(spark):
    m = _run(spark, "q_llm_simhash")
    assert m["n_exchanges"] == 1
    assert m["n_broadcasts"] == 0


def test_near_dup_blocked_avoids_broadcast_and_all_pairs(spark):
    """LSH-bucketed embedding near-dup: the blocked strategy is a
    bucket shuffle join chain — no plan broadcast of the vectors, a
    bounded exchange count (bucket + pair dedup)."""
    m = _run(spark, "q_llm_near_dup_pairs_blocked")
    assert 1 <= m["n_exchanges"] <= 3
    assert m["n_broadcasts"] == 0


def test_multimodal_features_single_byte_targeted_repartition(spark):
    """extract_features itself is shuffle-free mapInArrow; the ONE
    exchange is the explicit byte-targeted media repartition."""
    m = _run(spark, "q_llm_multimodal_features")
    assert m["n_exchanges"] == 1
    assert m["n_broadcasts"] == 0


def test_png_features_single_repartition(spark):
    m = _run(spark, "q_llm_png_features")
    assert m["n_exchanges"] == 1
    assert m["n_broadcasts"] == 0


def test_skew_join_twins_shuffle_not_broadcast(spark):
    """Both skew-stress twins must actually SHUFFLE on the hot key (the
    shuffle_hash hint exists so the skew isn't broadcast away) with the
    same macro shape: two join inputs + the final groupBy."""
    plain = _run(spark, "q_rel_skew_join_plain")
    salted = _run(spark, "q_rel_skew_join_salted")
    for m in (plain, salted):
        assert m["n_broadcasts"] == 0
        assert 2 <= m["n_exchanges"] <= 4
        assert m["shuffle_bytes_written"] > 0
    # salting adds the salt column to the shuffled rows — it must not
    # REMOVE the shuffle (that would mean the salted path broadcast)
    assert salted["shuffle_bytes_written"] >= plain["shuffle_bytes_written"]


def test_pq_topk_broadcasts_codebooks_not_corpus(spark):
    """ADC search: the tiny centroid/codebook side broadcasts (plan
    broadcasts present, row count bounded), the codes table never
    re-shuffles per query — bounded exchange chain for the top-k."""
    m = _run(spark, "q_llm_pq_topk")
    assert m["n_broadcasts"] >= 2
    assert 0 < m["broadcast_rows"] <= 10_000
    assert m["n_exchanges"] <= 3


def test_ivfadc_search_prunes_and_broadcasts(spark):
    """IVFADC: probe-list partition pruning on the codes parquet +
    broadcast of the small ADC tables; fewer exchanges than the
    unpruned PQ scan because the probe filter is partition-literal."""
    m = _run(spark, "q_llm_ivfadc_search")
    assert m["n_broadcasts"] >= 2
    assert 0 < m["broadcast_rows"] <= 10_000
    assert m["n_exchanges"] <= 2


def test_table_profile_approx_is_one_pass(spark):
    """The approx twin's 100 TB story: ONE aggregation pass (HLL/GK
    sketches), shuffle payload at KB scale, vs the exact twin's
    per-column exact distincts."""
    m = _run(spark, "q_rel_table_profile_approx")
    assert m["n_exchanges"] == 1
    assert m["n_broadcasts"] == 0
    assert m["shuffle_bytes_written"] < 1_000_000


def test_pq_rerank_broadcasts_shortlist_in_initial_plan(spark):
    """Regression for the 100x probe finding (SCALE100_r12.json): the
    exact-rerank join must broadcast the SHORTLIST side in the INITIAL
    physical plan, not rely on AQE to convert it. The planner's size
    estimate for the window-over-aggregate shortlist subtree is
    corpus-scale, so without the explicit hint the initial plan
    sort-merge-joins — shuffling the entire raw-vector corpus on
    neighbor_id (measured 86 MB at the 100x point, 318 KB with the
    hint). The executed-plan tests above can't catch this: at test SF
    AQE broadcasts the join anyway, AFTER the corpus exchange
    materializes. Auto-broadcast is disabled here so only the hint can
    produce a BroadcastHashJoin."""
    from pyspark.sql import functions as F

    from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
        pq_cosine_topk,
    )

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    q = emb.where(F.col("vec_id") < 5)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = pq_cosine_topk(emb, q, k=3, m=16, ks=16, shortlist=40)
        initial = df._jdf.queryExecution().sparkPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "SortMergeJoin" not in initial, initial
    assert initial.count("BroadcastHashJoin") >= 2, initial
