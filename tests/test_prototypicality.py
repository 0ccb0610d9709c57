"""Prototypicality scoring (operators.similarity.prototypicality):
nearest-centroid cosine, tie-break, degenerate vectors, plan shape."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
    kmeans_embeddings,
    prototypicality,
)

CENTS = [[1.0, 0.0], [0.0, 1.0]]


def _score(spark, vecs, cents=CENTS):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    return {
        r["vec_id"]: (r["cluster"], r["proto_cos"])
        for r in prototypicality(df, cents).collect()
    }


def test_nearest_centroid_and_cosine(spark):
    out = _score(
        spark,
        [[1.0, 0.0], [0.0, 2.0], [3.0, 1.0], [-1.0, 0.0]],
    )
    assert out[0] == (0, 1.0)          # exactly the prototype
    assert out[1] == (1, 1.0)          # scale-invariant
    c, s = out[2]                       # closer to x-axis
    assert c == 0
    assert s == round(3.0 / math.sqrt(10.0), 4)
    assert out[3] == (1, 0.0)          # anti-parallel to c0: cos -1 vs 0


def test_tiebreak_prefers_lower_index(spark):
    out = _score(spark, [[1.0, 1.0]])  # cos = 0.7071 to both
    assert out[0] == (0, 0.7071)


def test_zero_vector_yields_nulls(spark):
    out = _score(spark, [[0.0, 0.0]])
    assert out[0] == (None, None)


def test_zero_norm_centroid_rejected(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="zero-norm centroid"):
        prototypicality(df, [[0.0, 0.0]])


def test_accepts_kmeans_centroids(spark):
    df = spark.createDataFrame(
        [(i, [float(i % 3), float((i * 7) % 5), 1.0]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    _, cents, _ = kmeans_embeddings(df, k=3, iters=2)
    out = prototypicality(df, cents)
    rows = out.collect()
    assert len(rows) == 30
    assert {r["cluster"] for r in rows} <= {0, 1, 2}
    assert all(-1.0 <= r["proto_cos"] <= 1.0 for r in rows)


def test_scan_stage_plan(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    plan = (
        prototypicality(df, CENTS)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_plan_literal_budget_valve(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    big = [[1.0] * 101 for _ in range(1000)]  # 101k literals
    with _pytest.raises(ValueError, match="plan-literal budget"):
        prototypicality(df, big)


def test_arrow_path_is_bit_equal_to_literal_path(spark):
    """method='arrow' (what q_llm_prototypicality runs since r16) must
    be BIT-EQUAL to the plan-literal folds: the Arrow op accumulates
    dot and ||v||^2 in element order and leaves the 4-dp round + argmax
    to the same JVM expressions, so exact equality on (cluster,
    proto_cos) — not a tolerance. NULL (missing / wrong-length) and
    zero-norm contracts must agree too."""
    embs = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )
    cents = [
        r["embedding"]
        for r in embs.where(F.col("vec_id") < 8)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    lit = {
        r.vec_id: (r.cluster, r.proto_cos)
        for r in prototypicality(embs, cents).collect()
    }
    arw = {
        r.vec_id: (r.cluster, r.proto_cos)
        for r in prototypicality(embs, cents, method="arrow").collect()
    }
    assert lit == arw
    dim = len(cents[0])
    edge = spark.createDataFrame(
        [(1, None), (2, [1.0, 2.0]), (3, [0.0] * dim),
         (4, [1.0, None] + [2.0] * (dim - 2))],
        "vec_id long, embedding array<double>",
    )
    for m in ("literal", "arrow"):
        out = {
            r.vec_id: (r.cluster, r.proto_cos)
            for r in prototypicality(edge, cents, method=m).collect()
        }
        assert out == {
            1: (None, None), 2: (None, None), 3: (None, None), 4: (None, None)
        }
    # a NaN ELEMENT in the data is a VALUE, not a NULL (Spark's
    # NaN > 0 passes the norm guard) — r17, r16 advice: the arrow
    # path's cosines ride masked Float64 arrays so the pandas→Arrow
    # conversion cannot coerce the NaN to SQL NULL; both paths must
    # agree exactly (note dict == would call NaN != NaN, so compare
    # field-wise)
    nan_vec = [float("nan")] + [2.0] * (dim - 1)
    nan_df = spark.createDataFrame(
        [(1, nan_vec)], "vec_id long, embedding array<double>"
    )
    got = {
        m: prototypicality(nan_df, cents, method=m).collect()[0]
        for m in ("literal", "arrow")
    }
    for m, r in got.items():
        assert r.proto_cos is not None and math.isnan(r.proto_cos), (m, r)
    assert got["literal"].cluster == got["arrow"].cluster
    with pytest.raises(ValueError, match="unknown method"):
        prototypicality(edge, cents, method="numpy")
