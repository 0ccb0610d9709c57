"""Prototypicality scoring (operators.similarity.prototypicality):
nearest-centroid cosine, tie-break, degenerate vectors, plan shape."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

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


def _round4(x):
    """Spark's ``round(double, 4)``: HALF_UP on the shortest decimal
    form of the double; NaN passes through."""
    if math.isnan(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _reference_score(vec, cents):
    """Pure-Python prototypicality with the operator's float op order:
    ``dot`` and ``‖v‖²`` are left folds from 0.0 in element order, the
    divisor is ``‖v‖·‖c‖``, then a 4-dp round and an argmax that ranks
    NaN above every number (Spark's ordering) with the lower centroid
    index winning ties. NULL, wrong-length, NULL-element and zero-norm
    vectors give (None, None)."""
    dim = len(cents[0])
    if vec is None or len(vec) != dim or any(v is None for v in vec):
        return (None, None)
    x = [float(v) for v in vec]
    nsq = 0.0
    for v in x:
        nsq = nsq + v * v
    nv = math.sqrt(nsq)
    if nv == 0.0:
        return (None, None)
    scores = []
    for c in cents:
        c = [float(v) for v in c]
        dot = 0.0
        for a, b in zip(x, c):
            dot = dot + a * b
        norm_c = math.sqrt(sum(v * v for v in c))
        scores.append(_round4(dot / (nv * norm_c)))
    best = max(scores, key=lambda v: (math.isnan(v), v))
    same = (lambda v: math.isnan(v)) if math.isnan(best) else (lambda v: v == best)
    return (next(i for i, v in enumerate(scores) if same(v)), best)


def test_arrow_path_is_bit_equal_to_literal_path(spark):
    """The Arrow scorer (what q_llm_prototypicality runs) is BIT-EQUAL
    to the pure-Python fold of ``_reference_score``: the op accumulates
    dot and ||v||^2 in element order and leaves the 4-dp round + argmax
    to JVM expressions, so exact equality on (cluster, proto_cos) — not
    a tolerance. The edge rows pin the NULL contract: NULL,
    wrong-length, zero-norm and NULL-element vectors score (NULL, NULL)."""
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
    vecs = {r.vec_id: r.embedding for r in embs.collect()}
    got = {
        r.vec_id: (r.cluster, r.proto_cos)
        for r in prototypicality(embs, cents).collect()
    }
    assert got == {k: _reference_score(v, cents) for k, v in vecs.items()}
    dim = len(cents[0])
    edge = spark.createDataFrame(
        [(1, None), (2, [1.0, 2.0]), (3, [0.0] * dim),
         (4, [1.0, None] + [2.0] * (dim - 2))],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.vec_id: (r.cluster, r.proto_cos)
        for r in prototypicality(edge, cents).collect()
    }
    assert out == {
        1: (None, None), 2: (None, None), 3: (None, None), 4: (None, None)
    }
    # a NaN ELEMENT in the data is a VALUE, not a NULL: the cosines
    # ride masked Arrow arrays, so the NaN is not coerced to SQL NULL
    # (dict == would call NaN != NaN, so compare field-wise)
    nan_vec = [float("nan")] + [2.0] * (dim - 1)
    nan_df = spark.createDataFrame(
        [(1, nan_vec)], "vec_id long, embedding array<double>"
    )
    r = prototypicality(nan_df, cents).collect()[0]
    ref_cluster, ref_cos = _reference_score(nan_vec, cents)
    assert r.proto_cos is not None and math.isnan(r.proto_cos), r
    assert math.isnan(ref_cos) and r.cluster == ref_cluster
