"""Johnson–Lindenstrauss random projection: hand-checked math vs the
portable sign matrix, JL distortion statistics on the real embeddings,
NULL/shape guards, and bit-equality with a pure-Python reference."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from development_of_a_streaming_pipeline_to_ingest_dcache_billing_data_to_hive_hdfs_spark.operators.similarity import (
    jl_project,
    jl_sign_matrix,
)

SF_EMB = "/root/testdata/sf0.001/embeddings.parquet"


def test_sign_matrix_is_deterministic_and_rademacher():
    a = jl_sign_matrix(8, 4)
    b = jl_sign_matrix(8, 4)
    assert a == b
    assert all(v in (1.0, -1.0) for row in a for v in row)
    # a different salt is a different matrix (independent draws)
    c = jl_sign_matrix(8, 4, salt="jl-v2")
    assert c != a


def test_projection_matches_hand_matmul(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [0.0, -1.0, 0.5])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r.proj for r in jl_project(df, 2, in_dim=3).collect()}
    S = np.array(jl_sign_matrix(3, 2))
    for vid, x in ((1, [1.0, 2.0, 3.0]), (2, [0.0, -1.0, 0.5])):
        ref = (np.array(x) @ S) / math.sqrt(2)
        np.testing.assert_allclose(out[vid], ref, rtol=0, atol=1e-12)


def test_jl_distortion_on_real_embeddings(spark):
    """E‖y‖² = ‖x‖² for Rademacher signs; at out_dim=16 the per-vector
    spread is wide but the corpus mean must sit near 1, and pairwise
    cosines must track the originals on average."""
    embs = spark.read.parquet(SF_EMB)
    rows = jl_project(embs, 16).select("embedding", "proj").collect()
    ratios = []
    for r in rows:
        x, y = np.asarray(r.embedding, float), np.asarray(r.proj)
        ratios.append((y @ y) / (x @ x))
    assert 0.85 < float(np.mean(ratios)) < 1.15
    cos_d = []
    head = rows[:16]
    for i in range(len(head)):
        for j in range(i + 1, len(head)):
            xa = np.asarray(head[i].embedding, float)
            xb = np.asarray(head[j].embedding, float)
            ya, yb = np.asarray(head[i].proj), np.asarray(head[j].proj)
            c1 = xa @ xb / (np.linalg.norm(xa) * np.linalg.norm(xb))
            c2 = ya @ yb / (np.linalg.norm(ya) * np.linalg.norm(yb))
            cos_d.append(abs(c1 - c2))
    assert float(np.mean(cos_d)) < 0.3


def test_wrong_length_and_null_vectors_yield_null(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r.proj for r in jl_project(df, 2, in_dim=2).collect()}
    assert out[1] is not None
    assert out[2] is None  # wrong length: loud NULL, never a truncation
    assert out[3] is None


def test_guards(spark):
    embs = spark.read.parquet(SF_EMB)
    with pytest.raises(ValueError, match="out_dim"):
        jl_project(embs, 0)
    empty = embs.where(F.lit(False))
    with pytest.raises(ValueError, match="empty"):
        jl_project(empty, 4)


def _reference_projection(vec, out_dim, in_dim, salt="jl-v1"):
    """Pure-Python JL projection with the operator's float op order:
    per coordinate a left fold ``s + x_i * s_ij`` from 0.0 over the
    input dims in index order, scaled by 1/√out_dim after the sum.
    NULL, wrong-length or NULL-element vectors give None."""
    if vec is None or len(vec) != in_dim or any(v is None for v in vec):
        return None
    signs = jl_sign_matrix(in_dim, out_dim, salt)
    inv_root = 1.0 / math.sqrt(out_dim)
    out = []
    for j in range(out_dim):
        acc = 0.0
        for i in range(in_dim):
            acc = acc + float(vec[i]) * signs[i][j]
        out.append(acc * inv_root)
    return out


def test_blas_path_matches_literal_path(spark):
    """The Arrow projection (what q_llm_jl_projection runs) is BIT-EQUAL
    to the pure-Python left fold of ``_reference_projection``: it
    accumulates in input-dim order with unscaled ±1 signs and scales
    once after the sum — the identical float64 operation sequence, so
    exact equality, not a tolerance. The edge rows pin the contract:
    NULL, wrong-length and NULL-element vectors project to a NULL row,
    a zero vector to zeros, and a NaN element to NaN VALUES."""
    embs = spark.read.parquet(SF_EMB).limit(50)
    rows = jl_project(embs, 16).select("embedding", "proj").collect()
    assert len(rows) == 50
    for r in rows:
        assert r.proj == _reference_projection(r.embedding, 16, 64), (
            "projection drifted from the ordered left fold — the "
            "accumulation-order contract is broken"
        )
    edge = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [1.0, None] + [2.0] * 62),
         (4, [0.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.vec_id: r.proj for r in jl_project(edge, 4, in_dim=64).collect()
    }
    assert out == {1: None, 2: None, 3: None, 4: [0.0] * 4}
    # a NaN ELEMENT projects to NaN VALUES: the op emits an explicitly
    # masked Arrow ListArray, so the NaN is not coerced to SQL NULL on
    # the way back; list == would call NaN != NaN, so check element-wise
    nan_df = spark.createDataFrame(
        [(1, [float("nan"), 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    row = jl_project(nan_df, 4, in_dim=3).collect()[0]
    assert row.proj is not None and len(row.proj) == 4
    assert all(math.isnan(v) for v in row.proj), row.proj
    assert all(math.isnan(v) for v in _reference_projection(row.embedding, 4, 3))
    # no size limit: 64 × 2000 signs project like any other shape
    big = jl_project(embs, 2000, in_dim=64)
    row = big.limit(1).collect()[0]
    assert len(row.proj) == 2000


def test_scan_stage_only_plan(spark):
    embs = spark.read.parquet(SF_EMB)
    plan = (
        jl_project(embs, 8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_probe_skips_null_vectors(spark):
    """The in_dim probe must find a NON-NULL row — NULL-first inputs are
    exactly what the NULL-tolerant output contract admits."""
    df = spark.createDataFrame(
        [(1, None), (2, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    out = {r.vec_id: r.proj for r in jl_project(df, 2).collect()}
    assert out[1] is None and len(out[2]) == 2
    all_null = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="all-NULL"):
        jl_project(all_null, 2)
