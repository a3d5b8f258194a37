"""Unit tests for embedding maintenance kernels (int8 quantization, PCA)."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from hw_kafka_streams_spark.operators.embeddings import (
    quantize_np,
    quantize_stats_arrow,
)


def _df(spark, vecs):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id int, embedding array<double>"
    )


def test_quantize_roundtrip_error_small_and_range_exact(spark):
    df = _df(spark, [[1.0, -0.5, 0.25, 0.0]])
    r = df.select(quantize_stats_arrow(F.col("embedding")).alias("s")).head()["s"]
    assert abs(r["max_abs"] - 1.0) < 1e-12
    assert abs(r["norm"] - math.sqrt(1 + 0.25 + 0.0625)) < 1e-12
    # max reconstruction error per element is (1/254) of the range
    assert r["mse_ppm"] < (0.5 / 127) ** 2 * 1e6


def test_quantize_int8_values():
    q = quantize_np(np.array([[1.0, -1.0, 0.5, 0.0]]))[0]
    assert q[0].tolist() == [127, -127, 64, 0]  # 0.5*127+0.5 = 64.0 -> floor 64


def test_quantize_zero_vector_is_zero(spark):
    df = _df(spark, [[0.0, 0.0, 0.0]])
    q = quantize_np(np.zeros((1, 3)))[0][0].tolist()
    r = df.select(quantize_stats_arrow(F.col("embedding")).alias("s")).head()["s"]
    assert q == [0, 0, 0]
    assert r["mse_ppm"] == 0.0 and r["norm"] == 0.0


def test_pca_partials_match_numpy_and_project(spark, sf_dir):
    """Distributed covariance partials must reproduce single-machine
    numpy PCA exactly (same moments → same eigh), and projection
    variance must equal the explained variance."""
    from hw_kafka_streams_spark.operators.embeddings import pca_fit
    from hw_kafka_streams_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    dim = len(emb.select("embedding").first()[0])
    comps, ev, total_var, mean = pca_fit(emb, dim=dim, k=4)

    A = np.array([r[0] for r in emb.select("embedding").collect()], dtype=np.float64)
    ref_mean = A.mean(axis=0)
    assert np.allclose(mean, ref_mean, atol=1e-9)
    ref_cov = (A.T @ A) / len(A) - np.outer(ref_mean, ref_mean)
    ref_vals = np.sort(np.linalg.eigvalsh(ref_cov))[::-1][:4]
    assert np.allclose(ev, ref_vals, rtol=1e-8)
    # explained variance ordering + bounds
    assert ev[0] >= ev[-1] >= 0
    assert ev.sum() <= total_var + 1e-9

    P = (A - mean) @ np.asarray(comps).T
    # per-axis variance of the projection == the eigenvalue
    assert np.allclose(P.var(axis=0), ev, rtol=1e-6)
    # components are orthonormal
    G = comps @ comps.T
    assert np.allclose(G, np.eye(len(comps)), atol=1e-9)
