"""Embedding-column maintenance ops for training-data pipelines:
L2 normalization and int8 quantization (the standard storage/ANN
compression step), with per-vector quality stats.

Kernels are Arrow-batched pandas UDFs (one numpy pass per batch) for
the same reason as operators/similarity.py: Spark's array HOF
expressions are CodegenFallback (interpreted per element), while a
batch matmul/abs/round does the same math 10-100× faster. Narrow map
over the scan — no shuffle; at 100 TB this pipelines with the
parquet read.

Quantization contract (mirrored exactly by the DuckDB oracle in
queries/llm_q.py): scale = 127 / max(|x|); q_i = floor(x_i * scale
+ 0.5) — floor(x+0.5) instead of round() because numpy rounds
half-to-even while SQL engines round half-away-from-zero; floor(x+0.5)
is identical everywhere. Zero vectors quantize to zeros (mse 0).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column


def _stack(s: pd.Series) -> np.ndarray:
    return np.array(s.tolist(), dtype=np.float64)


def quantize_np(A: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Pure-numpy quantization kernel shared by the UDFs (and
    property-tested Spark-free in tests/test_properties.py).

    Returns (Q int8, norm, max_abs, mse) for a (n, dim) float64 batch.
    """
    norm = np.sqrt(np.einsum("ij,ij->i", A, A))
    max_abs = np.abs(A).max(axis=1)
    # Vectors with subnormal-or-zero range quantize to zeros: 127/x
    # overflows to inf below ~1e-306 (found by hypothesis), and such a
    # vector carries no signal anyway.
    degenerate = max_abs < 1e-300
    safe = np.where(degenerate, 1.0, max_abs)
    scale = 127.0 / safe
    Q = np.floor(A * scale[:, None] + 0.5)
    Q[degenerate] = 0.0
    DQ = Q / scale[:, None]
    mse = ((A - DQ) ** 2).mean(axis=1)
    mse[degenerate] = 0.0
    return Q.astype(np.int8), norm, max_abs, mse


def quantize_stats_arrow(vec: Column) -> Column:
    """Per-vector int8-quantization stats as a struct column:

    - ``norm``    — L2 norm of the input
    - ``max_abs`` — quantization range (127 / scale)
    - ``mse_ppm`` — mean squared reconstruction error × 1e6

    One batched numpy pass: quantize, dequantize, compare. The full
    int8 arrays stay inside the kernel.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("norm double, max_abs double, mse_ppm double")
    def _stats(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"norm": [], "max_abs": [], "mse_ppm": []})
        _, norm, max_abs, mse = quantize_np(_stack(v))
        return pd.DataFrame(
            {"norm": norm, "max_abs": max_abs, "mse_ppm": mse * 1e6}
        )

    return _stats(vec)


def covariance_partials(df, vec_col: str = "embedding", dim: int = 64):
    """Per-partition covariance-moment partials for PCA: (n, Σx, Σxxᵀ).

    The moments are DISTRIBUTIVE — each partition emits one
    (n, sum_x[d], sum_xx[d*d]) row via mapInPandas, and partials merge
    by plain addition. At 100 TB the collected driver payload is
    #partitions × (d²+d+1) doubles (a few MB for d=64 and 10⁴ tasks),
    independent of row count — the same partial-aggregate contract as
    the sketch family. Returns a DataFrame of partial rows.
    """
    import pyspark.sql.functions as F  # noqa: F401 (schema strings only)

    def _partials(it):
        for pdf in it:
            if not len(pdf):
                continue
            A = _stack(pdf[vec_col])
            yield pd.DataFrame(
                {
                    "n": [len(A)],
                    "sum_x": [A.sum(axis=0).tolist()],
                    "sum_xx": [(A.T @ A).ravel().tolist()],
                }
            )

    return df.select(vec_col).mapInPandas(
        _partials, schema="n long, sum_x array<double>, sum_xx array<double>"
    )


def pca_fit(df, vec_col: str = "embedding", dim: int = 64, k: int = 8):
    """Fit PCA from merged covariance partials; returns
    (components[k][d], explained_var[k], total_var, mean[d]).

    The only driver-side math is the d×d eigendecomposition — O(d³)
    on kilobytes, correctly NOT distributed; everything row-scaled
    runs in the cluster. Signs are canonicalized (largest-|coeff|
    entry positive) so results are deterministic across BLAS builds.
    """
    parts = covariance_partials(df, vec_col, dim).collect()
    n = sum(r["n"] for r in parts)
    sum_x = np.zeros(dim)
    sum_xx = np.zeros((dim, dim))
    for r in parts:
        sum_x += np.array(r["sum_x"])
        sum_xx += np.array(r["sum_xx"]).reshape(dim, dim)
    mean = sum_x / n
    cov = sum_xx / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T
    # canonical sign: make each component's largest-|coeff| positive
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i][j] < 0:
            comps[i] = -comps[i]
    return comps, vals[order], float(vals.sum()), mean
