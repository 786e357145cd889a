"""Distributed PCA fit over an embedding column (ML-infra operator).

The scale shape is the classic two-phase moment computation: executors
reduce the corpus to second-moment partials, the driver finishes with
an eigendecomposition of the d x d covariance (d = embedding dim, tiny
vs the corpus — the same driver-finishes-bounded-state discipline as
the IVF/PQ codebook training in ``operators/similarity.py``).

DETERMINISM BY CONSTRUCTION (the repo's rows-only contract): float
partial sums are partition-order-sensitive at the ULP level, which can
flip rounded outputs. So the kernel QUANTIZES each float32 coordinate
to a 2^20 fixed-point int64 and accumulates integer moments — numpy
int64 matmul per Arrow batch, elementwise-summed across batches by an
integer Spark aggregate. Integer sums are exact and order-free, so the
covariance handed to numpy (and hence the spectrum) is bit-identical
under ANY partitioning. Quantization costs ~1e-6 relative on inputs
in [-1, 1] — far below the spectrum's rounding — and bounds: with
|x| <= 8 the per-cell magnitude is n * (8 * 2^20)^2, safe in int64 up
to n ~ 1e4 billion-scale... concretely n * 2^46 < 2^63 -> n < 1.3e5
per PARTIAL batch and the cross-batch sum is widened on the driver, so
the practical bound is n < ~1.3e17 rows total: not the binding
constraint at any realistic corpus.

Output: eigenvalues (descending), explained-variance ratios, and
components with a deterministic sign convention (the largest-|.|
coordinate of each component is made positive).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tfm_semisup_spark.functions.vector import stack_f64

#: fixed-point scale for the deterministic integer moments
_Q_BITS = 20
_Q = 1 << _Q_BITS


def _moment_kernel(dim: int):
    """mapInPandas kernel: per Arrow batch emit flattened int64 moment
    partials as (idx, val) rows — idx in [0, dim²) is the xxT cell,
    [dim², dim²+dim) the coordinate sums, dim²+dim the row count."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = stack_f64(pdf.iloc[:, 0])
            xq = np.rint(x * _Q).astype(np.int64)
            xxt = xq.T @ xq  # int64 exact
            sx = xq.sum(axis=0)
            idx = np.arange(dim * dim + dim + 1, dtype=np.int64)
            val = np.concatenate(
                [xxt.reshape(-1), sx, np.array([len(pdf)], dtype=np.int64)]
            )
            yield pd.DataFrame({"idx": idx, "val": val})

    return gen


def fit_pca(
    df: DataFrame, vec_col: str, dim: int, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
    """Exact-covariance PCA fit: returns (components [k, dim],
    eigenvalues [k] descending, explained_ratio [k], n_rows).

    One corpus pass (Arrow kernel) -> integer moment aggregate
    (dim²+dim+1 rows) -> driver eigendecomposition."""
    partials = df.select(F.col(vec_col).alias("v")).mapInPandas(
        _moment_kernel(dim), schema="idx long, val long"
    )
    agg = (
        partials.groupBy("idx").agg(F.sum("val").alias("s")).collect()
    )
    flat = np.zeros(dim * dim + dim + 1, dtype=np.float64)
    for r in agg:
        flat[r["idx"]] = float(r["s"])
    n = int(flat[-1])
    if n < 2:
        raise ValueError("PCA needs at least 2 rows")
    sx = flat[dim * dim : dim * dim + dim] / _Q
    xxt = flat[: dim * dim].reshape(dim, dim) / (_Q * _Q)
    mean = sx / n
    cov = xxt / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    vals = evals[order]
    comps = evecs[:, order].T
    # deterministic sign: make each component's largest-|.| coord positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total_var = float(np.trace(cov))
    ratio = vals / total_var if total_var > 0 else np.zeros_like(vals)
    return comps, vals, ratio, n
