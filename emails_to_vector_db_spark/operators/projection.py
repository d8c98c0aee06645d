"""Dimensionality reduction over embedding columns: Johnson-Lindenstrauss
random projection and PCA (via a distributed Gram matrix).

The reference stores 384-dim vectors raw and scans them exactly
(``rag.py:35,77-82``); at 100 TB the standard first move is to shrink the
vectors. Both reducers here are scan-time, zero-shuffle column maps once
the (tiny) projection matrix exists:

- JL: a seeded Gaussian matrix — data-independent, no training pass.
- PCA: components from the d×d Gram/covariance matrix. d is small (64
  here, ≤ a few thousand in practice), so the scalable split is:
  distributed single-pass partial ``X^T X`` per Arrow batch (mapInPandas)
  → tiny d×d reduce → driver eigendecomposition → distributed projection
  with the components as plan literals. The 100 TB corpus is read once;
  nothing wider than d×d ever crosses the wire.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType


def jl_matrix(in_dim: int, out_dim: int, seed: int) -> list[list[float]]:
    """Seeded Gaussian JL projection matrix (in_dim × out_dim), scaled by
    1/sqrt(out_dim) so expected pairwise L2 is preserved. Entries are
    rounded to 6dp so the SAME literals can be embedded exactly in both
    the Spark plan and a SQL oracle."""
    rng = np.random.RandomState(seed)
    m = rng.standard_normal((in_dim, out_dim)) / np.sqrt(out_dim)
    return [[round(float(x), 6) for x in row] for row in m]


def project_vectors(
    df: DataFrame,
    vec_col: str,
    matrix: Sequence[Sequence[float]],
    out_col: str = "projected",
) -> DataFrame:
    """Project ``vec_col`` (array<float>) through ``matrix`` with one
    Arrow-batched numpy matmul per batch — a narrow map, no shuffle, and
    the matrix rides the UDF closure (broadcast-sized by construction)."""
    m = np.asarray(matrix, dtype=np.float64)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _proj(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy()).astype(np.float64)
        y = x @ m
        return pd.Series(list(y))

    return df.withColumn(out_col, _proj(F.col(vec_col)))


def gram_matrix(df: DataFrame, vec_col: str) -> tuple[np.ndarray, np.ndarray, int]:
    """Distributed single-pass second-moment statistics: returns
    ``(sum_outer, sum_vec, n)`` where sum_outer = Σ x xᵀ (d×d),
    sum_vec = Σ x. Per Arrow batch, mapInPandas emits ONE row carrying
    the flattened partial ``XᵀX`` — so the shuffle-to-driver volume is
    (#batches)·d², independent of row count. Covariance/PCA follow on the
    driver from these sufficient statistics."""
    schema = "n long, sum_vec array<double>, sum_outer array<double>"

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            x = np.stack(b[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [len(x)],
                    "sum_vec": [x.sum(axis=0)],
                    "sum_outer": [(x.T @ x).ravel()],
                }
            )

    rows = df.select(vec_col).mapInPandas(partials, schema).collect()
    if not rows:
        raise ValueError("gram_matrix: empty input")
    d = len(rows[0]["sum_vec"])
    n = sum(r["n"] for r in rows)
    sum_vec = np.zeros(d)
    sum_outer = np.zeros((d, d))
    for r in rows:
        sum_vec += np.asarray(r["sum_vec"])
        sum_outer += np.asarray(r["sum_outer"]).reshape(d, d)
    return sum_outer, sum_vec, n


def pca_from_moments(
    sum_outer: np.ndarray, sum_vec: np.ndarray, n: int, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Top-k PCA from sufficient statistics: covariance
    Σxxᵀ/n − μμᵀ, symmetric eigendecomposition, components sign-fixed
    (largest-|coordinate| positive) so the result is deterministic up to
    the fp noise of the moment sums. Returns (mean, components d×k,
    eigenvalues k, descending)."""
    mu = sum_vec / n
    cov = sum_outer / n - np.outer(mu, mu)
    w, v = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order]
    for j in range(comps.shape[1]):
        i = int(np.abs(comps[:, j]).argmax())
        if comps[i, j] < 0:
            comps[:, j] = -comps[:, j]
    return mu, comps, w[order]


def train_pca_numpy(
    vectors: Sequence[Sequence[float]], k: int
) -> tuple[list[float], list[list[float]], list[float]]:
    """Reference (sequential) PCA for index building and tests: same
    moments → same eigendecomposition as the distributed path. Rounded to
    8dp so the persisted artifact embeds exactly in Spark and SQL."""
    x = np.asarray(vectors, dtype=np.float64)
    mu, comps, w = pca_from_moments(x.T @ x, x.sum(axis=0), len(x), k)
    return (
        [round(float(v), 8) for v in mu],
        [[round(float(c), 8) for c in comps[:, j]] for j in range(comps.shape[1])],
        [round(float(e), 8) for e in w],
    )


def dot_literal(vec_col: Column | str, vec: Sequence[float]) -> Column:
    """dot(column, literal vector) as a single codegen-able fold."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    lit = F.array(*[F.lit(float(x)) for x in vec])
    return F.aggregate(
        F.zip_with(c.cast("array<double>"), lit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
