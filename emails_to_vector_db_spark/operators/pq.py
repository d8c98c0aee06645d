"""Product quantization (PQ): subvector codebooks + asymmetric distance.

The compression scheme of large-scale vector indexes (FAISS ``IndexPQ``,
pgvector has no analogue — the reference stores raw float32 vectors,
``rag.py:35``): each vector is split into ``m`` contiguous subvectors and
each subvector is replaced by the id of its nearest codeword in a
per-subspace codebook, shrinking a 64-d float vector to ``m`` small ints.
Search uses the asymmetric distance computation (ADC): the query stays
full-precision and its distance to a code is the sum over subspaces of the
exact distance to the chosen codeword (Jegou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011).

Like the IVF quantizer (operators/ivf.py), codebooks are trained ONCE by
deterministic numpy k-means over a fixed sample, persisted as a JSON index
artifact, and embedded as literals in both the Spark plan and the DuckDB
oracle — the registered query loads an index, it never fits one.
"""

from __future__ import annotations


Codebooks = list[list[list[float]]]  # [m][k][dim/m]


def train_pq_codebooks(
    vectors,
    *,
    m: int = 4,
    k: int = 8,
    seed: int = 42,
) -> Codebooks:
    """Per-subspace deterministic k-means (reuses the IVF trainer): the
    i-th codebook is trained on the i-th contiguous slice of every sample
    vector. Output is reproducible bit-for-bit from (sample, m, k, seed)."""
    import numpy as np

    from emails_to_vector_db_spark.operators.ivf import train_centroids_numpy

    X = np.asarray(vectors, dtype=np.float64)
    if X.shape[1] % m:
        raise ValueError(f"dim {X.shape[1]} not divisible by m={m}")
    dsub = X.shape[1] // m
    return [
        train_centroids_numpy(
            X[:, s * dsub : (s + 1) * dsub],
            n_centroids=k,
            seed=seed + s,  # independent init per subspace
        )
        for s in range(m)
    ]

