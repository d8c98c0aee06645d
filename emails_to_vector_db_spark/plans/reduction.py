"""Dimensionality-reduction queries: JL random projection and PCA over
the embeddings table.

The reference scans full-width vectors for every search (``rag.py:77-82``);
these queries are the standard 100 TB countermeasure — shrink the vectors
once at ingest, search the narrow column. Both are hash-checked: the
projection matrices are plan literals (seeded JL / persisted PCA index),
so DuckDB replays the identical linear algebra in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emails_to_vector_db_spark.functions.vector import l2_distance
from emails_to_vector_db_spark.operators.projection import (
    jl_matrix,
    project_vectors,
    train_pca_numpy,
)
from emails_to_vector_db_spark.plans.registry import register
from emails_to_vector_db_spark.sources.tables import load_table
from emails_to_vector_db_spark.sources.warehouse import publish_json

_DIM = 64
_JL_OUT = 16
_JL_SEED = 7
_JL_M = jl_matrix(_DIM, _JL_OUT, _JL_SEED)  # in_dim × out_dim

_PCA_K = 4
_PCA_SAMPLE = "/root/testdata/sf0.001/embeddings.parquet"


def _jl_cols_sql() -> str:
    """The JL matrix's columns as DuckDB VALUES rows (j, DOUBLE[64])."""
    cols = []
    for j in range(_JL_OUT):
        vec = [_JL_M[i][j] for i in range(_DIM)]
        cols.append(f"({j}, {vec}::DOUBLE[])")
    return ", ".join(cols)


_JL_ORACLE = f"""
WITH m AS (
    SELECT * FROM (VALUES {_jl_cols_sql()}) AS t(j, col)
),
pairs AS (
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           a.embedding::DOUBLE[] AS va, b.embedding::DOUBLE[] AS vb,
           list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS orig
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
),
pd AS (
    SELECT vec_id_a, vec_id_b, orig,
           sqrt(sum(pow(
               list_dot_product(va, m.col) - list_dot_product(vb, m.col), 2
           ))) AS proj
    FROM pairs CROSS JOIN m
    GROUP BY vec_id_a, vec_id_b, orig
)
SELECT vec_id_a, vec_id_b,
       round(orig, 6) + 0.0 AS orig_dist,
       round(proj, 6) + 0.0 AS proj_dist
FROM pd
"""


@register(
    "embedding_jl_projection_pairs",
    oracle=_JL_ORACLE,
    tags=("vector", "reduction", "jl"),
    bench=True,
)
def embedding_jl_projection_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64→16 (seeded Gaussian
    matrix, a data-independent index: no training pass), verified by
    emitting original vs projected pairwise L2 for adjacent-id pairs —
    the distance-preservation claim made checkable.

    Scale shape: the projection itself is a zero-shuffle Arrow-batched
    matmul at scan time (4× narrower vectors for every downstream KNN /
    dedup pass). The pair join is the verification harness, not the
    operator; it keys on vec_id so AQE handles it like any equi-join.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    proj = project_vectors(emb, "embedding", _JL_M, "p").select(
        "vec_id", "embedding", "p"
    )
    a = proj.alias("a")
    b = proj.alias("b")
    pairs = a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
    return pairs.select(
        F.col("a.vec_id").alias("vec_id_a"),
        F.col("b.vec_id").alias("vec_id_b"),
        (F.round(l2_distance(F.col("a.embedding"), F.col("b.embedding")), 6)
         + F.lit(0.0)).alias("orig_dist"),
        (F.round(l2_distance(F.col("a.p"), F.col("b.p")), 6)
         + F.lit(0.0)).alias("proj_dist"),
    )


def _pca_index():
    """The persisted PCA index (mean + top-k components), published once
    per generation of the fixed sf0.001 training sample via pyarrow +
    numpy — no Spark session, no jobs, exactly like the IVF quantizer
    (``plans/vector.py::_ivf_centroids``). Both the Spark plan and the
    DuckDB oracle embed these SAME literals."""

    def train() -> tuple:
        import pyarrow.parquet as pq

        tbl = pq.read_table(_PCA_SAMPLE, columns=["vec_id", "embedding"])
        d = tbl.sort_by("vec_id").to_pydict()
        return train_pca_numpy(d["embedding"], _PCA_K)

    return tuple(publish_json(f"pca_index_k{_PCA_K}", [_PCA_SAMPLE], train))


def _pca_oracle() -> str:
    mean, comps, _ = _pca_index()
    import numpy as np

    offs = [float(np.dot(mean, c)) for c in comps]
    cols = []
    for j, (c, off) in enumerate(zip(comps, offs)):
        expr = f"list_dot_product(embedding::DOUBLE[], {c}::DOUBLE[]) - {off!r}"
        cols.append(f"round(avg({expr}), 6) + 0.0 AS mean_c{j}")
        cols.append(f"round(var_pop({expr}), 6) + 0.0 AS var_c{j}")
    return f"SELECT count(*) AS n_vectors, {', '.join(cols)} FROM embeddings"


@register(
    "embedding_pca_topvar",
    oracle=_pca_oracle(),
    tags=("vector", "reduction", "pca"),
    bench=True,
)
def embedding_pca_topvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection onto the top-4 persisted principal components, with
    per-component mean and population variance of the projected corpus —
    the explained-variance profile an ingest pipeline monitors to decide
    how narrow the stored vectors can be.

    The component matrix is a PERSISTED index artifact (published once
    per training-sample generation): no
    eigendecomposition in this query's plan. Centering uses linearity —
    dot(x−μ, c) = dot(x, c) − dot(μ, c) — so the plan subtracts a scalar
    literal per component instead of re-centering every vector. The
    distributed training path (single-pass partial XᵀX via mapInPandas,
    driver-side eigh) is ``operators/projection.py::gram_matrix`` /
    ``pca_from_moments``, equivalence-tested against this index in
    tests/test_projection.py.
    """
    import numpy as np

    mean, comps, _ = _pca_index()
    offs = [float(np.dot(mean, c)) for c in comps]
    emb = load_table(spark, sf_dir, "embeddings")
    # comps is k rows of length d → transpose to d×k for projection.
    mat = [[comps[j][i] for j in range(len(comps))] for i in range(_DIM)]
    proj = project_vectors(emb, "embedding", mat, "p")
    aggs = [F.count(F.lit(1)).alias("n_vectors")]
    for j, off in enumerate(offs):
        c = F.col("p")[j] - F.lit(off)
        aggs.append((F.round(F.avg(c), 6) + F.lit(0.0)).alias(f"mean_c{j}"))
        aggs.append((F.round(F.var_pop(c), 6) + F.lit(0.0)).alias(f"var_c{j}"))
    return proj.agg(*aggs)
