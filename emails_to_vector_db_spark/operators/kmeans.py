"""Distributed Lloyd's k-means over an embedding column — the fully
distributed IVF index build.

The persisted IVF quantizer (operators/ivf.py) trains on an in-memory
sample, which is the right default (a coarse quantizer needs thousands
of points, not a corpus). This module closes the remaining caveat: when
the index must be trained on the FULL corpus (billions of vectors,
nothing fits in driver memory), each Lloyd round is two corpus-shaped
Spark stages and one driver-side k×d reduce:

1. assignment — the same argmin-over-literal-centroids column
   expression the IVF query uses at search time (JVM-side, no UDF,
   no shuffle);
2. update — posexplode the vector to (cid, dim, value), one groupBy
   (cid, dim) avg: a single shuffle of k×d partial sums per partition
   (map-side combine), collecting only k×d doubles to the driver.

Centroids stay plan literals between rounds, so every round's lineage
is flat (no growing plan, no checkpoint needed — the collected
centroids ARE the truncation point).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from emails_to_vector_db_spark.operators.ivf import assign_centroid


def lloyd_step(
    df: DataFrame, vec_col: str, centroids: Sequence[Sequence[float]]
) -> list[list[float]]:
    """One Lloyd round: assign every vector to its nearest centroid
    (literal-centroid argmin expression), recompute per-cluster means
    distributed, return the updated k×d centroid list. Empty clusters
    keep their previous centroid (same rule as the numpy trainer)."""
    k = len(centroids)
    # Two staged selects: ExtractGenerator's rewrite of a select that
    # mixes posexplode with the argmin struct-array expression strips the
    # struct field aliases (same Catalyst generator pitfall documented in
    # operators/dedup.py) — assignment first, explode second.
    assigned = df.select(
        assign_centroid(F.col(vec_col), list(centroids)).alias("cid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    exploded = assigned.select(
        "cid", F.posexplode("v").alias("dim", "val")
    )
    rows = (
        exploded.groupBy("cid", "dim")
        .agg(F.avg("val").alias("m"))
        .collect()
    )
    updated = [list(c) for c in centroids]
    seen = set()
    for r in rows:
        updated[r["cid"]][r["dim"]] = r["m"]
        seen.add(r["cid"])
    for j in range(k):
        if j not in seen:  # empty cluster: keep previous centroid
            updated[j] = list(centroids[j])
    return updated


def lloyd_kmeans(
    df: DataFrame,
    vec_col: str,
    init_centroids: Sequence[Sequence[float]],
    *,
    n_iter: int = 5,
) -> list[list[float]]:
    """Run ``n_iter`` distributed Lloyd rounds from explicit initial
    centroids (deterministic by construction — pass a seeded sample).
    Returns the final centroid list, ready to publish via
    sources/warehouse.py::publish_json as a full-corpus-trained index."""
    cents = [list(c) for c in init_centroids]
    for _ in range(n_iter):
        cents = lloyd_step(df, vec_col, cents)
    return cents
