"""IVF (inverted-file) approximate nearest neighbors: k-means coarse
quantizer + bucket-local exact search.

The second ANN strategy next to random-hyperplane LSH
(operators/similarity.py) — IVF is what production vector stores build
(FAISS IVF, pgvector ivfflat; the reference never builds its pgvector index,
``rag.py:77-82``). Spark mapping:

- **index build** = MLlib KMeans on a sample (a driver-coordinated
  iterative job — run once, amortized like any index build);
- **assignment** = argmin over the centroid list as a native column
  expression (centroids are literals in the plan: n_centroids × dim
  doubles — tiny), so scan-time assignment is JVM-side, no UDF;
- **search** = probes explode to their ``nprobe`` nearest centroid buckets,
  bucket-equi-join against the assigned base, exact rerank inside buckets.
  The shuffle key is the centroid id: bucket-local pair space, same
  skeleton as the LSH join.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from emails_to_vector_db_spark.functions.vector import distance, vector_lit


def n_centroids_for(
    n_rows: int, *, target_list_size: int = 128, lo: int = 16, hi: int = 65536
) -> int:
    """Coarse-quantizer size from an inverted-list budget: enough lists
    that the EXPECTED list holds ~target_list_size vectors. A fixed list
    count is the scale bug this avoids — with 16 lists forever, each
    list (and the nprobe rerank work) grows linearly with the corpus;
    k = ceil(n/target) keeps per-list rerank cost flat. lo matches the
    fixture-scale index; hi bounds the centroid table the probe
    assignment cross-joins against (65536 × 64 dims × 8B = 32 MB —
    still broadcastable)."""
    import math

    if n_rows <= lo * target_list_size:
        return lo
    return min(hi, max(lo, math.ceil(n_rows / target_list_size)))


def train_centroids(
    base: DataFrame,
    *,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    sample_fraction: float | None = None,
    target_points: int = 1000,
) -> list[list[float]]:
    """K-means centroids via MLlib — the INDEX BUILD, a driver-coordinated
    job run once and amortized (never inside a query plan; persist the
    result with sources/warehouse.py::publish_json and load it at
    query time).

    Samples by default: k-means quality needs ~``target_points`` ×
    n_centroids points, not the corpus — training on the full 100 TB base
    is the anti-pattern this default removes. Pass ``sample_fraction``
    explicitly to override (1.0 = full base)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    df = base.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    if sample_fraction is None:
        n = df.count()  # one cheap count job, part of the index build
        want = target_points * n_centroids
        sample_fraction = 1.0 if n <= want else want / n
    if sample_fraction < 1.0:
        df = df.sample(fraction=sample_fraction, seed=seed)
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(df)
    return [list(map(float, c)) for c in model.clusterCenters()]


def train_centroids_numpy(
    vectors,
    *,
    n_centroids: int = 16,
    seed: int = 42,
    max_iter: int = 25,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means on an in-memory sample (numpy, no
    Spark session, no jobs) — the quantizer build used by the registered
    query's persisted index: its output is reproducible bit-for-bit from
    (sample, seed) regardless of cluster partitioning, so the SAME
    centroid literals can be embedded in the Spark plan and the DuckDB
    oracle SQL. Centroids are rounded to 6dp for compact plan/SQL
    literals.

    The assignment step is a row-chunked BLAS gram (argmin over
    ``|c|² − 2x·c`` — the ``|x|²`` term is constant per row, so dropping
    it preserves the argmin) instead of the naive
    ``((X[:,None]-C)**2).sum(-1)`` broadcast: the corpus-scaled training
    samples this now serves (~40·k rows, k up to thousands) would make
    the broadcast allocate an n×k×d intermediate (7 GB at the sf30
    rung's 188k×4.7k×64) and run element-wise; the gram is one matmul.
    The mean update is one bincount per dimension — no per-cluster
    Python loop. Empty clusters keep their previous centroid, argmin
    ties resolve to the lowest centroid id (numpy first-min), matching
    the assignment tiebreak every consumer's oracle replays."""
    import numpy as np

    X = np.asarray(vectors, dtype=np.float64)
    n = len(X)
    if n < n_centroids:
        raise ValueError(f"need >= {n_centroids} sample vectors, got {n}")
    rng = np.random.default_rng(seed)
    centroids = X[rng.choice(n, size=n_centroids, replace=False)].copy()
    k, d = centroids.shape
    # bound the chunk score matrix at ~256 MB regardless of k
    chunk = max(256, (1 << 25) // max(k, 1))
    assign = np.empty(n, dtype=np.int64)
    for _ in range(max_iter):
        c_sq = (centroids * centroids).sum(axis=1)
        for i in range(0, n, chunk):
            xc = X[i : i + chunk]
            scores = c_sq[None, :] - 2.0 * (xc @ centroids.T)
            assign[i : i + chunk] = scores.argmin(axis=1)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        sums = np.empty((k, d), dtype=np.float64)
        for j in range(d):
            sums[:, j] = np.bincount(assign, weights=X[:, j], minlength=k)
        nz = counts > 0
        updated = centroids.copy()
        updated[nz] = sums[nz] / counts[nz, None]
        if np.allclose(updated, centroids):
            centroids = updated
            break
        centroids = updated
    return np.round(centroids, 6).tolist()


_HASH_SAMPLE_MULT = 0x9E3779B97F4A7C15  # odd ⇒ bijective mod 2^64


def hash_sample_vectors(
    source: str,
    target: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic CORPUS-SCALED training sample: the ``target`` rows
    whose multiplicative-hashed ids are smallest, read straight from
    parquet (pyarrow dataset — handles both single-file fixtures and
    Spark-written directories; no Spark session, so oracle registration
    at import time can call it). Replaces the fixed 500-row slice that
    clamped every self-tuned quantizer at 125 lists (the round-9 sf30
    superlinearity mechanism).

    Order-independent and exactly reproducible: the hash is a bijection
    over uint64, so each distinct id has a unique rank and "the target
    smallest hashes" names the same row set however the files are split.
    Two passes, both batched: pass 1 reads ONLY the id column to find
    the rank-``target`` hash threshold; pass 2 streams (id, vec) batches
    and keeps rows under it — peak memory is the sample itself, never
    the corpus. (At true 100 TB scale the same selection is one Spark
    filter ``hash(id) <= thr`` pushed into the scan; this local reader
    is the driver-side index-build path for corpora that fit one box.)
    The sample is returned in id order so k-means init is stable."""
    import numpy as np
    import pyarrow.dataset as ds

    dset = ds.dataset(source, format="parquet")
    mult = np.uint64(_HASH_SAMPLE_MULT)
    ids = dset.to_table(columns=[id_col])[id_col].to_numpy()
    if len(ids) <= target:
        tbl = dset.to_table(columns=[id_col, vec_col]).sort_by(id_col)
        return tbl[vec_col].to_pylist()
    h = ids.astype(np.uint64) * mult  # wraparound is the hash
    thr = np.partition(h, target - 1)[target - 1]
    kept_ids: list = []
    kept_vecs: list = []
    for batch in dset.to_batches(columns=[id_col, vec_col]):
        bi = batch.column(0).to_numpy()
        mask = (bi.astype(np.uint64) * mult) <= thr
        if mask.any():
            idx = np.flatnonzero(mask)
            kept_ids.append(bi[idx])
            vecs = batch.column(1).to_pylist()
            kept_vecs.extend(vecs[i] for i in idx)
    order = np.argsort(np.concatenate(kept_ids), kind="stable")
    return [kept_vecs[i] for i in order]


def _dist_to(vec_col: Column, centroid: list[float]) -> Column:
    return distance("sqeuclidean", vec_col, vector_lit(centroid))


def _centroid_entries(
    vec_col: Column, centroids: list[list[float]]
) -> Column:
    """(dist, cid) structs for every centroid as ONE runtime
    ``transform`` over a single nested array literal — NOT one unrolled
    distance expression per centroid: per-centroid unrolling is fine at
    k=16 but the analysis/codegen cost grows with k (measured: the
    streaming index ingest at the 10× corpus self-tunes to k≈125 and
    spent ~45s of its 47s in per-micro-batch plan compilation of 125
    separate higher-order aggregates; this shape compiles one loop).
    The argmin tiebreak — struct-compare (dist, cid) — is unchanged, so
    every oracle hash is preserved. (Also NOT a when-chain fold, which
    references the running best twice per step: exponential tree.)

    The nested literal goes through ONE parsed F.expr string, not
    F.lit(nested python list): the py4j element-wise conversion of a
    125×64 literal measured 5.6s per construction (and foreachBatch
    would pay it per micro-batch); the SQL parser takes milliseconds."""
    for c in centroids:
        for x in c:
            if not math.isfinite(x):
                # repr(nan/inf) -> "nanD"/"infD" fails SQL parsing at
                # plan build time with an opaque error; a non-finite
                # centroid means a degenerate/empty k-means cluster
                # upstream — name it.
                raise ValueError(
                    "non-finite centroid component (degenerate k-means "
                    f"cluster upstream): {x!r} in centroid {c!r}"
                )
    lit_sql = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
            for c in centroids
        )
        + ")"
    )
    cents = F.expr(lit_sql)
    return F.transform(
        cents,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(
                    vec_col, c, lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("d"),
            i.alias("cid"),
        ),
    )


def assign_centroid(vec_col: Column, centroids: list[list[float]]) -> Column:
    """argmin centroid id as a pure column expression (no UDF): min over
    (dist, id) structs."""
    return F.array_min(_centroid_entries(vec_col, centroids)).getField("cid")


def nearest_centroids(
    vec_col: Column, centroids: list[list[float]], nprobe: int
) -> Column:
    """The ``nprobe`` nearest centroid ids, as an array (for probe-side
    multibucket search): sort (dist, id) structs, take the prefix."""
    return F.transform(
        F.slice(
            F.array_sort(_centroid_entries(vec_col, centroids)), 1, nprobe
        ),
        lambda s: s.getField("cid"),
    )


# Interpreted-vs-Arrow assignment cutover, expressed on the quantizer
# size alone: k self-tunes to ~n/128, so n·k·d ≈ 128·k²·64 crosses the
# measured ~10M-element-op interpreted-fold budget near k≈35. Below the
# cutover the pure column expression wins (scan-local, pushdown-friendly,
# no Python lane spin-up); above it the BLAS expansion is the only sane
# lane (measured: the r10 jittered sf10 fixture self-tunes to k=1563 and
# the interpreted assignment took 498s for a plan the Arrow lane runs in
# seconds).
_ASSIGN_ARROW_K_CUTOVER = 48
# At k ≥ this, Arrow-lane assignment arithmetic drops to float32 and the
# score block is sized to stay CPU-cache-resident: the f64 n×k score
# matrix is what made the sf30 assignment memory-bound — 30 concurrent
# workers each streaming 134 MB blocks through DRAM collapsed aggregate
# throughput to ~4 GFLOP/s (measured: 114s for 360 GFLOP; one solo
# worker gets 3.9 GF/s, thirty together share the same DRAM). No oracle
# replays any k ≥ 48 assignment (those corpora take the expression
# lane), so f32 near-tie flips are unobservable.
_ASSIGN_F32_K_CUTOVER = 512


def _assign_dtype_chunk(k: int):
    """(dtype, row-chunk) for centroid-scoring lanes: chunk × k scores
    bounded at ~2 MB so the block lives in L2/L3 instead of DRAM."""
    import numpy as np

    dt = np.float32 if k >= _ASSIGN_F32_K_CUTOVER else np.float64
    itemsize = 4 if dt is np.float32 else 8
    return dt, max(64, (2 << 20) // max(k * itemsize, 1))


def _assign_with_vec_arrow(
    base: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """assign_centroids_arrow with the vector column PASSED THROUGH the
    Arrow batch (schema (id, vec, _cid)) so the bucket join's rerank
    side needs no second base scan/join to recover the embedding."""
    import numpy as np
    import pandas as pd

    dt, chunk = _assign_dtype_chunk(len(centroids))
    C = np.asarray(centroids, dtype=dt)
    c_sq = (C * C).sum(axis=1)
    vec_type = dict(base.dtypes)[vec_col]

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                yield pdf.assign(_cid=np.zeros(0, dtype="int32"))
                continue
            X = np.stack(
                [np.asarray(v, dtype=dt) for v in pdf[vec_col]]
            )
            cid = np.empty(len(X), dtype="int32")
            for i in range(0, len(X), chunk):
                # +|x|² is constant per row — dropping it keeps argmin
                d = c_sq[None, :] - 2.0 * (X[i : i + chunk] @ C.T)
                cid[i : i + chunk] = d.argmin(axis=1).astype("int32")
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    vec_col: pdf[vec_col].values,
                    "_cid": cid,
                }
            )

    return base.select(id_col, vec_col).mapInPandas(
        assign,
        schema=f"{id_col} bigint, {vec_col} {vec_type}, _cid int",
    )


def ivf_ann_join(
    probes: DataFrame,
    base: DataFrame,
    k: int = 5,
    *,
    centroids: list[list[float]] | None = None,
    n_centroids: int = 16,
    nprobe: int = 2,
    seed: int = 42,
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
    base_id: str = "vec_id",
    base_vec: str = "embedding",
    metric: str = "l2",
    dist_col: str = "distance",
    arrow: bool | None = None,
) -> DataFrame:
    """Approximate KNN join through an IVF index. Pass prebuilt
    ``centroids`` (a published index, publish_json) to amortize the
    index across queries — the intended production path; otherwise
    sample-trains on the base as a convenience (an index build runs
    inside the call). BOTH sides cut over from column expressions to
    the Arrow BLAS lanes at _ASSIGN_ARROW_K_CUTOVER lists (override
    with ``arrow``): the base side because the interpreted fold is
    n·k·d element-ops, and the probe side because the k×dim centroid
    LITERAL itself costs analyzer/codegen time proportional to k —
    measured 23s at k=4688 for a 20-row probe frame; the Arrow lane
    ships centroids by closure, zero plan bytes.

    Column contract: BOTH lanes narrow base to (base_id, base_vec)
    before assignment — identical internal schema on either side of
    the cutover (r10 ADVICE) — and the result is always exactly
    (probe_id, base_id, dist_col). Callers needing extra base columns
    join the result back to base on ``base_id``."""
    if centroids is None:
        centroids = train_centroids(
            base, vec_col=base_vec, n_centroids=n_centroids, seed=seed
        )
    if arrow is None:
        arrow = len(centroids) >= _ASSIGN_ARROW_K_CUTOVER
    if arrow:
        base_a = _assign_with_vec_arrow(
            base, centroids, id_col=base_id, vec_col=base_vec
        )
        probe_a = probe_centroids_with_vec_arrow(
            probes,
            centroids,
            nprobe,
            id_col=probe_id,
            vec_col=probe_vec,
            out_cid="_cid",
        )
    else:
        base_a = base.select(base_id, base_vec).withColumn(
            "_cid", assign_centroid(F.col(base_vec), centroids)
        )
        probe_a = probes.select(probe_id, probe_vec).withColumn(
            "_cid",
            F.explode(
                nearest_centroids(F.col(probe_vec), centroids, nprobe)
            ),
        )
    cand = base_a.join(F.broadcast(probe_a), "_cid").withColumn(
        dist_col, distance(metric, F.col(base_vec), F.col(probe_vec))
    )
    w = Window.partitionBy(probe_id).orderBy(
        F.col(dist_col).asc(), F.col(base_id).asc()
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(probe_id, base_id, dist_col)
    )


def assign_centroids_arrow(
    df: "DataFrame", centroids: list[list[float]], vec_col: str = "embedding"
):
    """Vectorized centroid assignment through the Arrow lane:
    ``mapInPandas`` computes all pairwise squared-L2 distances as one
    BLAS expansion (‖x‖² + ‖c‖² − 2 X·Cᵀ) and takes the row argmin
    (numpy argmin returns the FIRST minimal index — the same smallest-
    cid tiebreak as the (dist, cid) struct-min of assign_centroid).

    This is the INDEX-MAINTENANCE lane: the expression form above stays
    a pure scan projection (pushdown-friendly, right for query-time
    assignment at small k), but higher-order folds are interpreted per
    element — at the 10× corpus' self-tuned k≈125 one micro-batch spent
    ~6s in boxed fold arithmetic that BLAS does in milliseconds.
    Returns (vec_id, cid int).
    """
    import numpy as np
    import pandas as pd

    dt, chunk = _assign_dtype_chunk(len(centroids))
    C = np.asarray(centroids, dtype=dt)
    c_sq = (C * C).sum(axis=1)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"].values,
                     "cid": np.zeros(0, dtype="int32")}
                )
                continue
            X = np.stack(
                [np.asarray(v, dtype=dt) for v in pdf[vec_col]]
            )
            cid = np.empty(len(X), dtype="int32")
            for i in range(0, len(X), chunk):
                xc = X[i : i + chunk]
                # |x|² is constant per row — dropping it preserves argmin
                d = c_sq[None, :] - 2.0 * (xc @ C.T)
                cid[i : i + chunk] = d.argmin(axis=1).astype("int32")
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].values, "cid": cid}
            )

    return df.select("vec_id", vec_col).mapInPandas(
        assign, schema="vec_id bigint, cid int"
    )


def probe_centroids_arrow(
    df: "DataFrame",
    centroids: list[list[float]],
    nprobe: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_cid: str = "cid",
):
    """The ``nprobe`` nearest centroid ids through the Arrow BLAS lane —
    the large-k sibling of ``nearest_centroids`` (which stays an
    interpreted per-element struct sort: right at query-time k≈16,
    measured to destruction at a self-tuned k≈1.5k × 200k rows — the
    ~10M-element-op cutover rule). One BLAS expansion per batch, then a
    STABLE row argsort: columns are in cid order, so equal distances
    keep ascending cid — the same (dist, cid) tiebreak as the struct
    sort and the oracle's rank. Returns (id_col, out_cid) exploded to
    one row per probed list."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    p = min(nprobe, len(C))

    def probe(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({id_col: [], out_cid: []})
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            near = _nearest_p_chunked(X, C, p)
            ids = np.repeat(pdf[id_col].values, p)
            yield pd.DataFrame(
                {id_col: ids, out_cid: near.ravel().astype("int32")}
            )

    return df.select(id_col, vec_col).mapInPandas(
        probe, schema=f"{id_col} bigint, {out_cid} int"
    )


def probe_centroids_with_vec_arrow(
    df: "DataFrame",
    centroids: list[list[float]],
    nprobe: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_cid: str = "cid",
):
    """probe_centroids_arrow with the vector PASSED THROUGH the Arrow
    batch — (id, vec, cid) exploded to one row per probed list, so a
    downstream per-list cogroup needs no join back to the vector frame
    (measured as the r10 sf30 join leg: re-joining (id, cid) onto the
    embeddings recomputed the probe lane under each consumer — 158s of
    pure rework; the pass-through duplicates nprobe× the vector bytes
    into the ONE shuffle the cogroup pays anyway)."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    p = min(nprobe, len(C))
    vec_type = dict(df.dtypes)[vec_col]

    def probe(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(
                    {id_col: [], vec_col: [], out_cid: []}
                )
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            near = _nearest_p_chunked(X, C, p)
            idx = np.repeat(np.arange(len(pdf)), p)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values[idx],
                    vec_col: pdf[vec_col].values[idx],
                    out_cid: near.ravel().astype("int32"),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        probe,
        schema=f"{id_col} bigint, {vec_col} {vec_type}, {out_cid} int",
    )


def _nearest_p_chunked(X, C, p):
    """Row-wise p nearest centroid ids in (dist asc, cid asc) order —
    argpartition + an exact lexsort of the selected slice instead of a
    FULL per-row argsort (measured as the r10 sf30 probe leg: 247k rows
    × a full stable sort of k=4688 ≈ 14G comparisons, 124s; the
    partition is linear in k). A margin of 8 beyond p is re-sorted
    exactly; if the distance at the cut (position p-1) still equals the
    LAST distance in the slice (position m-1), candidates tied at the
    selection boundary may extend past the margin, so that row falls
    back to an exact full lexsort — exactness never depends on the
    margin width (r10 ADVICE). Row-chunked like the assignment lane to
    bound the score matrix."""
    import numpy as np

    n, k = len(X), len(C)
    dt, chunk = _assign_dtype_chunk(k)
    C = np.asarray(C, dtype=dt)
    X = np.asarray(X, dtype=dt)
    c_sq = (C * C).sum(axis=1)
    m = min(k, p + 8)
    out = np.empty((n, p), dtype=np.int64)
    for i in range(0, n, chunk):
        xc = X[i : i + chunk]
        d = c_sq[None, :] - 2.0 * (xc @ C.T)  # +|x|² row-constant
        if m < k:
            part = np.argpartition(d, m - 1, axis=1)[:, :m]
        else:
            part = np.broadcast_to(np.arange(k), (len(xc), k)).copy()
        dp = np.take_along_axis(d, part, axis=1)
        # exact (dist, cid) order within the selected slice
        for r in range(len(xc)):
            order = np.lexsort((part[r], dp[r]))
            dps = dp[r][order]
            if m < k and dps[p - 1] == dps[m - 1]:
                # boundary tie may cross the margin: exact full sort
                full = np.lexsort((np.arange(k), d[r]))[:p]
                out[i + r] = full
            else:
                out[i + r] = part[r][order[:p]]
    return out


def round_half_away(a, decimals: int = 6):
    """SQL-compatible rounding for numpy arrays: half AWAY from zero.

    ``np.round`` is banker's (half-to-even) while DuckDB ``round`` and
    Spark ``F.round`` both round half away from zero — a value landing
    exactly on a half-ulp boundary (possible under fixture regeneration)
    would round differently and flip an oracle hash. Every Arrow lane
    that rounds a value the oracle also rounds must use this, never
    ``np.round``."""
    import numpy as np

    f = 10.0**decimals
    return np.sign(a) * np.floor(np.abs(a) * f + 0.5) / f


def min_cost_arrow(
    df: "DataFrame",
    seeds: list[list[float]],
    vec_col: str = "embedding",
    *,
    round_dp: int = 6,
):
    """Min squared-L2 distance to a seed set, via the same BLAS
    expansion as assign_centroids_arrow — the kmeans/coreset COSTING
    lane (sensitivity sampling, inertia audits). Clamped at 0 (the
    expansion's cancellation can go 1e-13 negative on exact matches)
    and rounded to ``round_dp`` so the value is engine-portable.
    Returns (vec_id, cost double)."""
    import numpy as np
    import pandas as pd

    C = np.asarray(seeds, dtype=np.float64)
    c_sq = (C * C).sum(axis=1)

    def cost(batches):
        for pdf in batches:
            if len(pdf):
                X = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                d = (
                    (X * X).sum(axis=1)[:, None]
                    + c_sq[None, :]
                    - 2.0 * (X @ C.T)
                )
                c = round_half_away(
                    np.maximum(d.min(axis=1), 0.0), round_dp
                )
            else:
                c = np.zeros(0, dtype="float64")
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].values, "cost": c}
            )

    return df.select("vec_id", vec_col).mapInPandas(
        cost, schema="vec_id bigint, cost double"
    )
