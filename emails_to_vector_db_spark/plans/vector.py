"""Vector-search queries: KNN top-k (flagship), KNN join, ANN, near-dup.

Parity target: the reference's pgvector KNN search (``rag.py:65-90``) —
exact L2, k=5, full scan, result columns (id, content, distance)
(``rag.py:77-90``). The probe here is a stored embedding rather than a
model-encoded user query so the whole query is deterministic; the
model-encode path lives in pipeline/ behind the embedder interface.

Oracle note: distances are rounded to 6dp on both sides; both engines
compute in double over the same element order, so the hash matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emails_to_vector_db_spark.functions.vector import (
    cosine_similarity,
    l2_distance,
)
from emails_to_vector_db_spark.plans.registry import register
from emails_to_vector_db_spark.sources.tables import load_table, table_path
from emails_to_vector_db_spark.sources.warehouse import publish_json, publish_landing

PROBE_ID = 7
K = 5

_FLAGSHIP_ORACLE = f"""
WITH probe AS (
    SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = {PROBE_ID}
)
SELECT e.vec_id,
       d.text AS content,
       round(list_distance(e.embedding::DOUBLE[], p.q), 6) AS distance
FROM embeddings e
CROSS JOIN probe p
JOIN documents d ON d.doc_id = e.vec_id
WHERE e.vec_id <> {PROBE_ID}
ORDER BY list_distance(e.embedding::DOUBLE[], p.q) ASC, e.vec_id ASC
LIMIT {K}
"""


@register(
    "knn_topk_l2",
    oracle=_FLAGSHIP_ORACLE,
    tags=("vector", "knn", "T1", "J1", "flagship"),
    bench=True,
)
def knn_topk_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: exact L2 top-5 neighbors of a stored probe vector, joined
    to document text — the reference's retrieval query (``rag.py:77-82``)
    with the products⋈embeddings join the reference denormalizes away
    (``rag.py:48``) restored as a real join (J1).

    Plan shape: probe row broadcast; a LEFT-SEMI prefilter against the
    pruned ``documents(doc_id)`` column keeps the oracle contract (an
    embedding without a documents row is not a candidate, so the result
    can never shrink below K nor diverge from the oracle, which joins
    before LIMIT) WITHOUT dragging document text through the scan; then
    distance map-side and TakeOrderedAndProject for the top-k; finally
    the K-row result broadcast-joins document text. At 100 TB the wide
    corpus-sized text column is touched only by the final K-row
    broadcast join — never shuffled, never sorted.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    topk = (
        emb.where(F.col("vec_id") != PROBE_ID)
        .join(
            docs.select("doc_id"),
            F.col("vec_id") == F.col("doc_id"),
            "left_semi",
        )
        .crossJoin(
            F.broadcast(
                emb.where(F.col("vec_id") == PROBE_ID).select(
                    F.col("embedding").alias("q")
                )
            )
        )
        .withColumn("dist_raw", l2_distance("embedding", "q"))
        .orderBy(F.col("dist_raw").asc(), F.col("vec_id").asc())
        .limit(K)
        .select("vec_id", "dist_raw")
    )
    return (
        F.broadcast(topk)
        .join(docs.select("doc_id", "text"), F.col("vec_id") == F.col("doc_id"))
        .select(
            "vec_id",
            F.col("text").alias("content"),
            F.round("dist_raw", 6).alias("distance"),
        )
    )


_COSINE_ORACLE = f"""
WITH probe AS (
    SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = {PROBE_ID}
),
scored AS (
    SELECT e.vec_id, e.label,
           list_dot_product(e.embedding::DOUBLE[], p.q)
             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(p.q, p.q))) AS sim
    FROM embeddings e CROSS JOIN probe p
    WHERE e.vec_id <> {PROBE_ID}
)
SELECT vec_id, label, round(sim, 6) AS cos_sim
FROM scored
ORDER BY sim DESC, vec_id ASC
LIMIT {K}
"""


@register(
    "knn_topk_cosine",
    oracle=_COSINE_ORACLE,
    tags=("vector", "knn", "T1", "F3"),
)
def knn_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-similarity top-5 (pgvector ``<=>`` family — unused by the
    reference but same operator class, SURVEY.md F3)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probe = F.broadcast(
        emb.where(F.col("vec_id") == PROBE_ID).select(
            F.col("embedding").alias("q")
        )
    )
    return (
        emb.where(F.col("vec_id") != PROBE_ID)
        .crossJoin(probe)
        .withColumn("sim", cosine_similarity("embedding", "q"))
        .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(K)
        .select("vec_id", "label", F.round("sim", 6).alias("cos_sim"))
    )


N_PROBES = 8

_KNN_JOIN_ORACLE = f"""
WITH probes AS (
    SELECT vec_id AS probe_id, embedding::DOUBLE[] AS q
    FROM embeddings WHERE vec_id < {N_PROBES}
),
scored AS (
    SELECT p.probe_id, e.vec_id,
           list_distance(e.embedding::DOUBLE[], p.q) AS dist,
           row_number() OVER (
               PARTITION BY p.probe_id
               ORDER BY list_distance(e.embedding::DOUBLE[], p.q) ASC,
                        e.vec_id ASC
           ) AS rn
    FROM embeddings e CROSS JOIN probes p
    WHERE e.vec_id <> p.probe_id
)
SELECT probe_id, vec_id, round(dist, 6) AS distance
FROM scored WHERE rn <= {K}
"""


@register(
    "knn_join_multi_probe",
    oracle=_KNN_JOIN_ORACLE,
    tags=("vector", "knn", "J3"),
    bench=True,
)
def knn_join_multi_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact KNN similarity join (J3): k=5 nearest base vectors for each of
    8 probe vectors — the generalization of the reference's 1-probe search
    (``rag.py:77-82``). Probes broadcast; per-probe window top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    # Self-matches (distance 0) must be excluded BEFORE ranking or they
    # consume a top-k slot, so the plain operators.knn_join isn't reused here.
    pairs = (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("probe_id"))
        .withColumn("dist", l2_distance("embedding", "probe_vec"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= K)
        .select("probe_id", "vec_id", F.round("dist", 6).alias("distance"))
    )


_HARDNEG_ORACLE = f"""
WITH probes AS (
    SELECT vec_id AS probe_id, label AS probe_label,
           embedding::DOUBLE[] AS q
    FROM embeddings WHERE vec_id < {N_PROBES}
),
scored AS (
    SELECT p.probe_id, e.vec_id,
           list_distance(e.embedding::DOUBLE[], p.q) AS dist,
           row_number() OVER (
               PARTITION BY p.probe_id
               ORDER BY list_distance(e.embedding::DOUBLE[], p.q) ASC,
                        e.vec_id ASC
           ) AS rn
    FROM embeddings e JOIN probes p ON e.label <> p.probe_label
)
SELECT probe_id, vec_id, round(dist, 6) AS distance
FROM scored WHERE rn <= {K}
"""


@register(
    "hard_negative_mining",
    oracle=_HARDNEG_ORACLE,
    tags=("vector", "knn", "contrastive", "training-data"),
    bench=True,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard negatives: for each probe, the k
    NEAREST vectors with a DIFFERENT label — the standard mining step
    for embedding-model training data (closest wrong-class examples
    make the strongest negatives). The label inequality is the join
    predicate itself, so candidates are pruned before any distance is
    computed.

    Plan: probes broadcast (queries are small by definition), label
    filter + distance map-side, one per-probe window top-k — the exact
    knn_join shape with a theta predicate; at 100 TB the same
    IVF-routed cutover as knn_join_adaptive applies (filter labels
    after list intersection)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("embedding").alias("probe_vec"),
    )
    pairs = (
        emb.select("vec_id", "label", "embedding")
        .join(
            F.broadcast(probes),
            F.col("label") != F.col("probe_label"),
        )
        .withColumn("dist", l2_distance("embedding", "probe_vec"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= K)
        .select("probe_id", "vec_id", F.round("dist", 6).alias("distance"))
    )


_CUTOVER_ORACLE = f"""
WITH probes AS (
    SELECT vec_id AS probe_id, embedding::DOUBLE[] AS q
    FROM embeddings WHERE vec_id < {N_PROBES}
),
scored AS (
    SELECT p.probe_id, e.vec_id,
           list_distance(e.embedding::DOUBLE[], p.q) AS dist,
           row_number() OVER (
               PARTITION BY p.probe_id
               ORDER BY list_distance(e.embedding::DOUBLE[], p.q) ASC,
                        e.vec_id ASC
           ) AS rn
    FROM embeddings e CROSS JOIN probes p
)
SELECT probe_id, vec_id, round(dist, 6) AS distance
FROM scored WHERE rn <= {K}
"""


@register(
    "knn_join_probe_cutover",
    oracle=_CUTOVER_ORACLE,
    tags=("vector", "knn", "ivf", "J3"),
    bench=True,
)
def knn_join_probe_cutover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LARGE-PROBE-SET plan for the KNN join, driver-checkable: the
    probe-count cutover (operators/knn.py::knn_join_adaptive) forced
    onto its IVF route (max_broadcast_probes=0), with nprobe covering
    every centroid so candidates are the whole base and the result is
    EXACT — the same brute-force oracle as knn_join_multi_probe
    (self-matches included here: the generic join keeps them, rank 1 at
    distance 0). At 10⁶ probes this is the plan that runs: both sides
    bucketed by centroid list, candidates only within shared lists,
    never the |base|·|probes| pair space."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    probes = emb.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    from emails_to_vector_db_spark.operators.knn import knn_join_adaptive

    return knn_join_adaptive(
        probes,
        emb,
        K,
        max_broadcast_probes=0,
        n_probes=N_PROBES,
        n_centroids=8,
        nprobe=8,
    ).select("probe_id", "vec_id", F.round("distance", 6).alias("distance"))


_ANN_TARGET_BUCKET = 64
_ORACLE_SF_DIR = "/root/testdata/sf0.01"  # the driver's correctness scale


def _embeddings_rows(sf_dir: str) -> int:
    """Corpus row count from parquet FOOTER metadata only — no data read,
    no Spark job; this is what index sizing keys off at plan time.
    pyarrow.dataset handles both single-file fixtures and Spark-written
    directory datasets (e.g. the .scale stress corpus)."""
    import pyarrow.dataset as ds

    return ds.dataset(
        f"{sf_dir.rstrip('/')}/embeddings.parquet", format="parquet"
    ).count_rows()


def _ann_planes(n_rows: int) -> list[list[float]]:
    """The ann_lsh_topk index: SELF-TUNED hyperplane count — planes =
    n_planes_for(corpus rows, bucket budget 64), so expected bucket
    occupancy stays ~flat as the corpus grows (4 planes at the 500-row
    sf0.01 fixture, 5 at sf0.1's 2000 rows, 24 at 10^9). Values rounded
    to 6dp so the SAME literals are embedded in both the Spark plan and
    the DuckDB oracle SQL."""
    from emails_to_vector_db_spark.operators.similarity import (
        n_planes_for,
        random_hyperplanes,
    )

    n_planes = n_planes_for(
        n_rows, target_bucket_size=_ANN_TARGET_BUCKET, lo=4
    )
    return random_hyperplanes(dim=64, n_planes=n_planes, seed=42)


def _ann_lsh_oracle() -> str:
    """The full LSH search — sign-bit bucketing with literal hyperplanes,
    Hamming-1 multiprobe, per-probe cosine top-k — spelled in ANSI SQL
    (same construction proven for the dedup oracles at plans/dedup.py)."""
    planes = _ann_planes(_embeddings_rows(_ORACLE_SF_DIR))
    bits = " + ".join(
        f"(CASE WHEN list_dot_product(v, {p}::DOUBLE[]) > 0 THEN {2**i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {2**i})" for i in range(len(planes))]
    )
    return f"""
WITH bucketed AS (
    SELECT vec_id, embedding::DOUBLE[] AS v, ({bits})::BIGINT AS bucket
    FROM embeddings
),
probes AS (
    SELECT vec_id AS probe_id, v AS q,
           unnest([{probe_list}]) AS probe_bucket
    FROM bucketed WHERE vec_id < {N_PROBES}
),
cand AS (
    SELECT p.probe_id, b.vec_id,
           1.0 - list_dot_product(b.v, p.q)
                 / (sqrt(list_dot_product(b.v, b.v))
                    * sqrt(list_dot_product(p.q, p.q))) AS dist
    FROM probes p JOIN bucketed b ON p.probe_bucket = b.bucket
),
ranked AS (
    SELECT probe_id, vec_id, dist,
           row_number() OVER (
               PARTITION BY probe_id ORDER BY dist ASC, vec_id ASC
           ) AS rn
    FROM cand
)
SELECT probe_id, vec_id, round(dist, 6) + 0.0 AS distance
FROM ranked WHERE rn <= {K}
"""
# ^ "+ 0.0" canonicalizes IEEE -0.0 (cos slightly >1 on self-matches) to
# +0.0 so the value hash agrees with Spark; mirrored in the Spark select.


@register(
    "ann_lsh_topk",
    oracle=_ann_lsh_oracle(),
    tags=("vector", "ann", "lsh"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate KNN join via random-hyperplane LSH with Hamming-1
    multiprobe (operators/similarity.py) — the scale path the reference
    never built (pgvector with no index, ``rag.py:77-82``). Deterministic:
    literal planes (the prebuilt index — no Spark job at plan time; the
    plane COUNT self-tunes to the corpus row count from parquet footer
    metadata via n_planes_for, keeping expected bucket occupancy ~flat
    at any scale), fixed tiebreaks; the DuckDB oracle replays the
    identical bucketing with the same plane literals, so the whole
    approximate search is hash-checked, not just row-counted. Recall vs
    exact and the occupancy budget are asserted in
    tests/test_similarity.py."""
    from emails_to_vector_db_spark.operators.similarity import ann_lsh_join

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    res = ann_lsh_join(
        probes,
        emb,
        k=K,
        planes=_ann_planes(_embeddings_rows(sf_dir)),
        metric="cosine",
    )
    return res.select(
        "probe_id",
        "vec_id",
        (F.round("distance", 6) + F.lit(0.0)).alias("distance"),
    )


_IVF_NPROBE = 4
_IVF_SEED = 42
# training rows per target list: sample = max(500, 40·k) grows WITH the
# self-tuned k so the quantizer is never clamped by a fixed slice (the
# round-9 sf30 superlinearity: 500 fixed rows → k capped at 125 lists
# forever → per-list rerank grows linearly with the corpus)
_IVF_SAMPLE_PER_LIST = 40


def _ivf_k(n_rows: int) -> int:
    """SELF-TUNED quantizer size: k = n_centroids_for(corpus rows) keeps
    the expected inverted-list length ~flat as the corpus grows (16 lists
    at the 500-row fixture; ~n/128 beyond). Keyed into the index artifact
    path, so each corpus size loads/trains its own persisted quantizer."""
    from emails_to_vector_db_spark.operators.ivf import n_centroids_for

    return n_centroids_for(n_rows)


def _ivf_sample_target(k: int) -> int:
    return max(500, _IVF_SAMPLE_PER_LIST * k)


def _ivf_centroids(k: int, sf_dir: str) -> list[list[float]]:
    """The persisted IVF quantizer for THIS corpus: published once per
    fixture generation as a warehouse JSON artifact (sources/
    warehouse.py — keyed by the source's path, mtime and size, so a
    regenerated fixture or a basename-colliding corpus retrains instead
    of serving a stale index), built from a CORPUS-SCALED deterministic
    hash sample (max(500, 40·k) rows of the corpus's own embeddings,
    read via pyarrow — no Spark session, no jobs) with deterministic
    numpy k-means. Both the Spark plan and the DuckDB oracle embed these
    SAME centroid literals, so the registered query never fits k-means —
    it loads the index, like a real vector store. Because the sample
    grows with k, the expected list length stays ~128 at any corpus
    size: the round-9 sf30 superlinearity (quantizer clamped at 125
    lists by a fixed 500-row sample) cannot recur."""
    from emails_to_vector_db_spark.operators.ivf import (
        hash_sample_vectors,
        train_centroids_numpy,
    )

    src = table_path(sf_dir, "embeddings")

    def train() -> list[list[float]]:
        sample = hash_sample_vectors(src, _ivf_sample_target(k))
        # a quantizer cannot have more lists than training vectors; with
        # the corpus-scaled sample this fires only for degenerate tiny
        # corpora (< 4·k rows with k at the floor) — still guard loudly
        # rather than let k-means degenerate
        k_eff = min(k, len(sample) // 4)
        if k_eff < k:
            import warnings

            warnings.warn(
                f"IVF k clamped {k}->{k_eff}: corpus yielded only "
                f"{len(sample)} training vectors"
            )
        return train_centroids_numpy(sample, n_centroids=k_eff, seed=_IVF_SEED)

    return publish_json(f"ivf_index_k{k}_seed{_IVF_SEED}", [src], train)


def _ivf_quantizer(sf_dir: str) -> list[list[float]]:
    """Convenience: the persisted corpus-scaled quantizer for sf_dir
    (row count from parquet footer → self-tuned k → centroids)."""
    return _ivf_centroids(_ivf_k(_embeddings_rows(sf_dir)), sf_dir)


def _ivf_oracle() -> str:
    """The full IVF search in ANSI SQL with the persisted centroids as
    literals: rank-based assignment (argmin with cid tiebreak — identical
    to Spark's array_min over (dist, cid) structs), probe explosion to
    the nprobe nearest lists, bucket-equi-join, exact rerank."""
    cents = _ivf_centroids(_ivf_k(_embeddings_rows(_ORACLE_SF_DIR)), _ORACLE_SF_DIR)
    values = ", ".join(f"({i}, {c}::DOUBLE[])" for i, c in enumerate(cents))
    return f"""
WITH cents AS (
    SELECT * FROM (VALUES {values}) AS t(cid, c)
),
base AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
base_assign AS (
    SELECT vec_id, v, cid FROM (
        SELECT b.vec_id, b.v, c.cid,
               row_number() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_distance(b.v, c.c) ASC, c.cid ASC
               ) AS rnk
        FROM base b CROSS JOIN cents c
    ) WHERE rnk = 1
),
probe_assign AS (
    SELECT vec_id AS probe_id, v AS q, cid FROM (
        SELECT b.vec_id, b.v, c.cid,
               row_number() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_distance(b.v, c.c) ASC, c.cid ASC
               ) AS rnk
        FROM base b CROSS JOIN cents c
        WHERE b.vec_id < {N_PROBES}
    ) WHERE rnk <= {_IVF_NPROBE}
),
cand AS (
    SELECT p.probe_id, b.vec_id, list_distance(b.v, p.q) AS dist
    FROM probe_assign p JOIN base_assign b ON p.cid = b.cid
),
ranked AS (
    SELECT probe_id, vec_id, dist,
           row_number() OVER (
               PARTITION BY probe_id ORDER BY dist ASC, vec_id ASC
           ) AS rn
    FROM cand
)
SELECT probe_id, vec_id, round(dist, 6) + 0.0 AS distance
FROM ranked WHERE rn <= {K}
"""


@register(
    "ivf_ann_topk",
    oracle=_ivf_oracle(),
    tags=("vector", "ann", "ivf"),
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate KNN join (k-means coarse quantizer, nprobe=4 of 16
    lists) — the index the reference's pgvector store was designed for but
    never builds (``rag.py:77-82``). The quantizer is a PERSISTED index
    artifact (published once per fixture generation by deterministic
    numpy k-means over the fixed training sample): no KMeans fit in this
    query's plan, and the DuckDB oracle replays the identical assignment /
    nprobe / rerank with the same centroid literals — hash-checked, not
    rows-only. Recall vs exact asserted in tests/test_ivf_bucketing.py."""
    from emails_to_vector_db_spark.operators.ivf import ivf_ann_join

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    res = ivf_ann_join(
        probes,
        emb,
        k=K,
        centroids=_ivf_quantizer(sf_dir),
        nprobe=_IVF_NPROBE,
    )
    return res.select(
        "probe_id",
        "vec_id",
        (F.round("distance", 6) + F.lit(0.0)).alias("distance"),
    )


_CENTROID_ORACLE = """
WITH per_dim AS (
    SELECT label, i, avg(e.embedding[i]::DOUBLE) AS dim_mean
    FROM embeddings e, generate_series(1, 64) AS gs(i)
    GROUP BY label, i
)
SELECT label, round(sum(dim_mean * dim_mean), 6) AS centroid_sq_norm
FROM per_dim GROUP BY label
"""


@register(
    "label_centroid_norm",
    oracle=_CENTROID_ORACLE,
    tags=("vector", "agg"),
)
def label_centroid_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column (vector aggregation —
    the building block of IVF index construction), reduced to the squared
    norm so the oracle hash is scale-independent.

    Spark side: explode-free — posexplode would shuffle 64× rows; instead
    aggregate per-dimension sums via ``F.transform`` + array sum is not
    built-in, so use posexplode but note it is a narrow op followed by one
    shuffle on (label, dim): at 100 TB the better plan is a pandas_udf
    partial-centroid per partition; this exact query is small-dim so the
    explode is acceptable and oracle-checkable.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    per_dim = (
        emb.select(
            "label", F.posexplode(F.col("embedding").cast("array<double>"))
        )
        .groupBy("label", F.col("pos"))
        .agg(F.avg("col").alias("dim_mean"))
    )
    return per_dim.groupBy("label").agg(
        F.round(F.sum(F.col("dim_mean") * F.col("dim_mean")), 6).alias(
            "centroid_sq_norm"
        )
    )


@register(
    "label_centroid_norm_pandas",
    oracle=_CENTROID_ORACLE,
    tags=("vector", "agg", "applyInPandas"),
    bench=True,
)
def label_centroid_norm_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME centroid aggregation as label_centroid_norm, but via the
    grouped-map Python lane (applyInPandas — one Arrow batch per label,
    one BLAS reduction) instead of posexplode+shuffle: the right shape for
    high-dim vectors. Checked against the SAME DuckDB oracle; within-group
    rows are sorted before the fold so the hash is stable."""
    from emails_to_vector_db_spark.operators.centroids import label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = label_centroids(emb)
    sq = F.aggregate(
        F.transform("centroid", lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return cents.select("label", F.round(sq, 6).alias("centroid_sq_norm"))


_QUANT_ORACLE = f"""
WITH mx AS (
    SELECT max(list_aggregate(
        list_transform(embedding::DOUBLE[], x -> abs(x)), 'max')) AS max_abs
    FROM embeddings
),
q AS (
    SELECT e.vec_id,
           list_transform(e.embedding::DOUBLE[],
                          x -> round(x * 127.0 / m.max_abs)::INT) AS qv
    FROM embeddings e CROSS JOIN mx m
),
probe AS (
    SELECT qv AS pq FROM q WHERE vec_id = {PROBE_ID}
),
scored AS (
    SELECT q.vec_id,
           list_sum(list_transform(generate_series(1, 64),
               i -> ((q.qv[i] - p.pq[i]) * (q.qv[i] - p.pq[i]))::BIGINT
           ))::BIGINT AS qdist
    FROM q CROSS JOIN probe p
    WHERE q.vec_id <> {PROBE_ID}
)
SELECT vec_id, qdist
FROM scored
ORDER BY qdist ASC, vec_id ASC
LIMIT {K}
"""


@register(
    "int8_quantized_knn",
    oracle=_QUANT_ORACLE,
    tags=("vector", "knn", "quantization"),
)
def int8_quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized KNN: embeddings compressed to int8 with a single
    global symmetric scale (127/max|x|), top-5 by integer L2 — the 4×
    memory-bandwidth / SIMD-friendly search mode of real vector stores
    (pgvector ``halfvec``/``bit`` family; the reference stores raw
    float32 — ``rag.py:35``). Distances are exact integers, so the
    oracle hash needs no float rounding at all. The scale is a tiny agg
    broadcast onto the scan; recall vs full-precision KNN is asserted in
    tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = F.col("embedding").cast("array<double>")
    scale = F.broadcast(
        emb.agg(
            F.max(F.array_max(F.transform(emb_d, lambda x: F.abs(x)))).alias(
                "max_abs"
            )
        )
    )
    q = emb.crossJoin(scale).select(
        "vec_id",
        F.transform(
            emb_d, lambda x: F.round(x * 127.0 / F.col("max_abs")).cast("int")
        ).alias("qv"),
    )
    probe = F.broadcast(
        q.where(F.col("vec_id") == PROBE_ID).select(F.col("qv").alias("pq"))
    )
    qdist = F.aggregate(
        F.zip_with(
            "qv", "pq", lambda a, b: ((a - b) * (a - b)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        q.where(F.col("vec_id") != PROBE_ID)
        .crossJoin(probe)
        .withColumn("qdist", qdist)
        .orderBy(F.col("qdist").asc(), F.col("vec_id").asc())
        .limit(K)
        .select("vec_id", "qdist")
    )


def _exact_cosine_topk_cte() -> str:
    """Exact cosine top-k per probe, SELF INCLUDED — the same result
    contract as the ANN queries (their candidate sets keep the probe
    row), so recall is measured set-vs-set under identical rules."""
    return f"""
        WITH probes AS (
            SELECT vec_id AS probe_id, embedding::DOUBLE[] AS q
            FROM embeddings WHERE vec_id < {N_PROBES}
        ),
        scored AS (
            SELECT p.probe_id, e.vec_id,
                   1.0 - list_dot_product(e.embedding::DOUBLE[], p.q)
                         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(p.q, p.q))) AS dist
            FROM embeddings e CROSS JOIN probes p
        ),
        ranked AS (
            SELECT probe_id, vec_id,
                   row_number() OVER (
                       PARTITION BY probe_id ORDER BY dist ASC, vec_id ASC
                   ) AS rn
            FROM scored
        )
        SELECT probe_id, vec_id FROM ranked WHERE rn <= {K}"""


def _exact_l2_topk_cte() -> str:
    return f"""
        WITH probes AS (
            SELECT vec_id AS probe_id, embedding::DOUBLE[] AS q
            FROM embeddings WHERE vec_id < {N_PROBES}
        ),
        ranked AS (
            SELECT probe_id, vec_id,
                   row_number() OVER (
                       PARTITION BY probe_id
                       ORDER BY list_distance(e.embedding::DOUBLE[], probes.q) ASC,
                                e.vec_id ASC
                   ) AS rn
            FROM embeddings e CROSS JOIN probes
        )
        SELECT probe_id, vec_id FROM ranked WHERE rn <= {K}"""


def _recall_oracle(ann_sql: str, exact_cte: str) -> str:
    return f"""
WITH ann AS (
    SELECT probe_id, vec_id FROM ({ann_sql})
),
exact AS (
    SELECT probe_id, vec_id FROM ({exact_cte})
),
hits AS (
    SELECT e.probe_id, count(*)::BIGINT AS hit_count
    FROM exact e JOIN ann a
      ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
    GROUP BY e.probe_id
)
SELECT probe_id, hit_count, round(hit_count / {K}.0, 6) AS recall_at_k
FROM hits
"""


def _exact_topk_df(spark: SparkSession, sf_dir: str, metric: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = F.broadcast(
        emb.where(F.col("vec_id") < N_PROBES).select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_vec"),
        )
    )
    scored = emb.crossJoin(probes)
    if metric == "cosine":
        scored = scored.withColumn(
            "dist", F.lit(1.0) - cosine_similarity("embedding", "probe_vec")
        )
    else:
        scored = scored.withColumn(
            "dist", l2_distance("embedding", "probe_vec")
        )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= K)
        .select("probe_id", "vec_id")
    )


def _recall_result(exact: DataFrame, ann: DataFrame) -> DataFrame:
    hits = exact.join(ann, ["probe_id", "vec_id"]).groupBy("probe_id").agg(
        F.count(F.lit(1)).alias("hit_count")
    )
    return hits.select(
        "probe_id",
        "hit_count",
        F.round(F.col("hit_count") / F.lit(float(K)), 6).alias("recall_at_k"),
    )


@register(
    "ann_lsh_recall_audit",
    oracle=_recall_oracle(_ann_lsh_oracle(), _exact_cosine_topk_cte()),
    tags=("vector", "ann", "lsh", "audit"),
)
def ann_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the hyperplane-LSH ANN join measured IN-ENGINE against
    the exact cosine top-k — the quality metric a production vector store
    reports next to its latency, here as an oracle-checked query (the
    DuckDB side replays both the full LSH search with the same plane
    literals and the exact ranking, then the same set intersection). The
    pytest recall bars (tests/test_similarity.py) gate a threshold; this
    row hash-pins the exact per-probe overlap, so any silent change to
    bucketing, multiprobe, or tiebreaks shows up as a correctness diff,
    not a perf footnote. Plan: both sides are broadcast-probe scans; the
    only shuffles are the two per-probe top-k windows and the tiny hit
    count."""
    from emails_to_vector_db_spark.operators.similarity import ann_lsh_join

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    ann = ann_lsh_join(
        probes,
        emb,
        k=K,
        planes=_ann_planes(_embeddings_rows(sf_dir)),
        metric="cosine",
    ).select("probe_id", "vec_id")
    return _recall_result(_exact_topk_df(spark, sf_dir, "cosine"), ann)


@register(
    "ivf_recall_audit",
    oracle=_recall_oracle(_ivf_oracle(), _exact_l2_topk_cte()),
    tags=("vector", "ann", "ivf", "audit"),
)
def ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF (nprobe-limited) ANN join against the exact
    L2 top-k, same construction as ann_lsh_recall_audit: the persisted
    quantizer's real-world quality is a hash-checked engine result."""
    from emails_to_vector_db_spark.operators.ivf import ivf_ann_join

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    ann = ivf_ann_join(
        probes,
        emb,
        k=K,
        centroids=_ivf_quantizer(sf_dir),
        nprobe=_IVF_NPROBE,
    ).select("probe_id", "vec_id")
    return _recall_result(_exact_topk_df(spark, sf_dir, "l2"), ann)


_MRL_DIMS = 16  # truncated prefix dimensionality (of 64)


def _mrl_topk_cte() -> str:
    """Exact cosine top-k per probe computed on the FIRST {d} dimensions
    only — the Matryoshka (MRL) truncation candidate stage."""
    return f"""
        WITH tr AS (
            SELECT vec_id, (embedding::DOUBLE[])[1:{_MRL_DIMS}] AS v
            FROM embeddings
        ),
        probes AS (
            SELECT vec_id AS probe_id, v AS q
            FROM tr WHERE vec_id < {N_PROBES}
        ),
        scored AS (
            SELECT p.probe_id, t.vec_id,
                   1.0 - list_dot_product(t.v, p.q)
                         / (sqrt(list_dot_product(t.v, t.v))
                            * sqrt(list_dot_product(p.q, p.q))) AS dist
            FROM tr t CROSS JOIN probes p
        ),
        ranked AS (
            SELECT probe_id, vec_id,
                   row_number() OVER (
                       PARTITION BY probe_id ORDER BY dist ASC, vec_id ASC
                   ) AS rn
            FROM scored
        )
        SELECT probe_id, vec_id FROM ranked WHERE rn <= {K}"""


@register(
    "matryoshka_recall_audit",
    oracle=_recall_oracle(_mrl_topk_cte(), _exact_cosine_topk_cte()),
    tags=("vector", "ann", "matryoshka", "audit"),
)
def matryoshka_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of TRUNCATED-dimension exact search (first 16 of 64
    dims — the Matryoshka-representation shortlist mode of modern
    embedding stores: search cheap low-dim prefixes, rerank few) vs the
    full-dimension exact cosine top-k, per probe, as a hash-checked
    query like the LSH/IVF recall audits.

    Plan: the truncation is a zero-copy F.slice on the scan — 4× less
    arithmetic and memory bandwidth per comparison; both rankings are
    broadcast-probe scans with per-probe window top-k, and the audit
    join is K×K-sized per probe.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.slice(F.col("embedding").cast("array<double>"), 1, _MRL_DIMS).alias(
            "v"
        ),
    )
    probes = F.broadcast(
        emb.where(F.col("vec_id") < N_PROBES).select(
            F.col("vec_id").alias("probe_id"), F.col("v").alias("q")
        )
    )
    scored = emb.crossJoin(probes).withColumn(
        "dist", F.lit(1.0) - cosine_similarity("v", "q")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    truncated = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= K)
        .select("probe_id", "vec_id")
    )
    return _recall_result(_exact_topk_df(spark, sf_dir, "cosine"), truncated)


_MIPS_ORACLE = f"""
WITH probe AS (
    SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = {PROBE_ID}
)
SELECT e.vec_id,
       round(list_dot_product(e.embedding::DOUBLE[], p.q), 6) AS dot
FROM embeddings e CROSS JOIN probe p
WHERE e.vec_id <> {PROBE_ID}
ORDER BY list_dot_product(e.embedding::DOUBLE[], p.q) DESC, e.vec_id ASC
LIMIT {K}
"""


@register(
    "mips_topk_augmented",
    oracle=_MIPS_ORACLE,
    tags=("vector", "mips", "knn"),
    bench=True,
)
def mips_topk_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product top-5 computed through the classic
    NORM-AUGMENTATION reduction to L2 (Bachrach et al. / asymmetric
    MIPS→NN transform): base vectors gain one dimension
    sqrt(M² − ‖x‖²) where M = max corpus norm, the query appends 0, and
    then L2²(x̂, q̂) = M² + ‖q‖² − 2·x·q — so ASCENDING L2 order IS
    descending inner-product order and the exact same
    TakeOrderedAndProject plan as the flagship KNN serves MIPS (and at
    scale, the same L2 index: IVF/LSH search the augmented space
    unchanged). The emitted dot product is recovered from the distance
    as (M² + ‖q‖² − d²)/2; the oracle ranks by the DIRECT dot product —
    a hash match proves the reduction end-to-end, tiebreaks included.

    Plan: max-norm is a 1-row broadcast agg; augmentation is a pure
    projection; the search is scan + TakeOrdered — no shuffle beyond
    the tiny top-k merge.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = F.col("embedding").cast("array<double>")
    sq_norm = F.aggregate(
        F.transform(emb_d, lambda x: x * x),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    m2 = F.broadcast(
        emb.agg(F.max(sq_norm).alias("m2"))
    )
    base = emb.where(F.col("vec_id") != PROBE_ID).crossJoin(m2).select(
        "vec_id",
        F.concat(
            emb_d, F.array(F.sqrt(F.col("m2") - sq_norm))
        ).alias("xa"),
        "m2",
    )
    probe = F.broadcast(
        emb.where(F.col("vec_id") == PROBE_ID).select(
            F.concat(emb_d, F.array(F.lit(0.0))).alias("qa"),
            sq_norm.alias("q2"),
        )
    )
    d2 = F.aggregate(
        F.zip_with("xa", "qa", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        base.crossJoin(probe)
        .withColumn("d2", d2)
        .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        .limit(K)
        .select(
            "vec_id",
            F.round(
                (F.col("m2") + F.col("q2") - F.col("d2")) / 2.0, 6
            ).alias("dot"),
        )
    )


@register(
    "label_centroid_norm_arrow",
    oracle=_CENTROID_ORACLE,
    tags=("vector", "agg", "applyInArrow"),
)
def label_centroid_norm_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third implementation of the SAME centroid aggregation, through
    Spark 4's grouped ``applyInArrow`` (operators/centroids.py::
    label_centroids_arrow) — the zero-pandas Arrow lane: group payloads
    flatten straight from Arrow list buffers into one BLAS reduction.
    Checked against the SAME DuckDB oracle as the relational-explode
    and applyInPandas forms, so all three lanes are proven
    value-identical — the API-matrix completeness claim as a hash, not
    a sentence."""
    from emails_to_vector_db_spark.operators.centroids import (
        label_centroids_arrow,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = label_centroids_arrow(emb)
    sq = F.aggregate(
        F.transform("centroid", lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return cents.select("label", F.round(sq, 6).alias("centroid_sq_norm"))


_STREAM_IVF_VERSION = 1


def _stream_ivf_landing(sf_dir: str) -> str:
    """The embeddings corpus as THREE micro-batch files in ascending
    vec_id order (sources/warehouse.py::publish_landing)."""
    return publish_landing(
        f"stream_ivf_v{_STREAM_IVF_VERSION}",
        table_path(sf_dir, "embeddings"),
        ["vec_id", "embedding"],
    )


def _stream_ivf_oracle() -> str:
    """Per-list occupancy of the streamed index — batching-invariant, so
    the oracle just replays the rank-based assignment with the same
    persisted centroid literals over the whole corpus."""
    cents = _ivf_centroids(_ivf_k(_embeddings_rows(_ORACLE_SF_DIR)), _ORACLE_SF_DIR)
    values = ", ".join(f"({i}, {c}::DOUBLE[])" for i, c in enumerate(cents))
    return f"""
WITH cents AS (
    SELECT * FROM (VALUES {values}) AS t(cid, c)
),
assign AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_distance(e.embedding::DOUBLE[], c.c) ASC,
                            c.cid ASC
               ) AS rnk
        FROM embeddings e CROSS JOIN cents c
    ) WHERE rnk = 1
)
SELECT cid,
       count(*)::BIGINT AS n_vectors,
       min(vec_id)::BIGINT AS min_vec,
       sum(vec_id)::BIGINT AS vec_checksum
FROM assign GROUP BY cid
"""


@register(
    "streaming_ivf_index_ingest",
    oracle=_stream_ivf_oracle(),
    tags=("streaming", "vector", "ivf", "index"),
)
def streaming_ivf_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vector-index MAINTENANCE: embeddings arrive in
    micro-batches (file stream, one file per trigger); each batch is
    assigned to its nearest persisted-quantizer centroid with the same
    JVM-side argmin expression the IVF search uses (operators/ivf.py —
    centroid literals broadcast in the plan, no Python boundary) and
    appended to the inverted-index store, partitioned by list id. The
    returned per-list occupancy (+ id checksum) is batching-invariant,
    so the DuckDB oracle replays the assignment over the whole corpus
    in one pass — the streaming path is hash-checked against the batch
    semantics it must preserve.

    At 100 TB this is how a vector store stays fresh: index cost per
    micro-batch is one scan-time assignment + a partitioned append;
    the quantizer is the same persisted artifact the search queries
    load, so reads and writes can never disagree about bucketing.
    """
    import os

    from emails_to_vector_db_spark.operators.ivf import (
        assign_centroids_arrow,
    )
    from emails_to_vector_db_spark.streaming.run import drain_files, run_dir

    cents = _ivf_quantizer(sf_dir)
    landing = _stream_ivf_landing(sf_dir)
    work = run_dir(landing, "ivf")
    index_dir = os.path.join(work, "ivf_store")

    def apply(batch: DataFrame, _batch_id: int) -> None:
        # maintenance uses the BLAS Arrow lane: at self-tuned k the
        # per-element fold arithmetic of the expression form dominates
        # micro-batch latency (operators/ivf.py::assign_centroids_arrow)
        assigned = assign_centroids_arrow(batch, cents)
        assigned.write.mode("append").partitionBy("cid").parquet(index_dir)

    drain_files(spark, landing, "vec_id bigint, embedding array<float>", apply, work)
    return (
        spark.read.parquet(index_dir)
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec"),
            F.sum("vec_id").alias("vec_checksum"),
        )
        .select(
            F.col("cid").cast("int").alias("cid"),
            "n_vectors",
            "min_vec",
            "vec_checksum",
        )
    )


# ---------------------------------------------------------------------------
# Binary-quantized KNN: 1-bit sign quantization, Hamming shortlist, rerank
# ---------------------------------------------------------------------------

_BQ_DIMS = 64
_BQ_SHORTLIST = 20

_BQ_ORACLE = f"""
WITH means AS (
    SELECT i, avg((embedding::DOUBLE[])[i]) AS m
    FROM embeddings
    CROSS JOIN (SELECT unnest(generate_series(1, {_BQ_DIMS})) AS i)
    GROUP BY i
),
ma AS (SELECT list(m ORDER BY i) AS ma FROM means),
bits AS (
    SELECT vec_id,
           list_transform(generate_series(1, {_BQ_DIMS}),
               i -> CASE WHEN (embedding::DOUBLE[])[i] > ma.ma[i]
                         THEN 1 ELSE 0 END) AS bv
    FROM embeddings CROSS JOIN ma
),
pb AS (SELECT bv AS pb FROM bits WHERE vec_id = {PROBE_ID}),
short AS (
    SELECT b.vec_id,
           list_sum(list_transform(generate_series(1, {_BQ_DIMS}),
               i -> abs(b.bv[i] - p.pb[i])))::BIGINT AS hamming
    FROM bits b CROSS JOIN pb p
    WHERE b.vec_id <> {PROBE_ID}
    ORDER BY hamming ASC, b.vec_id ASC
    LIMIT {_BQ_SHORTLIST}
),
pq AS (
    SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = {PROBE_ID}
)
SELECT s.vec_id, s.hamming,
       round(list_distance(e.embedding::DOUBLE[], p.q), 6) AS distance
FROM short s
JOIN embeddings e ON e.vec_id = s.vec_id
CROSS JOIN pq p
ORDER BY list_distance(e.embedding::DOUBLE[], p.q) ASC, s.vec_id ASC
LIMIT {K}
"""


@register(
    "binary_quantized_knn",
    oracle=_BQ_ORACLE,
    tags=("vector", "knn", "quantization", "hamming"),
    bench=True,
)
def binary_quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (1-bit) quantized KNN: each dimension collapses to one
    bit via its corpus mean threshold, candidates shortlist by Hamming
    distance (a 64x memory-bandwidth reduction vs float32 — the
    pgvector ``bit``/FAISS IndexBinaryFlat mode, finer-grained than
    the int8 lane beside it), then the {_BQ_SHORTLIST}-row shortlist
    reranks with exact float L2. The coarse-then-exact two-stage is
    the canonical quantized-search contract: integer distances decide
    the shortlist, so the oracle needs no float rounding until rerank.

    Plan shape: per-dimension means are ONE map-side-combinable
    aggregate row (64 avg() columns assembled into an array — no
    posexplode, no shuffle of vector rows) broadcast onto the scan;
    bit vectors and Hamming distances are scan-local zip_with
    expressions; TakeOrderedAndProject keeps {_BQ_SHORTLIST}; the
    rerank touches exactly {_BQ_SHORTLIST} embeddings via a broadcast
    join. At 100 TB the corpus is scanned once for stats and once for
    search; in a real deployment the bit vectors persist as a 64-bit
    column (8 bytes/vector) and the stats pass amortizes away."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = F.col("embedding").cast("array<double>")
    means = F.broadcast(
        emb.agg(
            *[
                F.avg(F.element_at(emb_d, i)).alias(f"m{i}")
                for i in range(1, _BQ_DIMS + 1)
            ]
        ).select(
            F.array(
                *[F.col(f"m{i}") for i in range(1, _BQ_DIMS + 1)]
            ).alias("ma")
        )
    )
    bits = emb.crossJoin(means).select(
        "vec_id",
        F.zip_with(
            emb_d,
            "ma",
            lambda x, m: F.when(x > m, 1).otherwise(0),
        ).alias("bv"),
    )
    pb = F.broadcast(
        bits.where(F.col("vec_id") == PROBE_ID).select(
            F.col("bv").alias("pb")
        )
    )
    hamming = F.aggregate(
        F.zip_with("bv", "pb", lambda a, b: F.abs(a - b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    short = (
        bits.where(F.col("vec_id") != PROBE_ID)
        .crossJoin(pb)
        .withColumn("hamming", hamming)
        .orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
        .limit(_BQ_SHORTLIST)
        .select("vec_id", "hamming")
    )
    pq = F.broadcast(
        emb.where(F.col("vec_id") == PROBE_ID).select(
            F.col("embedding").alias("q")
        )
    )
    return (
        F.broadcast(short)
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .crossJoin(pq)
        .withColumn("dist_raw", l2_distance("embedding", "q"))
        .orderBy(F.col("dist_raw").asc(), F.col("vec_id").asc())
        .limit(K)
        .select(
            "vec_id", "hamming", F.round("dist_raw", 6).alias("distance")
        )
    )


# ---------------------------------------------------------------------------
# Per-dimension z-score anomaly detection over the embedding corpus
# ---------------------------------------------------------------------------

_ZS_DIMS = 64
_ZS_TOP = 20

_ZSCORE_ORACLE = f"""
WITH stats AS (
    SELECT i, avg(embedding[i]::DOUBLE) AS m,
           stddev_samp(embedding[i]::DOUBLE) AS sd
    FROM embeddings, generate_series(1, {_ZS_DIMS}) AS gs(i)
    GROUP BY i
),
arr AS (SELECT list(m ORDER BY i) AS ma, list(sd ORDER BY i) AS sa FROM stats),
z AS (
    SELECT vec_id, label,
           list_transform(generate_series(1, {_ZS_DIMS}),
               i -> (embedding[i]::DOUBLE - a.ma[i]) / a.sa[i]) AS zv
    FROM embeddings CROSS JOIN arr a
)
SELECT vec_id, label,
       round(sqrt(list_sum(list_transform(zv, x -> x * x)) / {_ZS_DIMS}), 6)
           AS rms_z,
       round(list_aggregate(list_transform(zv, x -> abs(x)), 'max'), 6)
           AS max_abs_z
FROM z
ORDER BY rms_z DESC, vec_id ASC
LIMIT {_ZS_TOP}
"""


@register(
    "embedding_anomaly_zscores",
    oracle=_ZSCORE_ORACLE,
    tags=("vector", "anomaly", "monitoring"),
)
def embedding_anomaly_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score anomaly ranking: standardize every
    embedding against corpus-wide per-dimension mean/stddev, score each
    vector by RMS and max |z|, surface the top-{_ZS_TOP} outliers — the
    cheap embedding-space anomaly detector that catches encoder
    regressions, corrupted rows, and out-of-distribution contamination
    before they pollute an index (the pointwise member of the drift
    family: PSI/KS watch distributions, this names the ROWS).

    Plan shape: the 2x{_ZS_DIMS} stats row is one map-side-combinable
    aggregate (explode-free, the binary_quantized_knn trick) broadcast
    onto a single scan; z-vectors are scan-local zip expressions; the
    ranking is TakeOrderedAndProject on the ROUNDED score, so the
    corpus is scanned twice, shuffled never."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = F.col("embedding").cast("array<double>")
    stats = F.broadcast(
        emb.agg(
            *(
                [
                    F.avg(F.element_at(emb_d, i)).alias(f"m{i}")
                    for i in range(1, _ZS_DIMS + 1)
                ]
                + [
                    F.stddev_samp(F.element_at(emb_d, i)).alias(f"s{i}")
                    for i in range(1, _ZS_DIMS + 1)
                ]
            )
        ).select(
            F.array(
                *[F.col(f"m{i}") for i in range(1, _ZS_DIMS + 1)]
            ).alias("ma"),
            F.array(
                *[F.col(f"s{i}") for i in range(1, _ZS_DIMS + 1)]
            ).alias("sa"),
        )
    )
    zv = F.zip_with(
        F.zip_with(emb_d, "ma", lambda x, m: x - m),
        "sa",
        lambda d, s: d / s,
    )
    z = emb.crossJoin(stats).select("vec_id", "label", zv.alias("zv"))
    rms = F.sqrt(
        F.aggregate(
            F.transform("zv", lambda x: x * x),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        / _ZS_DIMS
    )
    mx = F.array_max(F.transform("zv", lambda x: F.abs(x)))
    return (
        z.select(
            "vec_id",
            "label",
            F.round(rms, 6).alias("rms_z"),
            F.round(mx, 6).alias("max_abs_z"),
        )
        .orderBy(F.col("rms_z").desc(), F.col("vec_id").asc())
        .limit(_ZS_TOP)
    )


# ---------------------------------------------------------------------------
# Embedding-space geometry: pairwise-distance histogram on a sample
# ---------------------------------------------------------------------------

_GEO_SAMPLE_MOD = 4
_GEO_SAMPLE_CAP = 2000  # bounded SIZE: a fixed fraction is quadratic at scale
_GEO_BINS = 10

_GEOMETRY_ORACLE = f"""
WITH s AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    WHERE vec_id % {_GEO_SAMPLE_MOD} = 0 AND vec_id < {_GEO_SAMPLE_CAP}
),
d AS (
    SELECT list_distance(a.v, b.v) AS dist
    FROM s a JOIN s b ON a.vec_id < b.vec_id
),
rng AS (SELECT max(dist) AS hi FROM d)
SELECT least({_GEO_BINS} - 1,
             CAST(floor({_GEO_BINS} * d.dist / rng.hi) AS INT))::BIGINT
           AS bin,
       count(*)::BIGINT AS n_pairs,
       round(min(d.dist), 6) AS min_dist,
       round(max(d.dist), 6) AS max_dist
FROM d CROSS JOIN rng
GROUP BY 1
"""


@register(
    "embedding_distance_histogram",
    oracle=_GEOMETRY_ORACLE,
    tags=("vector", "calibration", "stats"),
)
def embedding_distance_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-space geometry check: the pairwise L2 distance
    histogram over a deterministic BOUNDED vector sample (id-hash filtered AND size-capped — a fixed fraction would be quadratic at scale; a fixed size is the method) — the diagnostic
    read BEFORE choosing ANN parameters (a distribution concentrated
    in one bin means distances barely discriminate — the
    curse-of-dimensionality regime where every ANN index degrades —
    while a long left tail says near-dup mass; the LSH/IVF self-tuning
    lanes assume the geometry this query verifies). The
    jaccard_similarity_histogram discipline applied to the vector
    space: calibration runs on a sample because all-pairs is the
    contract.

    Plan shape: sample filter at the scan, one O(sample²) distance
    join (bounded by the sample budget — the method, not a shortcut),
    a 1-row max broadcast for the bin width, one 10-group aggregate."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        (F.col("vec_id") % _GEO_SAMPLE_MOD == 0)
        & (F.col("vec_id") < _GEO_SAMPLE_CAP)
    )
    from pyspark import StorageLevel

    s = emb.select("vec_id", "embedding").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    a = s.alias("a")
    b = s.alias("b")
    d = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        l2_distance(F.col("a.embedding"), F.col("b.embedding")).alias(
            "dist"
        )
    )
    d = d.persist(StorageLevel.MEMORY_AND_DISK)
    rng = F.broadcast(d.agg(F.max("dist").alias("hi")))
    return (
        d.crossJoin(rng)
        .groupBy(
            F.least(
                F.lit(_GEO_BINS - 1),
                F.floor(_GEO_BINS * F.col("dist") / F.col("hi")).cast(
                    "int"
                ),
            )
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.min("dist"), 6).alias("min_dist"),
            F.round(F.max("dist"), 6).alias("max_dist"),
        )
    )


# ---------------------------------------------------------------------------
# IVF index maintenance: list rebalance plan
# ---------------------------------------------------------------------------

_REB_SPLIT_X = 2  # occupancy > 2x target -> split
_REB_MERGE_DIV = 4  # occupancy < target/4 -> merge into nearest list


def _centroid_merge_targets(cents: list[list[float]]) -> list[int]:
    """Nearest-other-centroid id per list, precomputed in Python from
    the SAME persisted literals both engines embed — so no cross-engine
    float-summation-order risk can flip a near-tie (ties break on cid)."""
    out = []
    for i, ci in enumerate(cents):
        best = None
        for j, cj in enumerate(cents):
            if j == i:
                continue
            d = sum((a - b) * (a - b) for a, b in zip(ci, cj, strict=True))
            if best is None or d < best[0] or (d == best[0] and j < best[1]):
                best = (d, j)
        out.append(best[1])
    return out


def _rebalance_oracle() -> str:
    cents = _ivf_centroids(_ivf_k(_embeddings_rows(_ORACLE_SF_DIR)), _ORACLE_SF_DIR)
    k = len(cents)
    values = ", ".join(f"({i}, {c}::DOUBLE[])" for i, c in enumerate(cents))
    merges = ", ".join(
        f"({i}, {m})" for i, m in enumerate(_centroid_merge_targets(cents))
    )
    return f"""
WITH cents AS (
    SELECT * FROM (VALUES {values}) AS t(cid, c)
),
mt AS (
    SELECT * FROM (VALUES {merges}) AS t(cid, nearest)
),
base AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
base_assign AS (
    SELECT vec_id, cid FROM (
        SELECT b.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_distance(b.v, c.c) ASC, c.cid ASC
               ) AS rnk
        FROM base b CROSS JOIN cents c
    ) WHERE rnk = 1
),
counts AS (
    SELECT c.cid, count(b.vec_id) AS n
    FROM cents c LEFT JOIN base_assign b ON b.cid = c.cid
    GROUP BY c.cid
),
tot AS (SELECT sum(n) AS total FROM counts)
SELECT c.cid::BIGINT AS cid,
       c.n::BIGINT AS n_vecs,
       round(c.n * {k}.0 / t.total, 6) + 0.0 AS occ_ratio,
       CASE WHEN c.n * {k} > {_REB_SPLIT_X} * t.total THEN 'split'
            WHEN c.n * {k} * {_REB_MERGE_DIV} < t.total THEN 'merge'
            ELSE 'keep' END AS action,
       (CASE WHEN c.n * {k} > {_REB_SPLIT_X} * t.total
             THEN (c.n * {k} + t.total - 1) // t.total
             ELSE 1 END)::BIGINT AS split_parts,
       (CASE WHEN c.n * {k} * {_REB_MERGE_DIV} < t.total THEN m.nearest
             ELSE -1 END)::BIGINT AS merge_into
FROM counts c CROSS JOIN tot t JOIN mt m ON m.cid = c.cid
ORDER BY c.cid
"""


@register(
    "ivf_rebalance_plan",
    oracle=_rebalance_oracle(),
    tags=("vector", "ann", "ivf", "maintenance"),
    bench=True,
)
def ivf_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index maintenance planning — the ANN sibling of
    small_file_compaction_plan: per inverted list, occupancy vs the
    uniform target, and the rebalance action a maintenance job would
    execute (SPLIT a list hotter than 2× target into ceil(n/target)
    parts; MERGE a list colder than target/4 into its nearest
    neighboring list; KEEP otherwise). Skewed lists are how IVF indexes
    rot: a hot list makes every probe touching it scan-heavy, an
    empty list wastes an nprobe slot — this query prices the rot and
    emits the executable plan. Thresholds compare INTEGER products
    (n·k vs x·total), so no float boundary can flip an action between
    engines; merge targets are precomputed from the same persisted
    centroid literals both engines embed.

    100 TB story: one scan-local argmin assignment over the literal
    (broadcast-sized) quantizer — the same expression the search path
    uses — one k-row count aggregate (map-side combinable), a broadcast
    1-row total, and k²-sized Python-side merge-target arithmetic at
    plan-build time. Nothing corpus-sized shuffles.
    """
    from emails_to_vector_db_spark.operators.ivf import (
        _ASSIGN_ARROW_K_CUTOVER,
        assign_centroid,
        assign_centroids_arrow,
    )

    cents = _ivf_quantizer(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    if len(cents) >= _ASSIGN_ARROW_K_CUTOVER:
        # large self-tuned k: closure-shipped BLAS assignment — the
        # k×dim plan literal alone costs analyzer time ∝ k (measured
        # 23s at k=4688), on top of the interpreted n·k·d fold
        assigned = assign_centroids_arrow(emb, cents).select("cid")
    else:
        assigned = emb.select(
            assign_centroid(F.col("embedding"), cents).alias("cid")
        )
    return _rebalance_actions(spark, assigned, cents)


def ivf_rebalance_plan_from_index(
    spark: SparkSession, assignments: DataFrame, cents: list[list[float]]
) -> DataFrame:
    """The PRODUCTION form of ivf_rebalance_plan: plan rebalance from
    the PERSISTED index assignments — the (vec_id, cid) table an IVF
    store writes at build/ingest time (the same artifact discipline as
    the persisted quantizer in _ivf_centroids) — instead of re-running
    the argmin quantization over the embeddings corpus. The registered
    query keeps the inline assignment pass ONLY so the DuckDB oracle
    can replay everything from the raw table (the incremental_lsh_dedup
    pattern); at 100 TB maintenance never rescans or re-quantizes —
    this path is one k-row count aggregate over cid, a 1-row total
    broadcast, and k-sized action arithmetic. Action-identity with the
    inline form and the no-embeddings-scan plan shape are pinned in
    tests/test_ivf_bucketing.py."""
    return _rebalance_actions(spark, assignments.select("cid"), cents)


def _rebalance_actions(
    spark: SparkSession, assigned: DataFrame, cents: list[list[float]]
) -> DataFrame:
    """Shared rebalance tail: cid occupancy counts → split/merge/keep
    actions. ``assigned`` carries one cid row per indexed vector —
    from the inline quantization (oracle-replayable form) or from the
    persisted assignment store (production form)."""
    k = len(cents)
    merges = _centroid_merge_targets(cents)
    counts_obs = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
    cent_meta = spark.createDataFrame(
        [(i, m) for i, m in enumerate(merges)], "cid int, nearest int"
    )
    counts = cent_meta.join(counts_obs, "cid", "left").select(
        "cid", "nearest", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    tot = counts.agg(F.sum("n").alias("total"))
    c = counts.crossJoin(F.broadcast(tot))
    nk = F.col("n") * F.lit(k)
    is_split = nk > F.lit(_REB_SPLIT_X) * F.col("total")
    is_merge = nk * F.lit(_REB_MERGE_DIV) < F.col("total")
    return c.select(
        F.col("cid").cast("long").alias("cid"),
        F.col("n").cast("long").alias("n_vecs"),
        (F.round(nk.cast("double") / F.col("total"), 6) + F.lit(0.0)).alias(
            "occ_ratio"
        ),
        F.when(is_split, F.lit("split"))
        .when(is_merge, F.lit("merge"))
        .otherwise(F.lit("keep"))
        .alias("action"),
        F.when(
            is_split,
            F.expr(f"(n * {k} + total - 1) div total"),
        )
        .otherwise(F.lit(1))
        .cast("long")
        .alias("split_parts"),
        F.when(is_merge, F.col("nearest"))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("merge_into"),
    ).orderBy("cid")
