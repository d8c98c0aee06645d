"""IVF ANN recall/determinism + bucketed exchange-free join plan tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from emails_to_vector_db_spark.operators.ivf import (
    ivf_ann_join,
    train_centroids,
)
from emails_to_vector_db_spark.operators.similarity import brute_force_join
from emails_to_vector_db_spark.sources import warehouse
from emails_to_vector_db_spark.sources.tables import load_table, table_path
from emails_to_vector_db_spark.sources.warehouse import (
    artifact_path,
    publish_json,
    write_bucketed,
)
from tests.conftest import SF_SMOKE


def _probes(emb, n):
    return emb.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )


def test_ivf_self_probe_hits_and_recall(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = train_centroids(emb, n_centroids=16, seed=42)
    assert len(cents) == 16 and len(cents[0]) == 64
    probes = _probes(emb, 20)
    k = 10
    approx = ivf_ann_join(probes, emb, k=k, centroids=cents, nprobe=8)
    rows = approx.collect()
    # a probe identical to a base vector is assigned the same centroid:
    # its own nearest neighbor must always be found at distance 0
    self_hits = {r.probe_id for r in rows if r.vec_id == r.probe_id}
    assert self_hits == set(range(20))

    exact = brute_force_join(probes, emb, k=k, metric="l2")
    e = {(r.probe_id, r.vec_id) for r in exact.collect()}
    a = {(r.probe_id, r.vec_id) for r in rows}
    recall = len(e & a) / len(e)
    # nprobe=8 of 16 lists on near-uniform 64-dim vectors (LSH/IVF worst
    # case — no cluster structure): measured 0.86; a broken quantizer
    # (e.g. constant assignment) lands far below this bar
    assert recall >= 0.8, f"recall {recall}"


def test_ivf_deterministic(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents1 = train_centroids(emb, n_centroids=8, seed=7)
    cents2 = train_centroids(emb, n_centroids=8, seed=7)
    assert cents1 == cents2
    probes = _probes(emb, 5)
    r1 = sorted(map(tuple, ivf_ann_join(probes, emb, centroids=cents1).collect()))
    r2 = sorted(map(tuple, ivf_ann_join(probes, emb, centroids=cents2).collect()))
    assert r1 == r2


def test_numpy_kmeans_deterministic_and_persistable(tmp_path, monkeypatch):
    import numpy as np

    from emails_to_vector_db_spark.operators.ivf import train_centroids_numpy

    rng = np.random.default_rng(0)
    X = rng.standard_normal((200, 8))
    c1 = train_centroids_numpy(X, n_centroids=4, seed=7)
    c2 = train_centroids_numpy(X, n_centroids=4, seed=7)
    assert c1 == c2  # bit-for-bit reproducible from (sample, seed)
    monkeypatch.setattr(warehouse, "WAREHOUSE", str(tmp_path / "wh"))
    src = tmp_path / "sample.parquet"
    src.write_bytes(b"x")
    # nothing published yet → trained; then loaded, not retrained
    assert publish_json("cents", [str(src)], lambda: c1) == c1
    assert publish_json("cents", [str(src)], lambda: 1 / 0) == c1


def test_registered_ivf_query_uses_persisted_index():
    """The registry query must load the warehouse index artifact — no
    k-means fit per run; repeated loads return the identical quantizer."""
    import os

    from emails_to_vector_db_spark.plans.vector import (
        _embeddings_rows,
        _ivf_centroids,
        _ivf_k,
        _IVF_SEED,
        _ORACLE_SF_DIR,
    )

    k = _ivf_k(_embeddings_rows(_ORACLE_SF_DIR))
    c1 = _ivf_centroids(k, _ORACLE_SF_DIR)
    # persisted artifact on disk, keyed by corpus + k
    assert os.path.isdir(
        artifact_path(
            f"ivf_index_k{k}_seed{_IVF_SEED}",
            [table_path(_ORACLE_SF_DIR, "embeddings")],
        )
    )
    assert _ivf_centroids(k, _ORACLE_SF_DIR) == c1
    assert len(c1) == 16 and len(c1[0]) == 64  # fixture-scale quantizer


def test_quantizer_artifact_is_provenance_checked(tmp_path, monkeypatch):
    """A persisted quantizer trained on a DIFFERENT source (basename
    collision) or an OLDER mtime (regenerated fixture) must miss, not
    silently serve stale centroids — the r9 ADVICE hazard."""
    import os

    monkeypatch.setattr(warehouse, "WAREHOUSE", str(tmp_path / "wh"))
    src = tmp_path / "embeddings.parquet"
    src.write_bytes(b"x")
    os.utime(src, (100.0, 100.0))
    assert publish_json("q", [str(src)], lambda: [[0.0, 1.0]]) == [[0.0, 1.0]]
    assert publish_json("q", [str(src)], lambda: 1 / 0) == [[0.0, 1.0]]
    # regenerated source (new mtime) → miss
    os.utime(src, (200.0, 200.0))
    assert publish_json("q", [str(src)], lambda: [[2.0]]) == [[2.0]]
    # same basename, different corpus dir → miss
    other = tmp_path / "elsewhere" / "embeddings.parquet"
    other.parent.mkdir()
    other.write_bytes(b"x")
    os.utime(other, (200.0, 200.0))
    assert publish_json("q", [str(other)], lambda: [[3.0]]) == [[3.0]]


def test_training_sample_scales_with_quantizer_size():
    """The r9 scale gap: a fixed 500-row sample clamps the self-tuned k
    at 125 lists forever. The sample target must grow with k so k_eff
    == k for any built corpus."""
    from emails_to_vector_db_spark.plans.vector import (
        _ivf_k,
        _ivf_sample_target,
    )

    assert _ivf_sample_target(8) == 500  # small-k floor
    # fixture k=16 → 640-row target; the 500-row fixture corpora are
    # smaller than that, so their sample is the whole corpus
    assert _ivf_sample_target(16) == 640
    k_sf30 = _ivf_k(600_000)  # the sf30 rung's self-tuned k
    assert k_sf30 > 125
    # sample covers 4·k with headroom → the degeneracy clamp can't fire
    assert _ivf_sample_target(k_sf30) >= 4 * k_sf30


def test_hash_sample_is_deterministic_and_corpus_scaled(tmp_path):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from emails_to_vector_db_spark.operators.ivf import hash_sample_vectors

    rng = np.random.default_rng(7)
    n = 5000
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                rng.normal(size=(n, 8)).astype("float32").tolist(),
                pa.list_(pa.float32()),
            ),
        }
    )
    src = str(tmp_path / "embeddings.parquet")
    pq.write_table(tbl, src)
    s1 = hash_sample_vectors(src, 800)
    s2 = hash_sample_vectors(src, 800)
    assert len(s1) == 800 and s1 == s2  # exact size, reproducible
    # same rows selected regardless of file split (order-independence)
    half = str(tmp_path / "split")
    import os

    os.makedirs(half)
    pq.write_table(tbl.slice(0, 2500), os.path.join(half, "a.parquet"))
    pq.write_table(tbl.slice(2500), os.path.join(half, "b.parquet"))
    assert hash_sample_vectors(half, 800) == s1
    # target beyond the corpus → whole corpus, id-ordered
    assert len(hash_sample_vectors(src, 10_000)) == n


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    write_bucketed(
        li, "li_b", bucket_cols=["l_orderkey"], n_buckets=8, sort_cols=["l_orderkey"]
    )
    write_bucketed(
        o, "o_b", bucket_cols=["o_orderkey"], n_buckets=8, sort_cols=["o_orderkey"]
    )
    lt, rt = spark.table("li_b"), spark.table("o_b")
    # force SMJ so the exchange question is meaningful
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = lt.join(rt, lt.l_orderkey == rt.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle at all
        # and the result is still correct
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_assignment_lanes_agree(spark):
    """The expression lane (assign_centroid: struct-min fold) and the
    maintenance lane (assign_centroids_arrow: BLAS expansion + numpy
    argmin) must give identical bucket assignments — including the
    smallest-cid tiebreak — on the fixture corpus."""
    from pyspark.sql import functions as F

    from emails_to_vector_db_spark.operators.ivf import (
        assign_centroid,
        assign_centroids_arrow,
        train_centroids_numpy,
    )
    from emails_to_vector_db_spark.sources.tables import load_table
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    sample = [r["embedding"] for r in emb.limit(200).collect()]
    cents = train_centroids_numpy(sample, n_centroids=16, seed=7)
    expr = {
        r["vec_id"]: r["cid"]
        for r in emb.select(
            "vec_id",
            assign_centroid(
                F.col("embedding").cast("array<double>"), cents
            ).alias("cid"),
        ).collect()
    }
    arrow = {
        r["vec_id"]: r["cid"]
        for r in assign_centroids_arrow(emb, cents).collect()
    }
    assert expr == arrow


def test_non_finite_centroid_raises_clear_error(spark):
    """A NaN/Inf centroid component (degenerate k-means cluster) must
    raise a named ValueError at expression build, not an opaque SQL
    parse failure on 'nanD'."""
    import pytest
    from pyspark.sql import functions as F

    from emails_to_vector_db_spark.operators.ivf import assign_centroid

    with pytest.raises(ValueError, match="non-finite centroid"):
        assign_centroid(
            F.col("embedding"), [[0.0, 1.0], [float("nan"), 2.0]]
        )


def test_rebalance_store_path_matches_inline_and_skips_scan(spark, tmp_path):
    """ivf_rebalance_plan_from_index (the production store-reading form)
    must (a) produce action-identical rows to the registered inline form
    and (b) carry NO embeddings-table scan and NO argmin quantization in
    its physical plan — proving the registered query's inline assignment
    pass is oracle-replay-only cost, not the maintenance path's."""
    from emails_to_vector_db_spark.operators.ivf import assign_centroid
    from emails_to_vector_db_spark.plans.vector import (
        _embeddings_rows,
        _ivf_centroids,
        _ivf_k,
        ivf_rebalance_plan_from_index,
    )
    from emails_to_vector_db_spark.plans import REGISTRY

    sf = SF_SMOKE
    cents = _ivf_centroids(_ivf_k(_embeddings_rows(sf)), sf)
    # the index store: (vec_id, cid) written once at build/ingest time
    emb = load_table(spark, sf, "embeddings")
    store = str(tmp_path / "ivf_assignments.parquet")
    emb.select(
        "vec_id", assign_centroid(F.col("embedding"), cents).alias("cid")
    ).write.mode("overwrite").parquet(store)

    assignments = spark.read.parquet(store)
    from_store = ivf_rebalance_plan_from_index(spark, assignments, cents)
    inline = REGISTRY["ivf_rebalance_plan"].fn(spark, sf)
    assert sorted(map(tuple, from_store.collect())) == sorted(
        map(tuple, inline.collect())
    )

    plan = from_store._jdf.queryExecution().executedPlan().toString()
    assert "embeddings.parquet" not in plan, "store path rescanned the corpus"
    # the argmin quantization is an aggregate over the centroid struct
    # array; its fingerprint in the plan is the array_min/transform pair
    assert "array_min" not in plan, "store path re-quantized inline"
    # and the inline registered form DOES carry both (the oracle replay)
    inline_plan = inline._jdf.queryExecution().executedPlan().toString()
    assert "embeddings.parquet" in inline_plan


def test_min_cost_arrow_matches_expression_fold(spark):
    """The BLAS costing lane must agree with the exact zip_with fold at
    the 6dp rounding both consumers use (the expansion's cancellation
    is clamped at 0)."""
    from pyspark.sql import functions as F

    from emails_to_vector_db_spark.functions.vector import squared_l2
    from emails_to_vector_db_spark.operators.ivf import min_cost_arrow
    from emails_to_vector_db_spark.sources.tables import load_table
    from tests.conftest import SF_ORACLE

    e = load_table(spark, SF_ORACLE, "embeddings").select(
        "vec_id", "embedding"
    )
    seed_rows = e.orderBy("vec_id").limit(4).collect()
    seeds = [list(map(float, r["embedding"])) for r in seed_rows]
    got = min_cost_arrow(e, seeds)
    from emails_to_vector_db_spark.functions.vector import vector_lit

    ref = e.select(
        "vec_id",
        F.round(
            F.least(
                *[squared_l2("embedding", vector_lit(s)) for s in seeds]
            ),
            6,
        ).alias("cost_ref"),
    )
    diff = (
        got.join(ref, "vec_id")
        .where(F.abs(F.col("cost") - F.col("cost_ref")) > 1e-9)
        .count()
    )
    assert diff == 0


def test_nearest_p_chunked_boundary_tie_falls_back_to_exact():
    """r10 ADVICE: when more candidates tie exactly at the selection
    boundary than the argpartition margin holds, the row must fall back
    to a full exact (dist, cid) sort — probe-list order can never
    depend on the margin width. 20 centroids equidistant from the query
    (unit vectors ×20 > p+margin=12) force the tie; expected order is
    ascending cid among the tied set."""
    import numpy as np

    from emails_to_vector_db_spark.operators.ivf import _nearest_p_chunked

    k, d, p = 20, 20, 4
    C = np.eye(k, d)  # every centroid at distance sqrt(2) from origin-ish
    X = np.zeros((3, d))  # all centroids tie exactly
    out = _nearest_p_chunked(X, C, p)
    assert out.shape == (3, p)
    for r in range(3):
        assert list(out[r]) == [0, 1, 2, 3], list(out[r])

    # mixed row: some strictly nearer, tie block crossing the boundary
    C2 = np.vstack([np.eye(k, d) * 3.0, np.eye(k, d)])  # cids k..2k-1 tie
    out2 = _nearest_p_chunked(np.zeros((1, d)), C2, 6)
    assert list(out2[0]) == [k, k + 1, k + 2, k + 3, k + 4, k + 5]
