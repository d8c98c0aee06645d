"""SemDeDup cluster pruning and PQ approximate search: semantics beyond
the oracle hash (which tests/test_oracle_parity.py already applies) —
pruned-set membership, recall vs exact KNN, index persistence."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as papq
import pytest
from pyspark.sql import functions as F

from emails_to_vector_db_spark.plans.dedup import _EMB_DUP_OFFSET, _EMB_N_PLANT
from emails_to_vector_db_spark.plans.semantic import (
    _PQ_DSUB,
    _PQ_M,
    _pq_codebooks,
    _sem_assigned,
    semantic_pruned_ids,
)
from emails_to_vector_db_spark.plans import REGISTRY
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_semantic_dedup_prunes_every_planted_copy(spark):
    """Each planted copy is a scaled (direction-identical) duplicate of
    vec_id < N_PLANT; normalization makes it bit-identical, so it must
    always be pruned, and its original (lower id) must always survive."""
    assigned = _sem_assigned(spark, SF_ORACLE)
    pruned = {
        r.id_b for r in semantic_pruned_ids(assigned).collect()
    }
    planted = {i + _EMB_DUP_OFFSET for i in range(_EMB_N_PLANT)}
    assert planted <= pruned, f"missing planted: {sorted(planted - pruned)}"
    # keep-min-id: originals never pruned by their own copies (they may
    # only be pruned by a DIFFERENT lower-id near-dup, which the random
    # fixture does not contain)
    assert not ({i for i in range(_EMB_N_PLANT)} & pruned)


def test_semantic_dedup_keeps_one_per_cluster(spark):
    rows = REGISTRY["semantic_dedup_prune"].fn(spark, SF_ORACLE).collect()
    assert rows, "no clusters"
    for r in rows:
        assert r.n_pruned < r.n_members, (
            f"cluster {r.cid} pruned everything"
        )
    assert sum(r.n_pruned for r in rows) >= _EMB_N_PLANT


def test_pq_recall_vs_exact(spark):
    """PQ ADC ordering vs exact L2 at sf0.01. The fixture embeddings are
    near-random (no low-dim structure), the WORST case for PQ — the bars
    are the measured behavior of the persisted 8x32 codebooks: the true
    nearest neighbor inside the ADC top-5, recall@20 >= 0.3."""
    res = REGISTRY["pq_ann_topk"].fn(spark, SF_ORACLE).collect()
    pq_ids = [r.vec_id for r in res]
    assert len(pq_ids) == 5

    t = papq.read_table(
        f"{SF_ORACLE}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pydict()
    X = np.array(t["embedding"], dtype=np.float64)
    ids = np.array(t["vec_id"])
    probe = X[ids == 7][0]
    mask = ids != 7
    exact = ((X - probe) ** 2).sum(1)
    exact_order = ids[mask][np.lexsort((ids[mask], exact[mask]))]
    assert exact_order[0] in pq_ids, "true NN not in ADC top-5"

    # recall@20 needs the top-20 by ADC: recompute the full ordering with
    # the same codebooks the query used
    cbs = [np.array(cb) for cb in _pq_codebooks()]
    codes = np.stack(
        [
            ((X[:, s * _PQ_DSUB : (s + 1) * _PQ_DSUB][:, None, :]
              - cbs[s][None, :, :]) ** 2).sum(-1).argmin(1)
            for s in range(_PQ_M)
        ],
        axis=1,
    )
    adist = sum(
        ((probe[s * _PQ_DSUB : (s + 1) * _PQ_DSUB]
          - cbs[s][codes[:, s]]) ** 2).sum(-1)
        for s in range(_PQ_M)
    )
    pq_order = ids[mask][np.lexsort((ids[mask], adist[mask]))]
    recall = len(set(pq_order[:20]) & set(exact_order[:20])) / 20
    assert recall >= 0.3, f"recall@20 = {recall}"
    # and the registered query's top-5 is exactly the ADC ordering head
    assert pq_ids == list(pq_order[:5])


def test_pq_codebooks_persisted_and_deterministic(tmp_path, monkeypatch):
    from emails_to_vector_db_spark.operators.pq import train_pq_codebooks
    from emails_to_vector_db_spark.sources import warehouse

    src = f"{SF_SMOKE}/embeddings.parquet"
    t = papq.read_table(src, columns=["vec_id", "embedding"])
    vecs = t.sort_by("vec_id").to_pydict()["embedding"]
    a = train_pq_codebooks(vecs, m=4, k=8, seed=3)
    b = train_pq_codebooks(vecs, m=4, k=8, seed=3)
    assert a == b, "training not deterministic"
    assert len(a) == 4 and all(len(cb) == 8 for cb in a)
    monkeypatch.setattr(warehouse, "WAREHOUSE", str(tmp_path))
    assert warehouse.publish_json("cb", [src], lambda: a) == a
    assert warehouse.publish_json("cb", [src], lambda: 1 / 0) == a
    # different subspaces trained with different seeds -> different books
    assert a[0] != a[1]


def test_pq_encode_ties_break_low_code(spark):
    """numpy argmin keeps the lowest index on exact ties — the contract
    the DuckDB oracle's (dist ASC, code ASC) ranking relies on."""
    from emails_to_vector_db_spark.plans.semantic import pq_encode_udf

    # duplicate codeword 0 as codeword 1: every vector whose argmin was
    # either must encode to 0
    cb0 = [[float(i) for i in range(_PQ_DSUB)]] * 2
    cbs = [cb0 for _ in range(_PQ_M)]
    df = spark.createDataFrame(
        [(1, [float(i % _PQ_DSUB) for i in range(64)])], "id long, v array<double>"
    )
    row = df.select(pq_encode_udf(cbs)(F.col("v")).alias("c")).first()
    assert row.c == [0] * _PQ_M


def test_semantic_cluster_count_self_tunes():
    from emails_to_vector_db_spark.operators.ivf import n_centroids_for
    from emails_to_vector_db_spark.plans.semantic import _sem_k

    assert _sem_k(500) == n_centroids_for(500)
    # expected cluster size stays ~flat as the corpus grows
    assert _sem_k(1_000_000) >= 1_000_000 // 256


@pytest.mark.parametrize("name", ["semantic_dedup_prune", "pq_ann_topk"])
def test_new_queries_registered_with_oracles(name):
    assert REGISTRY[name].oracle


def test_ivfadc_subset_of_pq_ordering(spark):
    """IVFADC = the PQ ADC ordering restricted to the probed IVF lists:
    every returned id must carry the same adistance the full-space PQ
    search assigns it, and dropping the IVF filter (nprobe = all lists)
    must reproduce pq_ann_topk's top-5 exactly."""
    res = REGISTRY["ivfadc_ann_topk"].fn(spark, SF_ORACLE).collect()
    assert len(res) == 5
    ivfadc = {r.vec_id: r.adistance for r in res}

    pq_full = {
        r.vec_id: r.adistance
        for r in REGISTRY["pq_ann_topk"].fn(spark, SF_ORACLE).collect()
    }
    # shared ids agree on the ADC value bit-for-bit (same codebooks,
    # same LUT construction)
    for vid, d in ivfadc.items():
        if vid in pq_full:
            assert d == pq_full[vid]

    # with every list probed, IVFADC degenerates to IndexPQ
    from emails_to_vector_db_spark.operators.ivf import (
        assign_centroid,
        nearest_centroids,
    )
    from emails_to_vector_db_spark.plans.semantic import (
        _adc_sum,
        _pq_lut_sql,
        pq_encode_udf,
    )
    from emails_to_vector_db_spark.plans.vector import (
        PROBE_ID,
        _embeddings_rows,
        _ivf_centroids,
        _ivf_k,
    )
    from emails_to_vector_db_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    cents = _ivf_centroids(_ivf_k(_embeddings_rows(SF_ORACLE)), SF_ORACLE)
    cbs = _pq_codebooks()
    emb = load_table(spark, SF_ORACLE, "embeddings")
    v = F.col("embedding").cast("array<double>")
    base = emb.select(
        "vec_id",
        assign_centroid(v, cents).alias("cid"),
        pq_encode_udf(cbs)(v).alias("codes"),
    )
    probe = F.broadcast(
        emb.where(F.col("vec_id") == PROBE_ID)
        .select(v.alias("q"))
        .select(
            F.expr(_pq_lut_sql(cbs)).alias("lut"),
            nearest_centroids(F.col("q"), cents, len(cents)).alias(
                "probed"
            ),
        )
    )
    all_lists = (
        base.crossJoin(probe)
        .where(F.array_contains("probed", F.col("cid")))
        .where(F.col("vec_id") != PROBE_ID)
        .withColumn("adist", _adc_sum())
        .orderBy(F.col("adist").asc(), F.col("vec_id").asc())
        .limit(5)
        .select("vec_id", (F.round("adist", 6) + F.lit(0.0)).alias("a"))
        .collect()
    )
    assert {r.vec_id: r.a for r in all_lists} == pq_full
