"""Maintenance operators: semantics beyond the oracle hash — delta-only
scan shape for the incremental MV, Z-order envelope geometry, sketch
union flags, salted-join identity."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from emails_to_vector_db_spark.plans import REGISTRY
from emails_to_vector_db_spark.plans.maintenance import (
    _MV_CUTOFF,
    _Z_BUCKET_SHIFT,
    _ensure_mv,
)
from emails_to_vector_db_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE


def test_mv_refresh_scans_only_the_delta(spark):
    """The refresh plan must read the orders table ONCE (the delta
    branch, with the cutoff predicate pushed to the scan) — the base
    period comes from the materialized partials, not a rescan."""
    _ensure_mv(spark, SF_ORACLE)  # build outside the inspected plan
    df = REGISTRY["incremental_mv_refresh"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("orders.parquet") == 1, plan[:1500]
    assert "mv_orders_by_priority" in plan
    assert "1997-01-01" in plan, "cutoff predicate not pushed into the scan"


def test_mv_refresh_equals_full_recompute(spark):
    got = {
        r.o_orderpriority: (r.n_orders, r.total_price, r.max_order_epoch)
        for r in REGISTRY["incremental_mv_refresh"].fn(spark, SF_ORACLE).collect()
    }
    o = load_table(spark, SF_ORACLE, "orders")
    want = {
        r.o_orderpriority: (r.n, r.t, r.m)
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("t"),
            F.max(F.unix_timestamp("o_orderdate")).alias("m"),
        )
        .collect()
    }
    assert got == want


def test_mv_materialization_is_reused(spark):
    path = _ensure_mv(spark, SF_ORACLE)
    mtime_before = os.stat(path).st_mtime_ns
    assert _ensure_mv(spark, SF_ORACLE) == path  # must not rebuild
    assert os.stat(path).st_mtime_ns == mtime_before


def test_mv_delta_is_nonempty_and_partial(spark):
    """The fixture straddles the cutoff — otherwise the refresh would be
    vacuously testing an empty delta (or an empty base)."""
    o = load_table(spark, SF_ORACLE, "orders")
    cut = F.lit(_MV_CUTOFF).cast("timestamp")
    n_base = o.where(F.col("o_orderdate") < cut).count()
    n_delta = o.where(F.col("o_orderdate") >= cut).count()
    assert n_base > 0 and n_delta > 0


def test_zorder_buckets_are_tiles(spark):
    """A z-bucket of 2^10 consecutive z-values is a 32x32 tile: each
    dimension's envelope within a bucket can span at most 31 quantized
    cells — the geometric guarantee that makes footer min/max stats
    prune 2-D box predicates. (A 1-D custkey sort gives max_yq-min_yq
    = 255 in every file.)"""
    rows = REGISTRY["zorder_layout_spans"].fn(spark, SF_ORACLE).collect()
    assert rows
    side = 2 ** ((_Z_BUCKET_SHIFT + 1) // 2)  # 32
    for r in rows:
        assert r.max_xq - r.min_xq <= side - 1, r
        assert r.max_yq - r.min_yq <= side - 1, r
    n_total = sum(r.n_rows for r in rows)
    assert n_total == load_table(spark, SF_ORACLE, "orders").count()


def test_hll_flags_hold(spark):
    rows = REGISTRY["hll_sketch_union"].fn(spark, SF_ORACLE).collect()
    assert rows
    assert all(r.within_5pct for r in rows)
    assert all(r.union_consistent for r in rows)


def test_salted_join_identity(spark):
    got = {
        r.c_mktsegment: (r.n_orders, r.total_price)
        for r in REGISTRY["salted_join_segments"].fn(spark, SF_ORACLE).collect()
    }
    o = load_table(spark, SF_ORACLE, "orders")
    c = load_table(spark, SF_ORACLE, "customer")
    want = {
        r.c_mktsegment: (r.n, r.t)
        for r in o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("t"),
        )
        .collect()
    }
    assert got == want
