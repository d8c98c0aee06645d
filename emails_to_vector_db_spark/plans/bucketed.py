"""Bucketed-table co-located join: the storage-layout answer to the
biggest shuffle in the warehouse.

The reference joins nothing (single-table Postgres scans,
``rag.py:40-50``); at 100 TB the fact-fact join (lineitem ⋈ orders on
orderkey) is THE dominant shuffle in TPC-H-shaped workloads — both
sides move over the network every single query. The standard fix is to
pay that shuffle ONCE at write time: store both tables bucketed (and
sorted) by the join key with the same bucket count, so every subsequent
join is bucket-to-bucket co-located — a SortMergeJoin with ZERO
exchanges, verified by tests/test_warehouse_layout.py. (The residual
per-task Sort is local, linear and spill-free over one bucket file;
Spark ≥3.0 ignores bucket sort metadata at scan unless the legacy
``spark.sql.legacy.bucketedTableScan.outputOrdering`` conf is set, so
the layout still writes SORTED BY for engines/confs that use it.)

Spark specifics this leans on (all public `DataFrameWriter.bucketBy` /
`CLUSTERED BY` DDL behavior):
- bucket assignment is Murmur3 on the key mod n_buckets, identical for
  both tables, so equal keys land in equal bucket ids;
- the catalog carries the bucket spec, so Catalyst plans the join with
  `outputPartitioning = HashPartitioning(key, n)` on both scans and
  elides the Exchange AND (because of SORTED BY) the per-task Sort;
- the in-memory session catalog is enough — tables are registered
  external-at-a-LOCATION, so the bucketed files persist across sessions
  and a fresh session only replays cheap DDL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emails_to_vector_db_spark.plans.registry import register
from emails_to_vector_db_spark.sources.tables import load_table, table_path
from emails_to_vector_db_spark.sources.warehouse import publish_bucketed

BUCKETS = 16
_LAYOUT_VERSION = 1


def ensure_bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    tbl: str,
    key: str,
    n_buckets: int = BUCKETS,
) -> str:
    """Land ``tbl`` bucketed+sorted by ``key`` (once per fixture
    generation) and make sure the current session's catalog knows the
    bucket spec. Returns the catalog name.

    The data shuffle happens only when the source fixture changed; a
    fresh session over fresh files replays only a CREATE TABLE — this is
    the once-per-ingest cost a production warehouse amortizes over every
    later join.
    """
    return publish_bucketed(
        spark,
        f"bucketed_v{_LAYOUT_VERSION}_{tbl}",
        [table_path(sf_dir, tbl)],
        lambda _: load_table(spark, sf_dir, tbl),
        key=key,
        n_buckets=n_buckets,
    )


_COLOCATED_ORACLE = """
SELECT o.o_orderpriority,
       count(*)::BIGINT AS n_lines,
       count(DISTINCT l.l_orderkey)::BIGINT AS n_orders,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY o.o_orderpriority
"""


@register(
    "bucketed_colocated_join",
    oracle=_COLOCATED_ORACLE,
    tags=("layout", "bucketing", "join", "warehouse"),
    bench=True,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority revenue from lineitem ⋈ orders, but joined through
    the bucketed layout: both sides stored CLUSTERED/SORTED BY orderkey
    INTO 16 BUCKETS, so the fact-fact join runs bucket-to-bucket with no
    exchange — the only shuffle left in the plan is the final 5-group
    aggregate (the distinct-orderkey partial even collapses map-side
    because the scan is already hash-distributed by orderkey). The oracle computes the same answer from
    the raw tables; hash-match proves the layout round-trip (write
    bucketed → register → co-located join) loses nothing.

    At 100 TB: this is THE canonical warehouse layout decision — the
    orderkey shuffle is paid once at ingest and never again; every
    downstream orderkey join (and groupBy orderkey) inherits the
    partitioning. The same trade the zorder query makes for scan
    pruning, made here for join locality."""
    li = spark.table(ensure_bucketed_table(spark, sf_dir, "lineitem", "l_orderkey"))
    od = spark.table(ensure_bucketed_table(spark, sf_dir, "orders", "o_orderkey"))
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .where(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )
