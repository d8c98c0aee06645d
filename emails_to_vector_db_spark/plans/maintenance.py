"""Warehouse-maintenance operators: incremental materialized-view
refresh, mergeable HLL sketch stores, Z-order layout clustering, and
skew-salted joins — the operations that keep a 100 TB warehouse fresh,
countable, skippable, and balanced.

The reference recomputes everything from scratch on every run (its
ingest loop re-reads the whole CSV and re-embeds it, ``rag.py:40-50``);
these queries express the delta-only / sketch-merge / layout algebra a
production deployment uses instead. All four are hash-checked against
DuckDB oracles computed the naive full-recompute way — the POINT of each
check is that the incremental/approximate/salted path reproduces the
direct answer exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emails_to_vector_db_spark.plans.registry import register
from emails_to_vector_db_spark.sources.tables import load_table, table_path
from emails_to_vector_db_spark.sources.warehouse import publish

# ---------------------------------------------------------------------------
# Incremental materialized-view refresh (delta-only aggregation maintenance)
# ---------------------------------------------------------------------------

_MV_VERSION = 1
_MV_CUTOFF = "1997-01-01"

_MV_ORACLE = f"""
SELECT o_orderpriority,
       count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice), 2) AS total_price,
       max(epoch(o_orderdate))::BIGINT AS max_order_epoch,
       round(sum(o_totalprice) / count(*), 6) AS avg_price
FROM orders
GROUP BY o_orderpriority
"""


def _mv_partials(df: DataFrame) -> DataFrame:
    """The decomposable partial-aggregate state the MV stores: count and
    RAW sum (rounding only at serve time keeps the merge algebra exact),
    max epoch. avg is derived sum/count after the merge — the standard
    algebraic-view decomposition."""
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").alias("sum_price"),
        F.max(F.unix_timestamp("o_orderdate")).alias("max_order_epoch"),
    )


def _ensure_mv(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the base-period partial aggregates once per fixture
    generation (published under a fingerprint of orders.parquet, like
    every warehouse artifact): the registered query then reads THIS
    parquet instead of re-aggregating the base period."""

    def build(d: str) -> None:
        base = load_table(spark, sf_dir, "orders").where(
            F.col("o_orderdate") < F.lit(_MV_CUTOFF).cast("timestamp")
        )
        _mv_partials(base).coalesce(1).write.mode("overwrite").parquet(d)

    return publish(
        f"mv_orders_by_priority_v{_MV_VERSION}",
        [table_path(sf_dir, "orders")],
        build,
    )


@register(
    "incremental_mv_refresh",
    oracle=_MV_ORACLE,
    tags=("maintenance", "mv", "incremental"),
    bench=True,
)
def incremental_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the per-priority order
    stats for the base period (< {cutoff}) live in a MATERIALIZED partial-
    aggregate table (count / raw sum / max — the decomposable state);
    refresh scans ONLY the delta (>= {cutoff}, a pushed-down parquet
    predicate), aggregates it to the same partial shape, and merges by
    re-aggregating the union — count adds, sum adds, max maxes, avg is
    re-derived from the merged sums. The DuckDB oracle recomputes over
    the FULL table, proving delta-only refresh reproduces the direct
    answer exactly.

    At 100 TB this is THE freshness operator: refresh cost is
    O(delta) + O(groups), never O(history). The same partial-state
    algebra is what Spark's own partial aggregation does inside one
    query; here it is persisted across queries (and it is exactly the
    foreachBatch merge the streaming ingest performs per micro-batch)."""
    mv = spark.read.parquet(_ensure_mv(spark, sf_dir))
    delta = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit(_MV_CUTOFF).cast("timestamp")
    )
    merged = (
        mv.unionByName(_mv_partials(delta))
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("sum_price").alias("sum_price"),
            F.max("max_order_epoch").alias("max_order_epoch"),
        )
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.round("sum_price", 2).alias("total_price"),
        "max_order_epoch",
        F.round(F.col("sum_price") / F.col("n_orders"), 6).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# Mergeable HLL sketch store: per-source sketches union to the global one
# ---------------------------------------------------------------------------

_HLL_LGK = 12

_HLL_ORACLE = """
WITH toks AS (
    SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
    FROM documents
)
SELECT source,
       count(DISTINCT tok)::BIGINT AS n_exact,
       TRUE AS within_5pct,
       TRUE AS union_consistent
FROM toks GROUP BY source
"""


@register(
    "hll_sketch_union",
    oracle=_HLL_ORACLE,
    tags=("maintenance", "sketch", "hll", "approx"),
)
def hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable cardinality sketch store (Datasketches HLL via Spark's
    ``hll_sketch_agg``/``hll_union_agg``): each source keeps its own
    distinct-token sketch; the global estimate comes from UNIONING the
    per-source sketches — never rescanning other sources. Two properties
    are verified IN-QUERY and surfaced as result columns the oracle
    expects TRUE (a violation flips the value hash): (1) every per-source
    estimate is within 5% of its exact count, (2) the union of the
    per-source sketches estimates EXACTLY what one direct global sketch
    does (sketch-merge losslessness — the algebra a sketch warehouse
    relies on). Exact per-source counts are hash-checked against DuckDB
    directly.

    At 100 TB: per-partition sketches merge map-side (a few KB each),
    the union is O(sources), and refreshing one source touches one
    sketch — the same partial-state story as incremental_mv_refresh,
    with fixed-size state."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    )
    per_src = toks.groupBy("source").agg(
        F.count_distinct("tok").alias("n_exact"),
        F.hll_sketch_agg("tok", F.lit(_HLL_LGK)).alias("sk"),
    )
    merged = per_src.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("union_est")
    )
    direct = toks.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("tok", F.lit(_HLL_LGK))).alias(
            "direct_est"
        )
    )
    consistency = F.broadcast(
        merged.crossJoin(direct).select(
            (F.col("union_est") == F.col("direct_est")).alias(
                "union_consistent"
            )
        )
    )
    return (
        per_src.withColumn(
            "within_5pct",
            (
                F.abs(
                    F.hll_sketch_estimate("sk").cast("double")
                    - F.col("n_exact")
                )
                / F.col("n_exact")
                <= 0.05
            ),
        )
        .crossJoin(consistency)
        .select("source", "n_exact", "within_5pct", "union_consistent")
    )


# ---------------------------------------------------------------------------
# Z-order layout clustering: interleaved-bit sort keys for data skipping
# ---------------------------------------------------------------------------

_Z_BITS = 8  # per dimension
_Z_BUCKET_SHIFT = 10  # 2^16 z-values -> 64 layout buckets


def _z_oracle() -> str:
    x_bits = " + ".join(
        f"(((xq >> {i}) & 1) << {2 * i})" for i in range(_Z_BITS)
    )
    y_bits = " + ".join(
        f"(((yq >> {i}) & 1) << {2 * i + 1})" for i in range(_Z_BITS)
    )
    return f"""
WITH pts AS (
    SELECT o_custkey AS x, epoch(o_orderdate)::BIGINT // 86400 AS y
    FROM orders
),
rng AS (
    SELECT min(x) AS xmin, max(x) AS xmax, min(y) AS ymin, max(y) AS ymax
    FROM pts
),
quant AS (
    SELECT ((p.x - r.xmin) * 256) // (r.xmax - r.xmin + 1) AS xq,
           ((p.y - r.ymin) * 256) // (r.ymax - r.ymin + 1) AS yq
    FROM pts p CROSS JOIN rng r
),
zed AS (
    SELECT xq, yq, ({x_bits}) + ({y_bits}) AS z FROM quant
)
SELECT (z >> {_Z_BUCKET_SHIFT})::BIGINT AS zbucket,
       count(*)::BIGINT AS n_rows,
       min(xq)::BIGINT AS min_xq, max(xq)::BIGINT AS max_xq,
       min(yq)::BIGINT AS min_yq, max(yq)::BIGINT AS max_yq,
       (max(xq) - min(xq) + max(yq) - min(yq))::BIGINT AS span
FROM zed GROUP BY zbucket
"""


@register(
    "zorder_layout_spans",
    oracle=_z_oracle(),
    tags=("maintenance", "layout", "zorder", "skipping"),
)
def zorder_layout_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout clustering — the multi-dimensional sort
    key behind Delta/Iceberg OPTIMIZE ZORDER: (custkey, order-day) are
    quantized to 8 bits each and bit-interleaved; rows sharing a z-value
    prefix (a layout bucket ≙ a target file) then cover a SMALL rectangle
    in BOTH dimensions, so min/max footer stats prune files for 2-D box
    predicates — a 1-D sort only ever prunes one dimension. The query
    emits each bucket's per-dimension min/max envelope and total span
    (the data-skipping effectiveness metric, asserted tight in
    tests/test_maintenance_ops.py); everything is integer arithmetic, so
    the oracle hash-matches bit-for-bit.

    At 100 TB the write path is ``repartitionByRange(z)`` +
    ``sortWithinPartitions(z)`` before the parquet write — one range
    shuffle; this query is the audit that the resulting envelopes are
    worth that shuffle."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_custkey").alias("x"),
        F.expr("unix_timestamp(o_orderdate) div 86400").alias("y"),
    )
    rng = F.broadcast(
        pts.agg(
            F.min("x").alias("xmin"),
            F.max("x").alias("xmax"),
            F.min("y").alias("ymin"),
            F.max("y").alias("ymax"),
        )
    )
    quant = pts.crossJoin(rng).select(
        F.expr("((x - xmin) * 256) div (xmax - xmin + 1)").alias("xq"),
        F.expr("((y - ymin) * 256) div (ymax - ymin + 1)").alias("yq"),
    )
    z = None
    for i in range(_Z_BITS):
        xb = F.shiftleft(F.shiftright("xq", i).bitwiseAND(F.lit(1)), 2 * i)
        yb = F.shiftleft(
            F.shiftright("yq", i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        z = xb + yb if z is None else z + xb + yb
    zed = quant.withColumn("z", z)
    return (
        zed.groupBy(
            F.shiftright("z", _Z_BUCKET_SHIFT).cast("long").alias("zbucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("xq").alias("min_xq"),
            F.max("xq").alias("max_xq"),
            F.min("yq").alias("min_yq"),
            F.max("yq").alias("max_yq"),
        )
        .withColumn(
            "span",
            (
                F.col("max_xq")
                - F.col("min_xq")
                + F.col("max_yq")
                - F.col("min_yq")
            ).cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# Skew-salted join, oracle-checked (the operators/skew.py machinery was
# previously pytest-only)
# ---------------------------------------------------------------------------

_SALT_N = 8

_SALTED_ORACLE = """
SELECT c.c_mktsegment,
       count(*)::BIGINT AS n_orders,
       round(sum(o.o_totalprice), 2) AS total_price
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
"""


@register(
    "salted_join_segments",
    oracle=_SALTED_ORACLE,
    tags=("maintenance", "skew", "join"),
)
def salted_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salted equi-join (operators/skew.py::salted_join) driven
    through the full oracle gate: orders⋈customer on custkey with the big
    side salted 8 ways and the small side replicated 8x, aggregated to
    per-segment order counts and revenue. The oracle is the PLAIN join —
    the check proves salting is semantics-preserving, which is the whole
    contract of the technique. Use when one customer owns a pathological
    share of orders: no single reducer sees more than ~1/8th of the hot
    key, at the cost of an 8x replicated (still broadcast-sized) build
    side."""
    from emails_to_vector_db_spark.operators.skew import salted_join

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = salted_join(
        o, c, "custkey", n_salts=_SALT_N, big_unique_col="o_orderkey"
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning (explicit sketch, the shuffle-avoidance
# companion to the AQE runtime bloom filter tested in
# tests/test_warehouse_layout.py)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 16384
_BLOOM_WORDS = _BLOOM_BITS // 32  # 32-bit words in BIGINT: no sign games
_BLOOM_K = 3
_BLOOM_PRICE = 400000.0

_BLOOM_POS_SQL = [
    f"(('0x' || substr(md5('bloom{s}:' || o_orderkey::VARCHAR), 1, 15))"
    f"::BIGINT % {_BLOOM_BITS})"
    for s in range(_BLOOM_K)
]
_BLOOM_PROBE_POS_SQL = [
    p.replace("o_orderkey", "l_orderkey") for p in _BLOOM_POS_SQL
]

_BLOOM_ORACLE = f"""
WITH build AS (
    SELECT o_orderkey FROM orders WHERE o_totalprice > {_BLOOM_PRICE}
),
bits AS (
    SELECT DISTINCT pos FROM build,
        (SELECT unnest([{", ".join(_BLOOM_POS_SQL)}]) AS pos) p
),
words AS (
    SELECT pos // 32 AS word_idx,
           bit_or(1::BIGINT << (pos % 32)) AS word
    FROM bits GROUP BY pos // 32
),
probe AS (
    SELECT l_orderkey, l_extendedprice, l_discount,
           {", ".join(f"{p} AS pos{s}" for s, p in enumerate(_BLOOM_PROBE_POS_SQL))}
    FROM lineitem
),
cand AS (
    SELECT pr.l_orderkey, pr.l_extendedprice, pr.l_discount
    FROM probe pr
    {" ".join(
        f"LEFT JOIN words w{s} ON w{s}.word_idx = pr.pos{s} // 32"
        for s in range(_BLOOM_K)
    )}
    WHERE {" AND ".join(
        f"((coalesce(w{s}.word, 0) >> (pr.pos{s} % 32)) & 1) = 1"
        for s in range(_BLOOM_K)
    )}
)
SELECT count(*)::BIGINT AS n_candidates,
       (SELECT count(*)::BIGINT FROM cand
        WHERE l_orderkey IN (SELECT o_orderkey FROM build)) AS n_verified,
       (SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) FROM cand
        WHERE l_orderkey IN (SELECT o_orderkey FROM build)) AS revenue
FROM cand
"""


@register(
    "bloom_prune_semijoin",
    oracle=_BLOOM_ORACLE,
    tags=("sketch", "bloom", "join-pruning"),
)
def bloom_prune_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom-filter join pruning: the selective build side
    (orders above a price threshold) is folded into a 16384-bit Bloom
    filter — k=3 salted-md5 bit positions, 32-bit words packed into one
    map<word_idx, word> row — broadcast, and the probe side (the full
    lineitem stream) is pre-filtered by 3 pure per-row bit tests before
    the exact semi-join removes the false positives. Emits candidate /
    verified counts side by side, so the sketch's false-positive margin
    is itself part of the hash-checked result.

    100 TB shape: the sketch is ~2 KB regardless of corpus size and
    replaces a shuffle of every non-matching probe row with a scan-local
    filter — the manual form of what the AQE runtime bloom filter
    injects (tests/test_warehouse_layout.py proves that path; this one
    is engine-independent and lands in the oracle too). Build-side
    distinct and the word fold are 128-row aggregates; nothing but
    survivors reaches the join."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    build = od.where(F.col("o_totalprice") > _BLOOM_PRICE).select(
        "o_orderkey"
    )

    def positions(key_col: str):
        return [
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"bloom{s}:"),
                            F.col(key_col).cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % _BLOOM_BITS
            for s in range(_BLOOM_K)
        ]

    bits = (
        build.select(
            F.explode(F.array(*positions("o_orderkey"))).alias("pos")
        )
        .distinct()
    )
    words = bits.groupBy((F.col("pos") / 32).cast("long").alias("word_idx")).agg(
        F.expr("bit_or(shiftleft(1L, cast(pos % 32 as int)))").alias("word")
    )
    sketch = F.broadcast(
        words.agg(
            F.map_from_entries(
                F.collect_list(F.struct("word_idx", "word"))
            ).alias("bloom")
        )
    )
    probe = li.select(
        "l_orderkey",
        "l_extendedprice",
        "l_discount",
        *[p.alias(f"pos{s}") for s, p in enumerate(positions("l_orderkey"))],
    ).crossJoin(sketch)
    passed = probe.where(
        F.expr(
            " AND ".join(
                f"((coalesce(element_at(bloom, cast(pos{s} div 32 as bigint)), 0L)"
                f" >> cast(pos{s} % 32 as int)) & 1) = 1"
                for s in range(_BLOOM_K)
            )
        )
    )
    verified = passed.join(
        F.broadcast(build),
        passed.l_orderkey == build.o_orderkey,
        "left_semi",
    )
    n_cand = passed.agg(F.count(F.lit(1)).alias("n_candidates"))
    v = verified.agg(
        F.count(F.lit(1)).alias("n_verified"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )
    return n_cand.crossJoin(v)


_PROFILE_NUM_COLS = ("o_orderkey", "o_custkey", "o_totalprice")
_PROFILE_STR_COLS = ("o_orderstatus", "o_orderpriority")
_PROFILE_TS_COLS = ("o_orderdate",)


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_NUM_COLS:
        parts.append(
            f"""SELECT '{c}' AS col_name, count(*)::BIGINT AS n_rows,
       (count(*) - count({c}))::BIGINT AS n_nulls,
       count(DISTINCT {c})::BIGINT AS n_distinct,
       round(min({c})::DOUBLE, 6) AS min_num,
       round(max({c})::DOUBLE, 6) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM orders"""
        )
    for c in _PROFILE_STR_COLS:
        parts.append(
            f"""SELECT '{c}', count(*)::BIGINT, (count(*) - count({c}))::BIGINT,
       count(DISTINCT {c})::BIGINT,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min({c}), max({c})
FROM orders"""
        )
    for c in _PROFILE_TS_COLS:
        parts.append(
            f"""SELECT '{c}', count(*)::BIGINT, (count(*) - count({c}))::BIGINT,
       count(DISTINCT {c})::BIGINT,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       strftime(min({c}), '%Y-%m-%d %H:%M:%S'),
       strftime(max({c}), '%Y-%m-%d %H:%M:%S')
FROM orders"""
        )
    return "\nUNION ALL\n".join(parts)


@register(
    "orders_column_profile",
    oracle=_profile_oracle(),
    tags=("maintenance", "profiling", "agg"),
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile of the orders table — row count, null
    count, exact distinct cardinality, and typed min/max per column (the
    table-stats pass behind CBO statistics, data contracts, and ingest
    monitoring; the reference has no profiling surface at all).

    Plan shape: ONE pass over the table computes every metric — the
    multi-column count(DISTINCT) block compiles to Catalyst's Expand
    operator (one row per (row × column-group)), exactly how
    `ANALYZE TABLE ... COMPUTE STATISTICS` plans it — then the wide
    1-row aggregate is unpivoted driver-free via stack() into the long
    (col_name, metrics...) form. Min/max land in typed lanes (num vs
    str, timestamps as epoch seconds) so no engine-specific float→string
    formatting can touch the hash. At 100 TB swap the exact distinct
    for approx_count_distinct — same plan minus the Expand multiplier;
    exact is kept here because the oracle checks it bit-for-bit.
    """
    orders = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in (
        _PROFILE_NUM_COLS + _PROFILE_STR_COLS + _PROFILE_TS_COLS
    ):
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
    for c in _PROFILE_NUM_COLS:
        aggs += [
            F.round(F.min(c).cast("double"), 6).alias(f"{c}__min_num"),
            F.round(F.max(c).cast("double"), 6).alias(f"{c}__max_num"),
        ]
    for c in _PROFILE_STR_COLS:
        aggs += [
            F.min(c).alias(f"{c}__min_str"),
            F.max(c).alias(f"{c}__max_str"),
        ]
    for c in _PROFILE_TS_COLS:
        aggs += [
            F.date_format(F.min(c), "yyyy-MM-dd HH:mm:ss").alias(
                f"{c}__min_str"
            ),
            F.date_format(F.max(c), "yyyy-MM-dd HH:mm:ss").alias(
                f"{c}__max_str"
            ),
        ]
    wide = orders.agg(*aggs)

    def _lane(c: str, lane: str, typ: str):
        name = f"{c}__{lane}"
        if name in wide.columns:
            return F.col(name)
        return F.lit(None).cast(typ)

    stack_args = []
    for c in (
        _PROFILE_NUM_COLS + _PROFILE_STR_COLS + _PROFILE_TS_COLS
    ):
        stack_args += [
            F.lit(c),
            F.col(f"{c}__nulls"),
            F.col(f"{c}__distinct"),
            _lane(c, "min_num", "double"),
            _lane(c, "max_num", "double"),
            _lane(c, "min_str", "string"),
            _lane(c, "max_str", "string"),
        ]
    n_cols = len(
        _PROFILE_NUM_COLS + _PROFILE_STR_COLS + _PROFILE_TS_COLS
    )
    return wide.select(
        F.col("n_rows"),
        F.stack(
            F.lit(n_cols),
            *stack_args,
        ).alias(
            "col_name", "n_nulls", "n_distinct",
            "min_num", "max_num", "min_str", "max_str",
        ),
    ).select(
        "col_name", "n_rows", "n_nulls", "n_distinct",
        "min_num", "max_num", "min_str", "max_str",
    )


_SKEW_TOP_SHARE = 5

_SKEW_ORACLE = f"""
WITH keyed AS (
    SELECT l_suppkey AS k, count(*)::DOUBLE AS c
    FROM lineitem GROUP BY l_suppkey
),
ranked AS (
    SELECT c,
           row_number() OVER (ORDER BY c ASC, k ASC) AS i,
           count(*) OVER () AS nk,
           sum(c) OVER () AS tot
    FROM keyed
)
SELECT max(nk)::BIGINT AS n_keys,
       round(max(CASE WHEN i = nk THEN c END) / max(tot), 6) AS max_share,
       round(sum(CASE WHEN i > nk - {_SKEW_TOP_SHARE} THEN c ELSE 0 END)
             / max(tot), 6) AS top{_SKEW_TOP_SHARE}_share,
       round(2.0 * sum(i * c) / (max(nk) * max(tot))
             - (max(nk) + 1.0) / max(nk), 6) AS gini
FROM ranked
"""


@register(
    "join_key_skew_report",
    oracle=_SKEW_ORACLE,
    tags=("maintenance", "skew", "diagnostics"),
)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics for lineitem.l_suppkey — the report
    you run BEFORE deciding whether a join needs the salting machinery
    in operators/skew.py: key count, heaviest-key share, top-5 share,
    and the Gini coefficient of the key-frequency distribution (0 =
    perfectly even partitions, →1 = one key owns the shuffle).

    Plan: one corpus-scale key-count aggregation; the ascending-
    frequency ranking over the KEY table runs through
    operators/ranking.py::distributed_row_number (key tables reach
    billions of rows at web scale — user ids, URLs — so the rank must
    not collapse to one partition), and the grand totals come from a
    1-row broadcast aggregate instead of unbounded windows.
    """
    from emails_to_vector_db_spark.operators.ranking import (
        distributed_row_number,
    )

    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.groupBy(F.col("l_suppkey").alias("k")).agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    with_rank = distributed_row_number(
        keyed, [F.col("c").asc(), F.col("k").asc()], "i"
    )
    tots = F.broadcast(
        with_rank.agg(
            F.max("i").cast("long").alias("nk"), F.sum("c").alias("tot")
        )
    )
    ranked = with_rank.crossJoin(tots)
    return ranked.agg(
        F.max("nk").cast("long").alias("n_keys"),
        F.round(
            F.max(F.when(F.col("i") == F.col("nk"), F.col("c")))
            / F.max("tot"),
            6,
        ).alias("max_share"),
        F.round(
            F.sum(
                F.when(
                    F.col("i") > F.col("nk") - _SKEW_TOP_SHARE, F.col("c")
                ).otherwise(0.0)
            )
            / F.max("tot"),
            6,
        ).alias(f"top{_SKEW_TOP_SHARE}_share"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("c"))
            / (F.max("nk") * F.max("tot"))
            - (F.max("nk") + 1.0) / F.max("nk"),
            6,
        ).alias("gini"),
    )


_DIFF_UPD = 20  # custkey < 20 get an acctbal update in "v2"
_DIFF_DEL_LO, _DIFF_DEL_HI = 20, 30  # removed in v2
_DIFF_INS = 10  # custkey < 10 duplicated at +offset as inserts
_DIFF_OFFSET = 500_000

_DIFF_ORACLE = f"""
WITH base AS (
    SELECT c_custkey AS k,
           md5(c_name || '|' || c_nationkey || '|' || round(c_acctbal, 2))
               AS payload
    FROM customer
),
v2_rows AS (
    SELECT c_custkey AS k, c_name,
           c_nationkey,
           c_acctbal + CASE WHEN c_custkey < {_DIFF_UPD} THEN 100.0
                            ELSE 0.0 END AS c_acctbal
    FROM customer
    WHERE c_custkey < {_DIFF_DEL_LO} OR c_custkey >= {_DIFF_DEL_HI}
    UNION ALL
    SELECT c_custkey + {_DIFF_OFFSET}, c_name, c_nationkey, c_acctbal
    FROM customer WHERE c_custkey < {_DIFF_INS}
),
v2 AS (
    SELECT k,
           md5(c_name || '|' || c_nationkey || '|' || round(c_acctbal, 2))
               AS payload
    FROM v2_rows
),
joined AS (
    SELECT base.k AS bk, v2.k AS nk,
           base.payload AS bp, v2.payload AS np
    FROM base FULL OUTER JOIN v2 ON base.k = v2.k
)
SELECT CASE WHEN bk IS NULL THEN 'insert'
            WHEN nk IS NULL THEN 'delete'
            WHEN bp <> np THEN 'update'
            ELSE 'unchanged' END AS change_type,
       count(*)::BIGINT AS n_rows,
       min(coalesce(bk, nk))::BIGINT AS min_key,
       max(coalesce(bk, nk))::BIGINT AS max_key
FROM joined
GROUP BY 1
"""


@register(
    "table_diff_audit",
    oracle=_DIFF_ORACLE,
    tags=("maintenance", "reconciliation", "cdc"),
)
def table_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-to-version table reconciliation: full-outer join two
    snapshots on the key, classify every row insert / delete / update /
    unchanged by comparing a canonical payload hash, report per-class
    counts and key ranges — the diff a CDC pipeline or replica
    anti-entropy job runs (the pairwise complement of
    events_table_fingerprint's single-table digest). The v2 snapshot
    plants all three change classes so every branch is exercised.

    Plan: both sides reduce to (key, 16-byte hash) AT THE SCAN (payload
    columns never survive the projection), so the full-outer join
    shuffles two narrow relations co-partitioned on the key; the
    classification is a post-join expression and the report is a
    4-group aggregate. At 100 TB both sides bucket by key at ingest
    and the join is exchange-free (plans/bucketed.py).
    """
    cust = load_table(spark, sf_dir, "customer")

    def payload(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("c_custkey").alias("k"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("c_name"),
                    F.col("c_nationkey"),
                    F.round("c_acctbal", 2),
                )
            ).alias("payload"),
        )

    base = payload(cust)
    v2_rows = cust.where(
        (F.col("c_custkey") < _DIFF_DEL_LO)
        | (F.col("c_custkey") >= _DIFF_DEL_HI)
    ).withColumn(
        "c_acctbal",
        F.col("c_acctbal")
        + F.when(F.col("c_custkey") < _DIFF_UPD, 100.0).otherwise(0.0),
    ).unionByName(
        cust.where(F.col("c_custkey") < _DIFF_INS).withColumn(
            "c_custkey", F.col("c_custkey") + _DIFF_OFFSET
        ),
        allowMissingColumns=False,
    )
    v2 = payload(v2_rows)
    joined = base.alias("b").join(
        v2.alias("n"), F.col("b.k") == F.col("n.k"), "full_outer"
    )
    change = (
        F.when(F.col("b.k").isNull(), "insert")
        .when(F.col("n.k").isNull(), "delete")
        .when(F.col("b.payload") != F.col("n.payload"), "update")
        .otherwise("unchanged")
    )
    key = F.coalesce(F.col("b.k"), F.col("n.k"))
    return (
        joined.select(change.alias("change_type"), key.alias("k"))
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
        )
    )


# ---------------------------------------------------------------------------
# Data-contract constraint audit (dbt-test-style quality gate)
# ---------------------------------------------------------------------------

_CONSTRAINT_ORACLE = """
SELECT 'orders_pk_unique' AS check_name,
       (count(*) - count(DISTINCT o_orderkey))::BIGINT AS n_violations,
       count(*)::BIGINT AS n_checked
FROM orders
UNION ALL
SELECT 'orders_custkey_not_null',
       sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
       count(*)::BIGINT
FROM orders
UNION ALL
SELECT 'orders_status_enum',
       sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                THEN 1 ELSE 0 END)::BIGINT,
       count(*)::BIGINT
FROM orders
UNION ALL
SELECT 'lineitem_fk_orders',
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))::BIGINT,
       (SELECT count(*) FROM lineitem)::BIGINT
UNION ALL
SELECT 'lineitem_discount_range',
       sum(CASE WHEN l_discount < 0 OR l_discount > 1
                THEN 1 ELSE 0 END)::BIGINT,
       count(*)::BIGINT
FROM lineitem
UNION ALL
SELECT 'lineitem_quantity_positive',
       sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)::BIGINT,
       count(*)::BIGINT
FROM lineitem
"""


@register(
    "table_constraint_audit",
    oracle=_CONSTRAINT_ORACLE,
    tags=("warehouse", "data-quality", "audit"),
)
def table_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract enforcement as one report: primary-key
    uniqueness, not-null, enum membership, referential integrity
    (lineitem rows whose order vanished — the orphan check a CDC/
    compaction bug produces), and numeric range checks — the
    dbt-test/Great-Expectations quality gate expressed as engine
    queries, run before anything downstream trusts a landed batch.

    Plan shape: the single-table checks fuse into ONE conditional-
    aggregate pass per table (uniqueness via count - countDistinct in
    the same agg); the referential check is a broadcast-eligible
    left-anti join on the orders key projection. Six 1-row results
    union; nothing scans twice except the FK probe."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    checks = []
    o_agg = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
            "pk"
        ),
        F.sum(
            F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
        ).alias("nn"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
            .otherwise(0)
        ).alias("enum"),
        F.count(F.lit(1)).alias("n"),
    )
    checks.append(
        o_agg.select(
            F.lit("orders_pk_unique").alias("check_name"),
            F.col("pk").cast("long").alias("n_violations"),
            F.col("n").cast("long").alias("n_checked"),
        )
    )
    checks.append(
        o_agg.select(
            F.lit("orders_custkey_not_null").alias("check_name"),
            F.col("nn").cast("long").alias("n_violations"),
            F.col("n").cast("long").alias("n_checked"),
        )
    )
    checks.append(
        o_agg.select(
            F.lit("orders_status_enum").alias("check_name"),
            F.col("enum").cast("long").alias("n_violations"),
            F.col("n").cast("long").alias("n_checked"),
        )
    )
    orphans = li.join(
        o.select("o_orderkey"),
        li["l_orderkey"] == o["o_orderkey"],
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("v"))
    li_total = li.agg(F.count(F.lit(1)).alias("n"))
    checks.append(
        orphans.crossJoin(li_total).select(
            F.lit("lineitem_fk_orders").alias("check_name"),
            F.col("v").cast("long").alias("n_violations"),
            F.col("n").cast("long").alias("n_checked"),
        )
    )
    li_agg = li.agg(
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
            ).otherwise(0)
        ).alias("disc"),
        F.sum(
            F.when(F.col("l_quantity") <= 0, 1).otherwise(0)
        ).alias("qty"),
        F.count(F.lit(1)).alias("n"),
    )
    checks.append(
        li_agg.select(
            F.lit("lineitem_discount_range").alias("check_name"),
            F.col("disc").cast("long").alias("n_violations"),
            F.col("n").cast("long").alias("n_checked"),
        )
    )
    checks.append(
        li_agg.select(
            F.lit("lineitem_quantity_positive").alias("check_name"),
            F.col("qty").cast("long").alias("n_violations"),
            F.col("n").cast("long").alias("n_checked"),
        )
    )
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


# ---------------------------------------------------------------------------
# Small-file compaction plan (the OPTIMIZE bin-packing step, as a query)
# ---------------------------------------------------------------------------

_COMPACT_VERSION = 1
_COMPACT_TARGET_ROWS = 150  # per output bin (stand-in for a byte target)
_COMPACT_MAX_BUCKET = 12


def _ensure_fragmented_copy(sf_dir: str) -> str:
    """Write documents' doc_ids into a deliberately FRAGMENTED parquet
    directory (one file per log2 size class: part-01 has ~2 rows,
    part-09 ~256 — the geometric small-file spread ingest jobs leave
    behind), published once per fixture generation. File membership is
    a pure doc_id formula, which is what lets the DuckDB oracle
    recompute the identical plan from the documents VIEW while the
    engine reads the actual files."""
    import math
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = table_path(sf_dir, "documents")

    def build(d: str) -> None:
        ids = sorted(
            pq.read_table(src, columns=["doc_id"])["doc_id"].to_pylist()
        )
        buckets: dict[int, list[int]] = {}
        for i in ids:
            b = min(_COMPACT_MAX_BUCKET, int(math.floor(math.log2(i + 2))))
            buckets.setdefault(b, []).append(i)
        for b, rows in buckets.items():
            pq.write_table(
                pa.table({"doc_id": pa.array(sorted(rows), pa.int64())}),
                os.path.join(d, f"part-{b:02d}.parquet"),
            )

    return publish(f"fragments_v{_COMPACT_VERSION}", [src], build)


_COMPACT_ORACLE = f"""
WITH files AS (
    SELECT 'part-' || lpad(least({_COMPACT_MAX_BUCKET},
               floor(log2(doc_id + 2)))::BIGINT::VARCHAR, 2, '0')
               || '.parquet' AS fname,
           count(*)::BIGINT AS n_rows
    FROM documents GROUP BY 1
),
planned AS (
    SELECT fname, n_rows,
           floor((sum(n_rows) OVER (ORDER BY fname
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_rows) / {_COMPACT_TARGET_ROWS})::BIGINT AS bin_id
    FROM files
)
SELECT bin_id,
       count(*)::BIGINT AS n_files,
       sum(n_rows)::BIGINT AS total_rows,
       sum(CASE WHEN n_rows < {_COMPACT_TARGET_ROWS} / 2 THEN 1 ELSE 0 END)
           ::BIGINT AS n_small_files,
       min(fname) AS first_file,
       max(fname) AS last_file
FROM planned GROUP BY bin_id
"""


@register(
    "small_file_compaction_plan",
    oracle=_COMPACT_ORACLE,
    tags=("maintenance", "compaction", "files"),
    bench=True,
)
def small_file_compaction_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIMIZE's bin-packing step as a queryable plan: list the actual
    parquet files of a (deliberately fragmented) table, count rows per
    file via input_file_name(), and pack files in name order into
    target-sized compaction bins by exclusive prefix sum — each output
    row is one rewrite task (its file range, row total, and how many
    sub-half-target smalls it merges). Small-file sprawl is THE
    operational tax of streaming/micro-batch ingest at warehouse scale;
    this is the planner half of the fix (the executor half is a
    coalesce-write per bin, the zorder_layout_spans sibling).

    The fragmented directory is derived write-once per scale factor
    (staleness-guarded); file membership is a pure doc_id formula, so
    the DuckDB oracle recomputes the identical plan from the documents
    VIEW — a hash match proves both the planner arithmetic AND that the
    physical files hold exactly the rows the formula claims.

    Plan shape: one scan of the fragmented table aggregating by
    input_file_name (map-side combinable; file-grain output), the
    prefix sum through operators/ranking.py::distributed_prefix_agg
    (file lists reach millions at warehouse scale — no single-partition
    window even here), then a bin-grain aggregate."""
    from emails_to_vector_db_spark.operators.ranking import (
        distributed_prefix_agg,
    )

    frag_dir = _ensure_fragmented_copy(sf_dir)
    files = (
        spark.read.parquet(frag_dir)
        .select(
            F.regexp_extract(
                F.input_file_name(), r"[^/]+$", 0
            ).alias("fname")
        )
        .groupBy("fname")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    planned = distributed_prefix_agg(
        files, [F.col("fname").asc()], sums=[("n_rows", "cum_rows")]
    ).withColumn(
        "bin_id",
        F.floor(
            (F.col("cum_rows") - F.col("n_rows")) / _COMPACT_TARGET_ROWS
        ),
    )
    return planned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_rows").alias("total_rows"),
        F.sum(
            (F.col("n_rows") < _COMPACT_TARGET_ROWS / 2).cast("long")
        ).alias("n_small_files"),
        F.min("fname").alias("first_file"),
        F.max("fname").alias("last_file"),
    )


# ---------------------------------------------------------------------------
# Re-embedding migration audit (model-upgrade churn over the ANN index)
# ---------------------------------------------------------------------------


def _remb_v2_sql(v: str) -> str:
    """The deterministic 'model upgrade' transform in DuckDB list
    algebra (1-indexed): each dimension blends with its cyclic
    neighbor — a stand-in for a new encoder checkpoint whose outputs
    correlate with, but do not equal, the old space."""
    return (
        f"list_transform(range(1, 65), i -> "
        f"0.95 * {v}[i] + 0.05 * {v}[CASE WHEN i = 64 THEN 1 "
        f"ELSE i + 1 END])"
    )


def _remb_oracle() -> str:
    from emails_to_vector_db_spark.plans.vector import (
        _ORACLE_SF_DIR,
        _embeddings_rows,
        _ivf_centroids,
        _ivf_k,
    )

    cents = _ivf_centroids(_ivf_k(_embeddings_rows(_ORACLE_SF_DIR)), _ORACLE_SF_DIR)
    values = ", ".join(
        f"({i}, {c}::DOUBLE[])" for i, c in enumerate(cents)
    )
    return f"""
WITH cents AS (
    SELECT * FROM (VALUES {values}) AS t(cid, c)
),
base AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           {_remb_v2_sql("(embedding::DOUBLE[])")} AS v2
    FROM embeddings
),
assigned AS (
    SELECT vec_id, v, v2, old_cid, new_cid FROM (
        SELECT b.vec_id, b.v, b.v2,
               first_value(c.cid) OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_distance(b.v, c.c) ASC, c.cid ASC
               ) AS old_cid,
               first_value(c.cid) OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_distance(b.v2, c.c) ASC, c.cid ASC
               ) AS new_cid,
               row_number() OVER (PARTITION BY b.vec_id
                                  ORDER BY c.cid) AS rn
        FROM base b CROSS JOIN cents c
    ) WHERE rn = 1
),
old_g AS (
    SELECT old_cid AS cid, count(*)::BIGINT AS n_old,
           sum(CASE WHEN old_cid <> new_cid THEN 1 ELSE 0 END)::BIGINT
               AS n_moved_out,
           round(avg(list_dot_product(v, v2)
                 / (sqrt(list_dot_product(v, v))
                    * sqrt(list_dot_product(v2, v2)))), 6) AS avg_drift
    FROM assigned GROUP BY 1
),
new_g AS (
    SELECT new_cid AS cid, count(*)::BIGINT AS n_new,
           sum(CASE WHEN old_cid <> new_cid THEN 1 ELSE 0 END)::BIGINT
               AS n_moved_in
    FROM assigned GROUP BY 1
)
SELECT coalesce(o.cid, n.cid) AS cid,
       coalesce(o.n_old, 0)::BIGINT AS n_old,
       coalesce(n.n_new, 0)::BIGINT AS n_new,
       coalesce(o.n_moved_out, 0)::BIGINT AS n_moved_out,
       coalesce(n.n_moved_in, 0)::BIGINT AS n_moved_in,
       o.avg_drift
FROM old_g o FULL OUTER JOIN new_g n ON o.cid = n.cid
ORDER BY cid
"""


def _remb_assigned_arrow(emb: DataFrame, cents) -> DataFrame:
    """The >10M-element-op route of the migration audit (the bitext
    BLAS precedent): one mapInPandas batch lane computes the upgrade
    transform (a cyclic roll), BOTH argmin assignments (one BLAS
    expansion per side; numpy argmin = first minimal index = the
    oracle's cid-ASC tiebreak), and the row-wise drift cosine — the
    corpus streams through once, no per-element interpreted folds."""
    import numpy as np
    import pandas as pd

    C = np.asarray(cents, dtype=np.float64)
    c_sq = (C * C).sum(axis=1)

    def audit(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(
                    {"vec_id": [], "old_cid": [], "new_cid": [],
                     "drift": []}
                )
                continue
            X = np.stack(
                [
                    np.asarray(v, dtype=np.float64)
                    for v in pdf["embedding"]
                ]
            )
            X2 = 0.95 * X + 0.05 * np.roll(X, -1, axis=1)
            out = {}
            for key, M in (("old_cid", X), ("new_cid", X2)):
                d = (
                    (M * M).sum(axis=1)[:, None]
                    + c_sq[None, :]
                    - 2.0 * (M @ C.T)
                )
                out[key] = d.argmin(axis=1).astype("int32")
            drift = (X * X2).sum(axis=1) / (
                np.linalg.norm(X, axis=1) * np.linalg.norm(X2, axis=1)
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "old_cid": out["old_cid"],
                    "new_cid": out["new_cid"],
                    "drift": drift,
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        audit,
        schema="vec_id bigint, old_cid int, new_cid int, drift double",
    )


@register(
    "reembedding_migration_audit",
    oracle=_remb_oracle(),
    tags=("vector", "maintenance", "ivf", "migration", "drift"),
)
def reembedding_migration_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Model-upgrade churn audit over the ANN index: when a corpus is
    re-embedded by a new encoder checkpoint, the operational question
    is not "did the vectors change" but "how much of the inverted
    index must MOVE" — per list, how many members leave, how many
    arrive, and how far the space drifted (avg cosine old↔new). The
    upgrade is a deterministic cyclic-blend transform (so the DuckDB
    oracle replays it exactly); both assignments use the SAME persisted
    published quantizer (_ivf_centroids) because migration planning
    runs against the index you have, not one you might retrain — lists
    with high churn are exactly the ivf_rebalance_plan inputs.

    Plan: ONE embeddings scan computes v2 + both argmin assignments +
    the drift cosine in a single projection (centroid literals,
    expression form at the fixtures' query-time k; above the
    ~10M-element-op cutover the bitext-mining precedent applies —
    assign_centroids_arrow per side), then two 16-row grouped
    aggregates full-outer-joined on the list id. At 100 TB the scan is
    the corpus pass re-embedding already pays; the audit itself adds
    two k-row aggregates."""
    from emails_to_vector_db_spark.functions.vector import (
        cosine_similarity,
    )
    from emails_to_vector_db_spark.operators.ivf import assign_centroid
    from emails_to_vector_db_spark.plans.vector import (
        _embeddings_rows,
        _ivf_centroids,
        _ivf_k,
    )

    n_rows = _embeddings_rows(sf_dir)
    cents = _ivf_centroids(_ivf_k(n_rows), sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    if n_rows * len(cents) * 64 * 2 > 10_000_000:
        assigned = _remb_assigned_arrow(emb, cents)
    else:
        v = F.col("embedding").cast("array<double>")
        v2 = F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: 0.95 * F.element_at(v, i)
            + 0.05
            * F.element_at(
                v, F.when(i == 64, F.lit(1)).otherwise(i + 1)
            ),
        )
        base = emb.select(
            "vec_id",
            v.alias("v"),
            v2.alias("v2"),
        )
        assigned = base.select(
            "vec_id",
            assign_centroid(F.col("v"), cents).alias("old_cid"),
            assign_centroid(F.col("v2"), cents).alias("new_cid"),
            cosine_similarity("v", "v2").alias("drift"),
        )
    moved = (F.col("old_cid") != F.col("new_cid")).cast("long")
    old_g = assigned.groupBy(
        F.col("old_cid").alias("cid")
    ).agg(
        F.count(F.lit(1)).alias("n_old"),
        F.sum(moved).alias("n_moved_out"),
        F.round(F.avg("drift"), 6).alias("avg_drift"),
    )
    new_g = assigned.groupBy(
        F.col("new_cid").alias("cid")
    ).agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum(moved).alias("n_moved_in"),
    )
    return (
        old_g.join(new_g, "cid", "full_outer")
        .select(
            "cid",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.coalesce("n_moved_out", F.lit(0)).alias("n_moved_out"),
            F.coalesce("n_moved_in", F.lit(0)).alias("n_moved_in"),
            "avg_drift",
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# Drift-driven rebuild plan (compose the migration audit into actions)
# ---------------------------------------------------------------------------

_REMB_CHURN_TAU = 0.5  # rewrite a list when churn exceeds half its size


def _remb_rebuild_oracle() -> str:
    base = _remb_oracle().rstrip().rstrip(";")
    return f"""
WITH audit AS (
{base}
)
SELECT cid, n_old, n_new,
       round((n_moved_out + n_moved_in)
             / greatest(n_old, 1)::DOUBLE, 6) AS churn,
       CASE WHEN (n_moved_out + n_moved_in)
                 / greatest(n_old, 1)::DOUBLE > {_REMB_CHURN_TAU}
            THEN 'rewrite' ELSE 'keep' END AS action
FROM audit
ORDER BY cid
"""


@register(
    "reembedding_rebuild_plan",
    oracle=_remb_rebuild_oracle(),
    tags=("vector", "maintenance", "ivf", "migration", "plan"),
)
def reembedding_rebuild_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ACTION layer over the migration audit — the drift-driven
    sibling of ivf_rebalance_plan (which reacts to SIZE skew; this
    reacts to a model upgrade): lists whose churn (movers out + in,
    relative to current size) exceeds the threshold are marked
    'rewrite' — their postings must be rebuilt under the new vectors —
    and quiet lists are kept as-is, which is what makes a re-embed an
    INCREMENTAL index migration instead of a full rebuild. One lazy
    plan: the audit's per-list frame (one corpus pass at any scale —
    the Arrow lane above the cutover) feeds a k-row action projection;
    nothing is re-scanned between audit and plan (the
    incremental_curation_e2e composition discipline)."""
    audit = reembedding_migration_audit(spark, sf_dir)
    churn = (F.col("n_moved_out") + F.col("n_moved_in")) / F.greatest(
        F.col("n_old"), F.lit(1)
    ).cast("double")
    return audit.select(
        "cid",
        "n_old",
        "n_new",
        F.round(churn, 6).alias("churn"),
        F.when(churn > _REMB_CHURN_TAU, "rewrite")
        .otherwise("keep")
        .alias("action"),
    ).orderBy("cid")
