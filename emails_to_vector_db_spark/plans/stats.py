"""Statistical aggregates, percentiles, grouping sets, TF-IDF.

All built-in Spark aggregation machinery (SURVEY.md §2.4's "absent in
reference" rows) — the work is the oracle parity: stddev/var/corr/covar
and interpolated percentiles agree with DuckDB to 6dp after rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emails_to_vector_db_spark.functions import text as TX
from emails_to_vector_db_spark.plans.registry import register
from emails_to_vector_db_spark.sources.tables import load_table, table_path
from emails_to_vector_db_spark.sources.warehouse import publish_landing

_STATS_ORACLE = """
SELECT l_returnflag,
       count(*)::BIGINT                                  AS n,
       round(stddev_samp(l_extendedprice), 4)            AS price_stddev,
       round(var_samp(l_quantity), 4)                    AS qty_var,
       round(corr(l_extendedprice, l_quantity), 6)       AS price_qty_corr,
       round(covar_samp(l_extendedprice, l_discount), 4) AS price_disc_covar,
       -- DuckDB skewness is the SAMPLE statistic G1; Spark's is the
       -- POPULATION g1 = G1 * (n-2)/sqrt(n(n-1)). The factor is O(1/n):
       -- invisible under 6dp rounding at sf0.01, a real mismatch at
       -- sf0.001 — convert exactly instead of hoping rounding hides it.
       round(skewness(l_extendedprice)
             * (count(*) - 2) / sqrt(count(*) * (count(*) - 1.0)), 6)
                                                         AS price_skew
FROM lineitem
GROUP BY l_returnflag
"""


@register("lineitem_stats", oracle=_STATS_ORACLE, tags=("agg", "stats"))
def lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface: stddev/variance/corr/covar/skewness."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias(
            "price_qty_corr"
        ),
        F.round(F.covar_samp("l_extendedprice", "l_discount"), 4).alias(
            "price_disc_covar"
        ),
        F.round(F.skewness("l_extendedprice"), 6).alias("price_skew"),
    )


_PCT_ORACLE = """
SELECT c_mktsegment,
       round(quantile_cont(o_totalprice, 0.5), 4)  AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4)  AS p90,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c_mktsegment
"""


@register("order_value_percentiles", oracle=_PCT_ORACLE, tags=("agg", "percentile"))
def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``). The approximate sketch variant
    (``percentile_approx``) is the scale path but engine-specific, so the
    oracle pins the exact one."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    j = c.join(o, c.c_custkey == o.o_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )


_GSETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       count(*)::BIGINT          AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@register("orders_grouping_sets", oracle=_GSETS_ORACLE, tags=("agg", "grouping_sets"))
def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (disjoint single-dimension rollups + grand
    total) via the SQL API — rollup/cube's general form."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*)                    AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


_TFIDF_ORACLE = """
WITH tok AS (
    SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS term
    FROM documents
),
df AS (
    SELECT term, count(*)::BIGINT AS doc_freq FROM tok GROUP BY term
),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents)
SELECT term, doc_freq,
       round(ln(n.n_docs / doc_freq), 6) AS idf
FROM df, n
ORDER BY doc_freq DESC, term ASC
LIMIT 30
"""


@register("tfidf_idf_top30", oracle=_TFIDF_ORACLE, tags=("text", "tfidf"), bench=True)
def tfidf_idf_top30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency + IDF (the TF-IDF weighting table): distinct
    terms per doc -> explode -> df counts -> idf = ln(N/df). The N scalar
    joins in as a broadcast literal-free cross join (1 row)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(TX.tokens("text"))).alias("term")
    )
    df_counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    return (
        df_counts.crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "doc_freq",
            F.round(F.log(F.col("n_docs") / F.col("doc_freq")), 6).alias("idf"),
        )
        .orderBy(F.col("doc_freq").desc(), F.col("term").asc())
        .limit(30)
    )


_BPE_ORACLE = """
WITH t AS (
    SELECT doc_id,
           regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS pieces
    FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       len(pieces)::INT                                           AS n_pieces,
       len(list_filter(pieces, p -> p ~ '^[a-z]+$'))::INT         AS n_word_pieces,
       len(list_filter(pieces, p -> p ~ '^[0-9]+$'))::INT         AS n_number_pieces
FROM t
"""


@register("bpe_style_token_counts", oracle=_BPE_ORACLE, tags=("text", "tokenize"))
def bpe_style_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization counting (the GPT-2 pre-tokenizer family:
    letter runs | digit runs | punctuation singletons) via regexp_extract_all
    — the token-budget estimator for LLM training data."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    pieces = F.regexp_extract_all(
        F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
    )
    t = d.select("doc_id", pieces.alias("pieces"))
    return t.select(
        "doc_id",
        F.size("pieces").cast("int").alias("n_pieces"),
        F.size(F.filter("pieces", lambda p: p.rlike("^[a-z]+$")))
        .cast("int")
        .alias("n_word_pieces"),
        F.size(F.filter("pieces", lambda p: p.rlike("^[0-9]+$")))
        .cast("int")
        .alias("n_number_pieces"),
    )


_PMI_FLOOR = 10

_PMI_ORACLE = f"""
WITH tok AS (
    SELECT regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
uni AS (SELECT unnest(t) AS w FROM tok),
uc AS (SELECT w, count(*)::BIGINT AS c FROM uni GROUP BY w),
n AS (SELECT count(*)::DOUBLE AS nt FROM uni),
big AS (
    SELECT unnest(list_transform(
        generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i + 1]
    )) AS b
    FROM tok
),
bc AS (SELECT b, count(*)::BIGINT AS cb FROM big GROUP BY b),
m AS (SELECT count(*)::DOUBLE AS mt FROM big)
SELECT bc.b AS bigram, bc.cb AS pair_count,
       round(ln((bc.cb * n.nt * n.nt) / (m.mt * u1.c * u2.c)), 6) AS pmi
FROM bc, m, n
JOIN uc u1 ON string_split(bc.b, ' ')[1] = u1.w
JOIN uc u2 ON string_split(bc.b, ' ')[2] = u2.w
WHERE bc.cb >= {_PMI_FLOOR}
ORDER BY bc.cb DESC, bc.b ASC
LIMIT 30
"""


@register("token_pmi_top_pairs", oracle=_PMI_ORACLE, tags=("text", "pmi", "collocation"))
def token_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over adjacent token pairs — the
    collocation statistic a word2vec/phrase-mining prep stage computes:
    PMI = ln(p(ab) / (p(a)p(b))) from corpus unigram/bigram counts, with
    a count floor, top-30 collocations. Ordering is by INTEGER pair
    count + bigram text (the same discipline as tfidf_idf_top30), never
    by the float PMI, so rank can't flip on a ulp.

    Scale shape: two corpus-scan aggregations (unigrams, bigrams) whose
    outputs are vocabulary-sized — the unigram count table broadcasts to
    the bigram side (vocab ≪ corpus always; if a giant vocab ever
    overflows the broadcast threshold AQE falls back to a shuffle join
    on the word key). The ln argument is a ratio of exact small-integer
    products computed in the same association order in both engines."""
    d = load_table(spark, sf_dir, "documents")
    tok_arr = d.select(TX.tokens("text").alias("t"))
    uni = tok_arr.select(F.explode("t").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nt = uni.agg(F.count(F.lit(1)).cast("double").alias("nt"))
    big = tok_arr.select(F.explode(TX.shingles(F.col("t"), 2)).alias("b"))
    bc = big.groupBy("b").agg(F.count(F.lit(1)).alias("cb"))
    mt = big.agg(F.count(F.lit(1)).cast("double").alias("mt"))
    u1 = uc.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uc.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    parts = F.split(F.col("b"), " ")
    return (
        bc.where(F.col("cb") >= _PMI_FLOOR)
        .withColumn("w1", parts[0])
        .withColumn("w2", parts[1])
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(mt))
        .select(
            F.col("b").alias("bigram"),
            F.col("cb").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("cb") * F.col("nt") * F.col("nt"))
                    / (F.col("mt") * F.col("c1") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pair_count").desc(), F.col("bigram").asc())
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Count-Min Sketch: mergeable frequency estimation, bound-checked in-query
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 256
_CMS_TOP = 20

_CMS_TOKENS = "unnest(regexp_split_to_array(trim(text), '\\s+'))"


def _cms_oracle() -> str:
    """The identical sketch in ANSI SQL: same md5-mod cell hashes, same
    GROUP BY construction, same min-over-rows estimate."""
    cell = (
        "('0x' || substr(md5({j} || '|' || tok), 1, 15))::BIGINT"
        f" % {_CMS_WIDTH}"
    )
    j_cells = ", ".join(
        f"({j}, {cell.format(j=j)})" for j in range(_CMS_DEPTH)
    )
    return f"""
WITH toks AS (
    SELECT {_CMS_TOKENS} AS tok FROM documents
),
entries AS (
    SELECT tok, j, cell
    FROM toks, LATERAL (VALUES {j_cells}) AS v(j, cell)
),
cms AS (
    SELECT j, cell, count(*)::BIGINT AS n FROM entries GROUP BY j, cell
),
true_counts AS (
    SELECT tok, count(*)::BIGINT AS true_n FROM toks GROUP BY tok
    ORDER BY true_n DESC, tok ASC LIMIT {_CMS_TOP}
),
est AS (
    SELECT t.tok, t.true_n, min(c.n)::BIGINT AS cms_estimate
    FROM true_counts t,
         LATERAL (VALUES {j_cells}) AS v(j, cell)
    JOIN cms c ON c.j = v.j AND c.cell = v.cell
    GROUP BY t.tok, t.true_n
)
SELECT tok, true_n, cms_estimate,
       (cms_estimate >= true_n) AS bound_ok
FROM est
"""


@register(
    "cms_token_frequency",
    oracle=_cms_oracle(),
    tags=("text", "sketch", "cms", "approx"),
)
def cms_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch (Cormode & Muthukrishnan 2005) over the token
    stream: depth 4 × width 256 counters, cell hashes = salted md5 mod
    width (the repo's portable-hash convention), built as ONE map-side-
    combinable groupBy whose output is at most depth×width = 1024 rows —
    the mergeable frequency structure for streams/partitions where exact
    per-key counts can't be kept. Estimates for the 20 most frequent
    terms are emitted NEXT TO their exact counts with the one-sided CMS
    guarantee (estimate ≥ truth) checked in-query as ``bound_ok`` — the
    same approximation-with-audit pattern as the HLL and heavy-hitter
    entries, so the sketch is hash-checked, not trusted.

    Scale shape: the corpus shuffles only into the 1024-cell sketch and
    the exact top-k census (both map-side combinable); the probe joins
    are broadcast-scale (20×4 cells vs the 1024-row sketch)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )

    def cell(j: int) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{j}|"), F.col("tok"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % _CMS_WIDTH
        )

    j_cell = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"), cell(j).alias("cell")
                )
                for j in range(_CMS_DEPTH)
            ]
        )
    )
    cms = (
        toks.select(j_cell.alias("e"))
        .select("e.j", "e.cell")
        .groupBy("j", "cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    true_counts = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.col("true_n").desc(), F.col("tok").asc())
        .limit(_CMS_TOP)
    )
    probes = true_counts.select(
        "tok", "true_n", j_cell.alias("e")
    ).select("tok", "true_n", "e.j", "e.cell")
    est = (
        probes.join(F.broadcast(cms), ["j", "cell"])
        .groupBy("tok", "true_n")
        .agg(F.min("n").alias("cms_estimate"))
    )
    return est.select(
        "tok",
        "true_n",
        "cms_estimate",
        (F.col("cms_estimate") >= F.col("true_n")).alias("bound_ok"),
    )


def _cms_stream_oracle() -> str:
    """The whole-corpus sketch over the SAME planted corpus the stream
    lands (plans/corpus.py::_stream_dedup_landing) — per-batch sketches
    summed cell-wise must equal it EXACTLY (counter addition is
    associative), so the merge is integer-hash-checked."""
    from emails_to_vector_db_spark.plans.dedup import _DOCS_EXACT_SQL

    cell = (
        "('0x' || substr(md5({j} || '|' || tok), 1, 15))::BIGINT"
        f" % {_CMS_WIDTH}"
    )
    j_cells = ", ".join(
        f"({j}, {cell.format(j=j)})" for j in range(_CMS_DEPTH)
    )
    return f"""
WITH docs AS ({_DOCS_EXACT_SQL}),
toks AS (
    SELECT {_CMS_TOKENS} AS tok FROM docs
),
entries AS (
    SELECT tok, j, cell
    FROM toks, LATERAL (VALUES {j_cells}) AS v(j, cell)
)
SELECT j, cell, count(*)::BIGINT AS n
FROM entries GROUP BY j, cell
"""


@register(
    "streaming_cms_merge",
    oracle=_cms_stream_oracle(),
    tags=("streaming", "sketch", "cms"),
)
def streaming_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY under streaming — the property CMS exists
    for: each micro-batch (the same deterministic 3-file landing as
    streaming_dedup_ingest) builds its own depth×width sketch, appended
    to a parquet sketch store; the final cell-wise sum must equal the
    whole-corpus sketch EXACTLY, and the DuckDB oracle rebuilds that
    corpus sketch from scratch — an integer hash check of distributed +
    temporal merge. At 100 TB this is how per-hour / per-partition
    frequency sketches roll up without ever re-reading history: the
    merged state is ≤ depth×width rows no matter the corpus."""
    import os
    import shutil

    from emails_to_vector_db_spark.plans.corpus import _stream_dedup_landing

    landing = _stream_dedup_landing(sf_dir)
    work = landing.rstrip("/") + "__cms_run"
    shutil.rmtree(work, ignore_errors=True)  # deterministic re-runs
    sketch_dir = os.path.join(work, "sketch")

    def cell(j: int) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{j}|"), F.col("tok"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % _CMS_WIDTH
        )

    j_cell = F.explode(
        F.array(
            *[
                F.struct(F.lit(j).alias("j"), cell(j).alias("cell"))
                for j in range(_CMS_DEPTH)
            ]
        )
    )

    def apply(batch: DataFrame, _batch_id: int) -> None:
        batch_cms = (
            batch.select(
                F.explode(
                    F.split(F.trim(F.col("text")), r"\s+")
                ).alias("tok")
            )
            .select(j_cell.alias("e"))
            .select("e.j", "e.cell")
            .groupBy("j", "cell")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        batch_cms.write.mode("append").parquet(sketch_dir)

    q = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        spark.read.parquet(sketch_dir)
        .groupBy("j", "cell")
        .agg(F.sum("n").alias("n"))
    )


_EQUI_DEPTH_BUCKETS = 8

_EQUI_DEPTH_ORACLE = f"""
WITH bucketed AS (
    SELECT o_totalprice,
           ntile({_EQUI_DEPTH_BUCKETS}) OVER (
               ORDER BY o_totalprice, o_orderkey
           ) AS bucket
    FROM orders
)
SELECT bucket,
       count(*)::BIGINT AS n_rows,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM bucketed GROUP BY bucket
"""


@register(
    "orders_equi_depth_histogram",
    oracle=_EQUI_DEPTH_ORACLE,
    tags=("stats", "histogram", "window"),
)
def orders_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of order totals (equal row count per bucket,
    data-dependent boundaries) — the CBO statistics shape, complementing
    the fixed-width event_value_histogram: selectivity estimation needs
    equal-mass buckets, not equal-width ones.

    Exact ntile semantics over a total order (o_orderkey tiebreak makes
    bucket assignment deterministic at the boundaries) WITHOUT the
    single-partition ntile window:
    operators/ranking.py::distributed_ntile — a distributed global
    rank plus ntile's closed form, bit-identical to the oracle's ntile
    at any scale, no corpus-grain sort anywhere. (approx_percentile
    boundaries + a bucketing join remain the cheaper contract when
    exact boundary placement isn't required.)
    """
    from emails_to_vector_db_spark.operators.ranking import (
        distributed_ntile,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderkey"
    )
    return (
        distributed_ntile(
            orders,
            [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
            _EQUI_DEPTH_BUCKETS,
            "bucket",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


_CHI2_VALUE_CUT = 50.0

_CHI2_ORACLE = f"""
WITH cells AS (
    SELECT event_type,
           CASE WHEN value > {_CHI2_VALUE_CUT} THEN 'hi' ELSE 'lo' END AS vb,
           count(*)::DOUBLE AS o
    FROM events GROUP BY 1, 2
),
margins AS (
    SELECT c.event_type, c.vb, c.o,
           sum(c.o) OVER (PARTITION BY c.event_type) AS row_tot,
           sum(c.o) OVER (PARTITION BY c.vb) AS col_tot,
           sum(c.o) OVER () AS n
    FROM cells c
)
SELECT count(*)::BIGINT AS n_cells,
       ((count(DISTINCT event_type) - 1)
        * (count(DISTINCT vb) - 1))::BIGINT AS dof,
       round(sum(pow(o - row_tot * col_tot / n, 2)
                 / (row_tot * col_tot / n)), 6) AS chi2
FROM margins
"""


@register(
    "event_type_value_chi2",
    oracle=_CHI2_ORACLE,
    tags=("stats", "hypothesis", "agg"),
)
def event_type_value_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic of independence between event type
    and a high/low value split — the hypothesis-test aggregate behind
    drift monitors and A/B sanity checks, computed wholly in-engine
    (the statistic + dof are emitted; the CDF lookup is a driver-side
    concern by design).

    Plan: one corpus-scale contingency aggregation (map-side
    combinable, |types|×2 cells), then margins via windows over the
    TINY cell table and a scalar fold — the corpus is touched once.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.when(F.col("value") > _CHI2_VALUE_CUT, "hi")
        .otherwise("lo")
        .alias("vb"),
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    margins = (
        cells.withColumn(
            "row_tot", F.sum("o").over(Window.partitionBy("event_type"))
        )
        .withColumn("col_tot", F.sum("o").over(Window.partitionBy("vb")))
        .withColumn("n", F.sum("o").over(Window.partitionBy()))
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("n")
    return margins.agg(
        F.count(F.lit(1)).alias("n_cells"),
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("vb") - 1)
        ).alias("dof"),
        F.round(F.sum(F.pow(F.col("o") - e, 2) / e), 6).alias("chi2"),
    )


_APPROX_DEPTH_TOL = 0.25  # per-bucket mass must be within ±25% of ideal

_APPROX_DEPTH_ORACLE = f"""
WITH n AS (SELECT count(*)::DOUBLE AS n FROM orders)
SELECT b.bucket,
       TRUE AS within_tolerance
FROM (SELECT unnest(generate_series(1, {_EQUI_DEPTH_BUCKETS})) AS bucket) b
CROSS JOIN n
"""


@register(
    "orders_equi_depth_approx",
    oracle=_APPROX_DEPTH_ORACLE,
    tags=("stats", "histogram", "approx"),
)
def orders_equi_depth_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-PATH twin of orders_equi_depth_histogram: bucket
    boundaries from percentile_approx (one pass, mergeable sketch, NO
    global sort), rows assigned by a broadcast boundary lookup, and the
    equi-depth GUARANTEE — every bucket within ±25% of ideal mass —
    verified IN-QUERY and emitted as a hash-bearing boolean the oracle
    expects TRUE (the hll_sketch_union audit pattern: approximation
    quality is part of the checked result, the approximate values
    themselves are engine-specific by design).

    At 100 TB this is THE histogram plan: the exact-ntile variant's
    global sort disappears; cost is one sketch aggregation plus a
    map-side bucket assignment.
    """
    orders = load_table(spark, sf_dir, "orders")
    k = _EQUI_DEPTH_BUCKETS
    probs = [i / k for i in range(1, k)]
    bounds = F.broadcast(
        orders.agg(
            F.percentile_approx(
                "o_totalprice", F.array(*[F.lit(p) for p in probs]), 10000
            ).alias("bs")
        )
    )
    # bucket = 1 + number of boundaries strictly below the value
    bucket = F.lit(1) + F.aggregate(
        F.col("bs"),
        F.lit(0),
        lambda acc, b: acc + (F.col("o_totalprice") > b).cast("int"),
    )
    counts = (
        orders.crossJoin(bounds)
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    n_total = orders.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ideal = F.col("n") / k
    return (
        counts.crossJoin(F.broadcast(n_total))
        .select(
            "bucket",
            (
                (F.col("n_rows") >= (1 - _APPROX_DEPTH_TOL) * ideal)
                & (F.col("n_rows") <= (1 + _APPROX_DEPTH_TOL) * ideal)
            ).alias("within_tolerance"),
        )
    )


_KS_GROUP_A = "1-URGENT"
_KS_GROUP_B = "5-LOW"

_KS_ORACLE = f"""
WITH vals AS (
    SELECT o_totalprice AS v,
           CASE WHEN o_orderpriority = '{_KS_GROUP_A}' THEN 1 ELSE 0 END AS a
    FROM orders
    WHERE o_orderpriority IN ('{_KS_GROUP_A}', '{_KS_GROUP_B}')
),
hist AS (
    SELECT v, sum(a)::DOUBLE AS na, sum(1 - a)::DOUBLE AS nb
    FROM vals GROUP BY v
),
tot AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM hist),
ecdf AS (
    SELECT sum(na) OVER (ORDER BY v) / t.ta AS fa,
           sum(nb) OVER (ORDER BY v) / t.tb AS fb
    FROM hist CROSS JOIN tot t
)
SELECT (SELECT ta FROM tot)::BIGINT AS n_a,
       (SELECT tb FROM tot)::BIGINT AS n_b,
       round(max(abs(fa - fb)), 6) AS ks_statistic
FROM ecdf
"""


@register(
    "order_value_ks_test",
    oracle=_KS_ORACLE,
    tags=("stats", "hypothesis", "drift"),
)
def order_value_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic (sup |ECDF_A − ECDF_B|)
    comparing order-value distributions between urgent and low-priority
    orders — the NUMERIC drift detector beside the categorical
    chi-square above (the pair a data-quality monitor runs per
    ingest batch).

    Plan: values collapse to a per-distinct-value histogram first (one
    map-side-combinable groupBy) — the same histogram-first discipline
    as the AUC query; but order totals are NEAR-UNIQUE (the spearman
    lesson), so the value grain is effectively row grain and the two
    cumulative ECDF sums run through
    operators/ranking.py::distributed_prefix_agg instead of a
    single-partition window; the final sup is a scalar fold.
    """
    from emails_to_vector_db_spark.operators.ranking import (
        distributed_prefix_agg,
    )

    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin(_KS_GROUP_A, _KS_GROUP_B)
    )
    vals = orders.select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderpriority") == _KS_GROUP_A, 1)
        .otherwise(0)
        .alias("a"),
    )
    hist = vals.groupBy("v").agg(
        F.sum("a").cast("double").alias("na"),
        F.sum(1 - F.col("a")).cast("double").alias("nb"),
    )
    tot = F.broadcast(
        hist.agg(
            F.sum("na").alias("ta"), F.sum("nb").alias("tb")
        )
    )
    cum = distributed_prefix_agg(
        hist,
        [F.col("v").asc()],
        sums=[("na", "ca"), ("nb", "cb")],
    )
    ecdf = cum.crossJoin(tot).select(
        "ta",
        "tb",
        (F.col("ca") / F.col("ta")).alias("fa"),
        (F.col("cb") / F.col("tb")).alias("fb"),
    )
    return ecdf.agg(
        F.max("ta").cast("long").alias("n_a"),
        F.max("tb").cast("long").alias("n_b"),
        F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias(
            "ks_statistic"
        ),
    )


_WINSOR_ORACLE = """
WITH bounds AS (
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.05) AS lo,
           quantile_cont(o_totalprice, 0.95) AS hi
    FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       count(*)::BIGINT AS n_orders,
       round(avg(o.o_totalprice), 2) AS raw_mean,
       round(avg(least(greatest(o.o_totalprice, b.lo), b.hi)), 2)
           AS winsorized_mean,
       round(avg(CASE WHEN o.o_totalprice BETWEEN b.lo AND b.hi
                      THEN o.o_totalprice END), 2) AS trimmed_mean
FROM orders o JOIN bounds b ON b.o_orderpriority = o.o_orderpriority
GROUP BY o.o_orderpriority
"""


@register(
    "winsorized_order_stats",
    oracle=_WINSOR_ORACLE,
    tags=("stats", "robust", "agg"),
)
def winsorized_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location estimates per order priority: the raw mean beside
    its 5/95 winsorized form (tails clamped to the percentile fence)
    and the trimmed form (tails dropped) — the outlier-resistant
    aggregates a metrics layer publishes when heavy tails make plain
    averages lie.

    Plan: exact interpolated percentile fences from one grouped agg
    (the order_value_percentiles machinery), broadcast back onto the
    scan — two passes over orders, zero windows.
    """
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.05)).alias("lo"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("hi"),
    )
    j = orders.join(F.broadcast(bounds), "o_orderpriority")
    clamped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    inside = F.col("o_totalprice").between(F.col("lo"), F.col("hi"))
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.avg("o_totalprice"), 2).alias("raw_mean"),
        F.round(F.avg(clamped), 2).alias("winsorized_mean"),
        F.round(
            F.avg(F.when(inside, F.col("o_totalprice"))), 2
        ).alias("trimmed_mean"),
    )


_KANON_K = 5

_KANON_ORACLE = f"""
WITH quasi AS (
    SELECT c_nationkey,
           c_mktsegment,
           (floor(c_acctbal / 1000))::INT AS acctbal_band,
           count(*)::BIGINT AS group_size
    FROM customer
    GROUP BY 1, 2, 3
)
SELECT count(*)::BIGINT AS n_groups,
       min(group_size)::BIGINT AS min_group_size,
       sum(CASE WHEN group_size < {_KANON_K} THEN 1 ELSE 0 END)::BIGINT
           AS n_violating_groups,
       sum(CASE WHEN group_size < {_KANON_K} THEN group_size ELSE 0 END)::BIGINT
           AS n_reidentifiable_rows,
       round(sum(CASE WHEN group_size < {_KANON_K} THEN group_size
                      ELSE 0 END)
             / sum(group_size)::DOUBLE, 6) AS reidentifiable_fraction
FROM quasi
"""


@register(
    "k_anonymity_audit",
    oracle=_KANON_ORACLE,
    tags=("privacy", "audit", "agg"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the customer table's quasi-identifier
    tuple (nation, market segment, banded account balance): how many
    equivalence classes fall below k={k}, and what fraction of rows
    they expose — the privacy-release gate that pairs with the PII
    redaction operator (redaction removes direct identifiers; THIS
    measures re-identification risk from the indirect ones).

    Plan: one map-side-combinable groupBy over the quasi-identifier
    tuple, then a scalar fold over the (tiny) group-size table. The
    banding expression is the generalization knob a release pipeline
    widens until this query reports zero violations.
    """
    cust = load_table(spark, sf_dir, "customer")
    quasi = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("int").alias("acctbal_band"),
    ).agg(F.count(F.lit(1)).alias("group_size"))
    viol = F.when(F.col("group_size") < _KANON_K, F.col("group_size")).otherwise(0)
    return quasi.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("group_size").alias("min_group_size"),
        F.sum((F.col("group_size") < _KANON_K).cast("long")).alias(
            "n_violating_groups"
        ),
        F.sum(viol).alias("n_reidentifiable_rows"),
        F.round(
            F.sum(viol) / F.sum("group_size").cast("double"), 6
        ).alias("reidentifiable_fraction"),
    )


# ---------------------------------------------------------------------------
# Population stability index (PSI) — distribution drift between periods
# ---------------------------------------------------------------------------

_PSI_BIN_W = 50.0
_PSI_BINS = 10

_PSI_ORACLE = f"""
WITH ev AS (
    SELECT epoch_us(ts) AS us, value FROM events
),
mid AS (
    SELECT CAST(floor((min(us) + max(us)) / 2.0) AS BIGINT) AS mid FROM ev
),
binned AS (
    SELECT least({_PSI_BINS - 1},
                 greatest(0, CAST(floor(value / {_PSI_BIN_W}) AS INT))) AS bin,
           CASE WHEN e.us <= m.mid THEN 1 ELSE 0 END AS in_a
    FROM ev e CROSS JOIN mid m
),
cells AS (
    SELECT b.bin,
           coalesce(sum(x.in_a), 0)::BIGINT AS n_a,
           coalesce(sum(1 - x.in_a), 0)::BIGINT AS n_b
    FROM (SELECT unnest(generate_series(0, {_PSI_BINS - 1})) AS bin) b
    LEFT JOIN binned x ON x.bin = b.bin
    GROUP BY b.bin
),
tot AS (SELECT sum(n_a)::DOUBLE AS ta, sum(n_b)::DOUBLE AS tb FROM cells)
SELECT c.bin, c.n_a, c.n_b,
       round(((c.n_b + 1) / (t.tb + {_PSI_BINS})
              - (c.n_a + 1) / (t.ta + {_PSI_BINS}))
             * ln(((c.n_b + 1) / (t.tb + {_PSI_BINS}))
                  / ((c.n_a + 1) / (t.ta + {_PSI_BINS}))), 6)
           AS psi_contrib
FROM cells c CROSS JOIN tot t
"""


@register(
    "psi_value_drift",
    oracle=_PSI_ORACLE,
    tags=("stats", "drift", "monitoring"),
    bench=True,
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the event-value distribution
    between the first and second half of the observation window — the
    standard production drift monitor beside the KS test above
    (PSI < 0.1 stable, > 0.25 action). Per-bin contributions are
    emitted (their sum IS the PSI), add-one smoothed so empty bins
    stay defined.

    Plan: one corpus-scale (side, bin) contingency aggregation
    (map-side combinable, 20 cells), the period midpoint and totals as
    broadcast 1-row aggregates — the corpus is scanned twice (midpoint
    + binning), never shuffled beyond the 20-cell agg."""
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("us"), "value"
    )
    mid = ev.agg(
        F.floor((F.min("us") + F.max("us")) / 2.0).cast("long").alias("mid")
    )
    bin_col = F.least(
        F.lit(_PSI_BINS - 1),
        F.greatest(
            F.lit(0), F.floor(F.col("value") / _PSI_BIN_W).cast("int")
        ),
    )
    binned = ev.crossJoin(F.broadcast(mid)).select(
        bin_col.alias("bin"),
        (F.col("us") <= F.col("mid")).cast("int").alias("in_a"),
    )
    bins = spark.range(_PSI_BINS).select(F.col("id").cast("int").alias("bin"))
    from pyspark import StorageLevel

    # 10 rows, consumed by the totals agg AND the final projection —
    # persisted so the corpus binning scan runs once (rule 10)
    cells = (
        bins.join(
            binned.groupBy("bin").agg(
                F.sum("in_a").alias("n_a"),
                F.sum(1 - F.col("in_a")).alias("n_b"),
            ),
            "bin",
            "left",
        )
        .select(
            "bin",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = cells.agg(
        F.sum("n_a").cast("double").alias("ta"),
        F.sum("n_b").cast("double").alias("tb"),
    )
    pa = (F.col("n_a") + 1) / (F.col("ta") + _PSI_BINS)
    pb = (F.col("n_b") + 1) / (F.col("tb") + _PSI_BINS)
    return cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_a",
        "n_b",
        F.round((pb - pa) * F.log(pb / pa), 6).alias("psi_contrib"),
    )


# ---------------------------------------------------------------------------
# Streaming PSI drift monitor: per-micro-batch drift vs a fixed reference
# ---------------------------------------------------------------------------

_STREAM_PSI_VERSION = 1


def _stream_events_landing(sf_dir: str) -> str:
    """Events' (event_id, value) as THREE micro-batch files in ascending
    event_id order (sources/warehouse.py::publish_landing). Only these
    two columns are landed, so the monitor is untouched by the
    events-timestamp normalization concern."""
    return publish_landing(
        f"stream_psi_v{_STREAM_PSI_VERSION}",
        table_path(sf_dir, "events"),
        ["event_id", "value"],
    )


_STREAM_PSI_ORACLE = f"""
WITH n AS (SELECT count(*)::BIGINT AS n FROM events),
batched AS (
    SELECT least({_PSI_BINS - 1}, greatest(0,
               CAST(floor(value / {_PSI_BIN_W}) AS INT))) AS bin,
           CASE WHEN rn <= n.n // 3 THEN 0
                WHEN rn <= (2 * n.n) // 3 THEN 1
                ELSE 2 END AS batch_id
    FROM (
        SELECT value, row_number() OVER (ORDER BY event_id) AS rn
        FROM events
    ) CROSS JOIN n
),
cells AS (
    SELECT g.batch_id, b.bin, coalesce(x.c, 0)::BIGINT AS c
    FROM (SELECT unnest(generate_series(0, 2)) AS batch_id) g
    CROSS JOIN (SELECT unnest(generate_series(0, {_PSI_BINS - 1})) AS bin) b
    LEFT JOIN (
        SELECT batch_id, bin, count(*) AS c FROM batched GROUP BY 1, 2
    ) x ON x.batch_id = g.batch_id AND x.bin = b.bin
),
tot AS (SELECT batch_id, sum(c)::DOUBLE AS t FROM cells GROUP BY batch_id),
ref AS (
    SELECT c.bin, (c.c + 1) / (t.t + {_PSI_BINS}) AS pa
    FROM cells c JOIN tot t ON t.batch_id = c.batch_id
    WHERE c.batch_id = 0
)
SELECT c.batch_id::BIGINT AS batch_id,
       max(t.t)::BIGINT AS n_events,
       round(sum(((c.c + 1) / (t.t + {_PSI_BINS}) - r.pa)
                 * ln(((c.c + 1) / (t.t + {_PSI_BINS})) / r.pa)), 6) AS psi
FROM cells c
JOIN tot t ON t.batch_id = c.batch_id
JOIN ref r ON r.bin = c.bin
WHERE c.batch_id > 0
GROUP BY c.batch_id
"""


@register(
    "streaming_psi_monitor",
    oracle=_STREAM_PSI_ORACLE,
    tags=("streaming", "stats", "drift", "monitoring"),
)
def streaming_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production drift monitoring as a STREAM: events arrive in
    micro-batches (file stream, availableNow, one file per trigger —
    the deterministic landing convention of streaming_dedup_ingest);
    batch 0's value histogram becomes the FIXED reference
    distribution, and every later batch's PSI against it is the
    per-batch drift signal an ingest pipeline alerts on. The appended
    state is ≤ batches × bins rows — sketch-sized, never event-sized —
    and the deterministic batch sequence lets the DuckDB oracle replay
    the whole monitor as a GROUP BY, so the streaming pipeline is
    hash-checked, not rows-only (the streaming_cms_merge discipline
    applied to the drift family)."""
    import os
    import shutil

    landing = _stream_events_landing(sf_dir)
    work = landing.rstrip("/") + "__psi_run"
    shutil.rmtree(work, ignore_errors=True)  # deterministic re-runs
    hist_dir = os.path.join(work, "hist")

    bin_col = F.least(
        F.lit(_PSI_BINS - 1),
        F.greatest(
            F.lit(0), F.floor(F.col("value") / _PSI_BIN_W).cast("int")
        ),
    )

    def apply(batch: DataFrame, batch_id: int) -> None:
        (
            batch.select(bin_col.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.lit(batch_id).alias("batch_id"), "bin", "c")
            .write.mode("append")
            .parquet(hist_dir)
        )

    q = (
        spark.readStream.schema("event_id bigint, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    hist = spark.read.parquet(hist_dir)
    grid = spark.range(3).select(
        F.col("id").cast("int").alias("batch_id")
    ).crossJoin(
        spark.range(_PSI_BINS).select(F.col("id").cast("int").alias("bin"))
    )
    cells = (
        grid.join(hist, ["batch_id", "bin"], "left")
        .select(
            "batch_id", "bin", F.coalesce("c", F.lit(0)).alias("c")
        )
    )
    tot = cells.groupBy("batch_id").agg(
        F.sum("c").cast("double").alias("t")
    )
    wt = cells.join(tot, "batch_id").withColumn(
        "p", (F.col("c") + 1) / (F.col("t") + _PSI_BINS)
    )
    ref = wt.where(F.col("batch_id") == 0).select(
        "bin", F.col("p").alias("pa")
    )
    return (
        wt.where(F.col("batch_id") > 0)
        .join(F.broadcast(ref), "bin")
        .groupBy("batch_id")
        .agg(
            F.max("t").cast("long").alias("n_events"),
            F.round(
                F.sum(
                    (F.col("p") - F.col("pa"))
                    * F.log(F.col("p") / F.col("pa"))
                ),
                6,
            ).alias("psi"),
        )
        .select(
            F.col("batch_id").cast("long").alias("batch_id"),
            "n_events",
            "psi",
        )
    )


# ---------------------------------------------------------------------------
# Welch's t-test: order values of urgent vs non-urgent priorities
# ---------------------------------------------------------------------------

_URGENT_SQL = "o_orderpriority IN ('1-URGENT', '2-HIGH')"

_WELCH_ORACLE = f"""
WITH g AS (
    SELECT count(*) FILTER ({_URGENT_SQL})::BIGINT          AS n_a,
           avg(o_totalprice) FILTER ({_URGENT_SQL})         AS m_a,
           var_samp(o_totalprice) FILTER ({_URGENT_SQL})    AS v_a,
           count(*) FILTER (NOT {_URGENT_SQL})::BIGINT      AS n_b,
           avg(o_totalprice) FILTER (NOT {_URGENT_SQL})     AS m_b,
           var_samp(o_totalprice) FILTER (NOT {_URGENT_SQL}) AS v_b
    FROM orders
)
SELECT n_a, n_b,
       round(m_a, 2) AS mean_urgent,
       round(m_b, 2) AS mean_other,
       round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 6) AS t_stat,
       round(pow(v_a / n_a + v_b / n_b, 2)
             / (pow(v_a / n_a, 2) / (n_a - 1)
                + pow(v_b / n_b, 2) / (n_b - 1)), 4) AS welch_df
FROM g
"""


@register(
    "welch_ttest_order_values",
    oracle=_WELCH_ORACLE,
    tags=("stats", "hypothesis-test"),
)
def welch_ttest_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test comparing order totals of urgent
    (priority 1-2) vs non-urgent orders — the two-sample location test
    beside the KS (distribution) and chi-square (independence) members
    of the hypothesis-test family. One map-side-combinable aggregation
    pass computes both groups' moments via conditional aggregates (no
    second scan, no shuffle of order rows beyond the final 1-row agg);
    the t statistic and Welch-Satterthwaite degrees of freedom are
    closed-form arithmetic on the 1-row result. The reference has no
    statistics surface at all (rag.py embeds and searches only)."""
    o = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    p = F.col("o_totalprice")
    g = o.agg(
        F.count(F.when(urgent, 1)).alias("n_a"),
        F.avg(F.when(urgent, p)).alias("m_a"),
        F.var_samp(F.when(urgent, p)).alias("v_a"),
        F.count(F.when(~urgent, 1)).alias("n_b"),
        F.avg(F.when(~urgent, p)).alias("m_b"),
        F.var_samp(F.when(~urgent, p)).alias("v_b"),
    )
    se2 = F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    df = F.pow(se2, 2) / (
        F.pow(F.col("v_a") / F.col("n_a"), 2) / (F.col("n_a") - 1)
        + F.pow(F.col("v_b") / F.col("n_b"), 2) / (F.col("n_b") - 1)
    )
    return g.select(
        "n_a",
        "n_b",
        F.round("m_a", 2).alias("mean_urgent"),
        F.round("m_b", 2).alias("mean_other"),
        F.round((F.col("m_a") - F.col("m_b")) / F.sqrt(se2), 6).alias(
            "t_stat"
        ),
        F.round(df, 4).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit over order totals
# ---------------------------------------------------------------------------

# First digit extracted from the integer CENTS string — floor(log10(x))
# is one libm ulp away from flipping 10000.00 into digit 9; the string
# route is exact and identical in both engines.
_BENFORD_ORACLE = """
WITH d AS (
    SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                            AS VARCHAR), 1, 1) AS INT) AS digit
    FROM orders
),
tot AS (SELECT count(*)::DOUBLE AS n FROM d),
obs AS (SELECT digit, count(*)::BIGINT AS n_orders FROM d GROUP BY digit)
SELECT o.digit,
       o.n_orders,
       round(o.n_orders / t.n, 6) AS obs_freq,
       round(log10(1.0 + 1.0 / o.digit), 6) AS benford_freq,
       round(pow(o.n_orders - t.n * log10(1.0 + 1.0 / o.digit), 2)
             / (t.n * log10(1.0 + 1.0 / o.digit)), 6) AS chi2_contrib
FROM obs o CROSS JOIN tot t
"""


@register(
    "benford_first_digit_audit",
    oracle=_BENFORD_ORACLE,
    tags=("stats", "data-quality", "audit"),
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-data / ingest-corruption detector (a synthetic uniform
    price generator fails it loudly; real multiplicative totals follow
    log10(1+1/d)). Per-digit observed frequency vs the Benford
    expectation with chi-square contributions. One 9-group aggregation;
    the total-count scalar broadcasts onto the 9-row result, so the
    corpus is scanned once and nothing wide ever shuffles. First digit
    comes from the integer-cents string, not floor(log10(x)), which is
    one ulp from misclassifying exact powers of ten."""
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
        1,
        1,
    ).cast("int")
    d = o.select(digit.alias("digit"))
    tot = F.broadcast(d.agg(F.count(F.lit(1)).cast("double").alias("n")))
    exp_freq = F.log10(1.0 + 1.0 / F.col("digit"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(tot)
        .select(
            "digit",
            "n_orders",
            F.round(F.col("n_orders") / F.col("n"), 6).alias("obs_freq"),
            F.round(exp_freq, 6).alias("benford_freq"),
            F.round(
                F.pow(F.col("n_orders") - F.col("n") * exp_freq, 2)
                / (F.col("n") * exp_freq),
                6,
            ).alias("chi2_contrib"),
        )
    )


# ---------------------------------------------------------------------------
# Pairwise correlation matrix over lineitem numeric columns
# ---------------------------------------------------------------------------

_CORR_PAIRS = (
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_quantity", "l_tax"),
    ("l_extendedprice", "l_discount"),
    ("l_extendedprice", "l_tax"),
    ("l_discount", "l_tax"),
)

_CORR_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{a}' AS var_a, '{b}' AS var_b,"
    f" round(corr({a}, {b}), 6) AS pearson_r FROM lineitem"
    for a, b in _CORR_PAIRS
)


@register(
    "lineitem_correlation_matrix",
    oracle=_CORR_ORACLE,
    tags=("stats", "profiling"),
)
def lineitem_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Pearson correlation matrix over the four numeric
    lineitem measures in long form — the feature-selection /
    multicollinearity profile beside the per-column univariate profile
    (orders_column_profile). All six correlations are computed as
    aggregates of ONE scan (each corr is a fused sum/sum-of-products
    moment set, map-side combinable); the 1×6 wide row is unpivoted to
    long form with a stack expression, so the fixture-independent output
    shape is (pair, r) without a second pass. DuckDB's per-pair UNION
    rescans instead — same values, different (allowed) oracle plan."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.agg(
        *[
            F.round(F.corr(a, b), 6).alias(f"r_{i}")
            for i, (a, b) in enumerate(_CORR_PAIRS)
        ]
    )
    stack_expr = ", ".join(
        f"'{a}', '{b}', r_{i}" for i, (a, b) in enumerate(_CORR_PAIRS)
    )
    return wide.select(
        F.expr(
            f"stack({len(_CORR_PAIRS)}, {stack_expr})"
            " as (var_a, var_b, pearson_r)"
        )
    )


# ---------------------------------------------------------------------------
# Poisson-bootstrap confidence interval for the mean order value
# ---------------------------------------------------------------------------

_BOOT_B = 32
# Poisson(1) inverse-CDF thresholds (cumulative P(X<=k)); identical
# literals on both sides, applied to an EXACT shared uniform (md5-hex
# prefix / 2^32 — integer division by a power of two, no float noise),
# so the resample weights are bit-identical across engines.
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)

_BOOT_W_SQL = (
    "CASE "
    + " ".join(
        f"WHEN u < {p!r} THEN {k}" for k, p in enumerate(_POIS_CDF)
    )
    + f" ELSE {len(_POIS_CDF)} END"
)

_BOOT_ORACLE = f"""
WITH reps AS (
    SELECT o_orderkey, o_totalprice, b.b,
           (('0x' || substr(md5(o_orderkey || ':' || b.b), 1, 8))::BIGINT)
               / 4294967296.0 AS u
    FROM orders
    CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b) b
),
w AS (SELECT b, o_totalprice, {_BOOT_W_SQL} AS w FROM reps),
means AS (
    SELECT b, sum(w * o_totalprice) / sum(w) AS m
    FROM w GROUP BY b
),
pt AS (SELECT count(*)::BIGINT AS n_orders, avg(o_totalprice) AS mean_total
       FROM orders)
SELECT pt.n_orders,
       round(pt.mean_total, 2) AS mean_total,
       round(quantile_cont(means.m, 0.025), 2) AS ci_lo,
       round(quantile_cont(means.m, 0.975), 2) AS ci_hi,
       {_BOOT_B}::BIGINT AS n_replicas
FROM means CROSS JOIN pt
GROUP BY pt.n_orders, pt.mean_total
"""


@register(
    "order_value_bootstrap_ci",
    oracle=_BOOT_ORACLE,
    tags=("stats", "bootstrap", "uncertainty"),
)
def order_value_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap confidence interval for the mean order
    value: each of {_BOOT_B} replicas reweights every order by a
    deterministic Poisson(1) draw (inverse-CDF over an exact md5-based
    uniform), replicate means aggregate in one pass, and the CI is the
    2.5/97.5 percentile of the {_BOOT_B} means — the MAP-REDUCE
    bootstrap (Chamandy et al. 2012): no resampled copies of the data
    ever materialize, the fact table is scanned ONCE with the replica
    dimension unrolled as a crossJoin against a {_BOOT_B}-row literal
    range, and only B partial sums shuffle. The uniform is an integer divided by 2^32, so weights are
    bit-identical across engines and the oracle needs no tolerance."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    reps = o.crossJoin(
        F.broadcast(
            spark.range(_BOOT_B).select(F.col("id").alias("b"))
        )
    ).withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "", F.col("o_orderkey").cast("string"),
                        F.lit(":"), F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0),
    )
    w = F.lit(len(_POIS_CDF))
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(F.col("u") < _POIS_CDF[k], k).otherwise(w)
    means = (
        reps.withColumn("w", w)
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("w") * F.col("o_totalprice")) / F.sum("w")
            ).alias("m")
        )
    )
    pt = F.broadcast(
        o.agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.avg("o_totalprice").alias("mean_total"),
        )
    )
    return (
        means.crossJoin(pt)
        .groupBy("n_orders", "mean_total")
        .agg(
            F.round(F.percentile(F.col("m"), F.lit(0.025)), 2).alias(
                "ci_lo"
            ),
            F.round(F.percentile(F.col("m"), F.lit(0.975)), 2).alias(
                "ci_hi"
            ),
        )
        .select(
            "n_orders",
            F.round("mean_total", 2).alias("mean_total"),
            "ci_lo",
            "ci_hi",
            F.lit(_BOOT_B).cast("long").alias("n_replicas"),
        )
    )


_BOOT_XXH_ORACLE = f"""
SELECT count(*)::BIGINT AS n_orders,
       round(avg(o_totalprice), 2) AS mean_total,
       TRUE AS ci_brackets_mean,
       TRUE AS ci_width_positive,
       {_BOOT_B}::BIGINT AS n_replicas
FROM orders
"""


@register(
    "order_value_bootstrap_ci_xxhash",
    oracle=_BOOT_XXH_ORACLE,
    tags=("stats", "bootstrap", "uncertainty", "approx"),
)
def order_value_bootstrap_ci_xxhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION-HASH twin of order_value_bootstrap_ci: the
    per-(order, replica) uniform comes from xxhash64 — one 64-bit mix
    per row, JVM-intrinsic — instead of md5 (a full cryptographic
    digest per row, measured ~5× the per-row cost at sf1; see
    docs/SCALE_NOTES.md). xxhash64 has no DuckDB twin, so the replicate
    weights are engine-specific by design and the hash-checked output
    is the bootstrap CONTRACT (the orders_equi_depth_approx pattern):
    n_orders and the 2dp point mean (draw-invariant), plus the two
    invariants any valid bootstrap CI of 32 Poisson replicas must
    satisfy — it brackets the point mean and has positive width. The
    md5 form stays registered as the oracle-exact twin.

    Plan shape is IDENTICAL to the md5 form: one fact scan with the
    replica dimension unrolled against a broadcast {_BOOT_B}-row range,
    B partial sums shuffling, a B-row percentile tail."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    reps = o.crossJoin(
        F.broadcast(spark.range(_BOOT_B).select(F.col("id").alias("b")))
    ).withColumn(
        "u",
        F.pmod(
            F.xxhash64(F.col("o_orderkey"), F.col("b")),
            F.lit(4294967296),
        ).cast("double")
        / F.lit(4294967296.0),
    )
    w = F.lit(len(_POIS_CDF))
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(F.col("u") < _POIS_CDF[k], k).otherwise(w)
    means = (
        reps.withColumn("w", w)
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("w") * F.col("o_totalprice")) / F.sum("w")
            ).alias("m")
        )
    )
    pt = F.broadcast(
        o.agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.avg("o_totalprice").alias("mean_total"),
        )
    )
    return (
        means.crossJoin(pt)
        .groupBy("n_orders", "mean_total")
        .agg(
            F.percentile(F.col("m"), F.lit(0.025)).alias("ci_lo"),
            F.percentile(F.col("m"), F.lit(0.975)).alias("ci_hi"),
        )
        .select(
            "n_orders",
            F.round("mean_total", 2).alias("mean_total"),
            (
                (F.col("ci_lo") <= F.col("mean_total"))
                & (F.col("mean_total") <= F.col("ci_hi"))
            ).alias("ci_brackets_mean"),
            (F.col("ci_hi") > F.col("ci_lo")).alias("ci_width_positive"),
            F.lit(_BOOT_B).cast("long").alias("n_replicas"),
        )
    )


# ---------------------------------------------------------------------------
# Trailing-window z-score anomalies on the daily order series
# ---------------------------------------------------------------------------

_ANOM_WIN = 7
_ANOM_Z = 2.0

_DAILY_ANOM_ORACLE = f"""
WITH daily AS (
    SELECT o_orderdate AS d, count(*)::BIGINT AS n_orders
    FROM orders GROUP BY o_orderdate
),
scored AS (
    SELECT d, n_orders,
           avg(n_orders) OVER w AS m,
           stddev_samp(n_orders) OVER w AS sd,
           count(*) OVER w AS n_hist
    FROM daily
    WINDOW w AS (ORDER BY d ROWS BETWEEN {_ANOM_WIN} PRECEDING
                                     AND 1 PRECEDING)
)
SELECT CAST(d AS VARCHAR) AS day,
       n_orders,
       round((n_orders - m) / sd, 6) AS z
FROM scored
WHERE n_hist = {_ANOM_WIN} AND sd > 0
  AND abs((n_orders - m) / sd) > {_ANOM_Z}
ORDER BY day
"""


@register(
    "daily_order_anomalies",
    oracle=_DAILY_ANOM_ORACLE,
    tags=("stats", "anomaly", "timeseries", "monitoring"),
)
def daily_order_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly detection on the daily order
    count series: each day scores against the mean/stddev of the
    {_ANOM_WIN} FULLY-OBSERVED preceding days (never its own value —
    the self-exclusion that keeps a spike from masking itself), and
    days beyond ±{_ANOM_Z}σ surface — the volume-monitoring alarm an
    ingest pipeline runs beside the distribution-drift monitors
    (PSI/KS watch SHAPE, this watches LEVEL).

    Plan shape: the corpus-scale work is one groupBy(day) count; the
    window runs over the day-level series (3 orders of magnitude
    smaller than the fact table), ordered by date — a range-partitioned
    sort at scale, trivially small here. The trailing frame is ROWS
    BETWEEN so partial windows at the series head are excluded
    exactly, identically in both engines."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    w = (
        Window.orderBy("d")
        .rowsBetween(-_ANOM_WIN, -1)
    )
    scored = daily.select(
        "d",
        "n_orders",
        F.avg("n_orders").over(w).alias("m"),
        F.stddev_samp("n_orders").over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("n_hist"),
    )
    z = (F.col("n_orders") - F.col("m")) / F.col("sd")
    return (
        scored.where(
            (F.col("n_hist") == _ANOM_WIN)
            & (F.col("sd") > 0)
            & (F.abs(z) > _ANOM_Z)
        )
        .select(
            F.col("d").cast("string").alias("day"),
            "n_orders",
            F.round(z, 6).alias("z"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# CUSUM level-shift detection on the daily order series
# ---------------------------------------------------------------------------

_CUSUM_K = 0.5  # slack, in sigma units
_CUSUM_H = 4.0  # decision interval, in sigma units

_CUSUM_ORACLE = f"""
WITH daily AS (
    SELECT o_orderdate AS d, count(*)::DOUBLE AS x
    FROM orders GROUP BY o_orderdate
),
stats AS (SELECT avg(x) AS mu, stddev_samp(x) AS sd FROM daily),
pre AS (
    SELECT d, x,
           sum(x - s.mu - {_CUSUM_K} * s.sd) OVER w AS sp,
           sum(x - s.mu + {_CUSUM_K} * s.sd) OVER w AS sn,
           s.sd
    FROM daily CROSS JOIN stats s
    WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)
),
cus AS (
    SELECT d, x, sd,
           sp - least(min(sp) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW), 0) AS c_pos,
           greatest(max(sn) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW), 0) - sn AS c_neg
    FROM pre
)
SELECT CAST(d AS VARCHAR) AS day,
       x::BIGINT AS n_orders,
       round(c_pos / sd, 4) AS c_pos_sigma,
       round(c_neg / sd, 4) AS c_neg_sigma
FROM cus
WHERE c_pos > {_CUSUM_H} * sd OR c_neg > {_CUSUM_H} * sd
ORDER BY day
"""


@register(
    "cusum_order_level_shift",
    oracle=_CUSUM_ORACLE,
    tags=("stats", "anomaly", "timeseries", "monitoring"),
)
def cusum_order_level_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point detection on the daily order
    series (Page 1954): days where the cumulative deviation beyond a
    ±{_CUSUM_K}σ slack exceeds the {_CUSUM_H}σ decision interval —
    the SUSTAINED-level-shift detector beside the spike detector
    (daily_order_anomalies): a 10% drift the z-score never flags
    accumulates here within days.

    Plan shape: the textbook CUSUM recursion C+_t = max(0, C+_{{t-1}}
    + x_t - μ - k) looks sequential, but it is exactly a PREFIX-SUM
    identity — C+_t = S_t - min(0, min_{{s<=t}} S_s) over the running
    sum S of slack-adjusted deviations — so two cumulative windows
    over the day-level series compute it with no recursion, no UDF,
    no driver loop (the scan-friendly reformulation that makes CUSUM
    distributable). Corpus-scale work is one groupBy(day); the
    windows run over days only."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    stats = F.broadcast(
        daily.agg(
            F.avg("x").alias("mu"), F.stddev_samp("x").alias("sd")
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.crossJoin(stats).select(
        "d",
        "x",
        "sd",
        F.sum(
            F.col("x") - F.col("mu") - _CUSUM_K * F.col("sd")
        ).over(w).alias("sp"),
        F.sum(
            F.col("x") - F.col("mu") + _CUSUM_K * F.col("sd")
        ).over(w).alias("sn"),
    )
    c_pos = F.col("sp") - F.least(F.min("sp").over(w), F.lit(0.0))
    c_neg = F.greatest(F.max("sn").over(w), F.lit(0.0)) - F.col("sn")
    cus = pre.select(
        "d", "x", "sd", c_pos.alias("c_pos"), c_neg.alias("c_neg")
    )
    return (
        cus.where(
            (F.col("c_pos") > _CUSUM_H * F.col("sd"))
            | (F.col("c_neg") > _CUSUM_H * F.col("sd"))
        )
        .select(
            F.col("d").cast("string").alias("day"),
            F.col("x").cast("long").alias("n_orders"),
            F.round(F.col("c_pos") / F.col("sd"), 4).alias("c_pos_sigma"),
            F.round(F.col("c_neg") / F.col("sd"), 4).alias("c_neg_sigma"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Gini coefficient / Lorenz concentration of customer revenue
# ---------------------------------------------------------------------------

_GINI_TOP_PCT = 0.01

_GINI_ORACLE = f"""
WITH rev AS (
    SELECT o_custkey, sum(o_totalprice) AS r
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT r,
           row_number() OVER (ORDER BY r ASC, o_custkey ASC) AS i,
           count(*) OVER () AS n,
           sum(r) OVER () AS tot
    FROM rev
),
g AS (
    SELECT max(n) AS n, max(tot) AS tot,
           sum(i * r) AS weighted
    FROM ranked
),
topshare AS (
    SELECT sum(r) AS top_r
    FROM ranked
    WHERE i > n - CAST(ceil(n * {_GINI_TOP_PCT}) AS BIGINT)
)
SELECT g.n::BIGINT AS n_customers,
       round(g.tot, 2) AS total_revenue,
       round(2.0 * g.weighted / (g.n * g.tot) - (g.n + 1.0) / g.n, 6)
           AS gini,
       round(t.top_r / g.tot, 6) AS top1pct_share
FROM g CROSS JOIN topshare t
"""


@register(
    "gini_revenue_concentration",
    oracle=_GINI_ORACLE,
    tags=("stats", "economics", "analytics"),
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration plus the
    top-1% revenue share — the Lorenz-curve summary beside the
    supplier HHI (HHI measures MARKET concentration over a handful of
    suppliers; Gini measures INEQUALITY over the whole customer base,
    the number a usage-based business watches for whale dependence).
    Computed by the exact rank-sum identity G = 2·Σ(i·xᵢ)/(n·Σx) −
    (n+1)/n over ascending-ranked revenues.

    Plan shape: the fact table reduces to one row per customer first
    (map-side combinable); the ascending-revenue rank runs through
    operators/ranking.py::distributed_row_number (customer tables are
    unbounded-grain — no single-partition sort), and the grand totals
    come from a 1-row broadcast aggregate instead of unbounded
    windows. Deterministic tie-break on custkey pins the hash."""
    from emails_to_vector_db_spark.operators.ranking import (
        distributed_row_number,
    )

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("r"))
    tots = F.broadcast(
        rev.agg(
            F.count(F.lit(1)).alias("n"), F.sum("r").alias("tot")
        )
    )
    ranked = distributed_row_number(
        rev, [F.col("r").asc(), F.col("o_custkey").asc()], "i"
    ).crossJoin(tots)
    g = ranked.agg(
        F.max("n").alias("n"),
        F.max("tot").alias("tot"),
        F.sum(F.col("i") * F.col("r")).alias("weighted"),
    )
    topshare = ranked.where(
        F.col("i")
        > F.col("n") - F.ceil(F.col("n") * _GINI_TOP_PCT).cast("long")
    ).agg(F.sum("r").alias("top_r"))
    return (
        g.crossJoin(topshare)
        .select(
            F.col("n").cast("long").alias("n_customers"),
            F.round("tot", 2).alias("total_revenue"),
            F.round(
                2.0 * F.col("weighted") / (F.col("n") * F.col("tot"))
                - (F.col("n") + 1.0) / F.col("n"),
                6,
            ).alias("gini"),
            F.round(F.col("top_r") / F.col("tot"), 6).alias(
                "top1pct_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Day-of-week seasonality profile of the order series
# ---------------------------------------------------------------------------

_SEASON_ORACLE = """
WITH daily AS (
    SELECT o_orderdate AS d, count(*)::DOUBLE AS x
    FROM orders GROUP BY o_orderdate
),
trended AS (
    SELECT d, x,
           avg(x) OVER w AS trend,
           count(*) OVER w AS n_win
    FROM daily
    WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
)
SELECT dayofweek(d)::BIGINT AS dow,
       count(*)::BIGINT AS n_days,
       round(avg(x), 2) AS mean_orders,
       round(avg(x - trend), 4) AS seasonal_index
FROM trended
WHERE n_win = 7
GROUP BY dayofweek(d)
"""


@register(
    "dow_seasonality_profile",
    oracle=_SEASON_ORACLE,
    tags=("stats", "timeseries", "analytics"),
)
def dow_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition of the daily order series,
    STL-lite: trend = centered 7-day moving average (full windows
    only, so the boundary days drop out identically in both engines),
    seasonal index = mean detrended value per weekday — the
    calendar-effect profile the anomaly detectors (z-score, CUSUM)
    should be read against: a 'Monday dip' is seasonality, not an
    incident.

    Plan shape: one groupBy(day) reduction of the fact table; the
    centered window and the 7-group weekday aggregate run over the
    day-level series only. DuckDB's dayofweek is 0=Sunday..6; Spark's
    is 1=Sunday..7 — normalized to the DuckDB convention in the plan
    so the group keys hash-match."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    trended = daily.select(
        "d",
        "x",
        F.avg("x").over(w).alias("trend"),
        F.count(F.lit(1)).over(w).alias("n_win"),
    )
    return (
        trended.where(F.col("n_win") == 7)
        .groupBy(
            (F.dayofweek("d") - 1).cast("long").alias("dow")
        )
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg("x"), 2).alias("mean_orders"),
            F.round(F.avg(F.col("x") - F.col("trend")), 4).alias(
                "seasonal_index"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Conditional quantile curve: median price by quantity, with a robust fit
# ---------------------------------------------------------------------------

_QCURVE_ORACLE = """
WITH grp AS (
    SELECT l_quantity AS qty,
           count(*)::DOUBLE AS n,
           quantile_cont(l_extendedprice, 0.5) AS med,
           quantile_cont(l_extendedprice, 0.75)
               - quantile_cont(l_extendedprice, 0.25) AS iqr
    FROM lineitem GROUP BY l_quantity
),
fit AS (
    SELECT (sum(n * qty * med) - sum(n * qty) * sum(n * med) / sum(n))
           / (sum(n * qty * qty) - sum(n * qty) * sum(n * qty) / sum(n))
               AS slope,
           sum(n * med) / sum(n) AS my,
           sum(n * qty) / sum(n) AS mx
    FROM grp
)
SELECT CAST(g.qty AS BIGINT) AS quantity,
       g.n::BIGINT AS n_rows,
       round(g.med, 2) AS median_price,
       round(g.iqr, 2) AS iqr_price,
       round(f.my + f.slope * (g.qty - f.mx), 2) AS fitted_median
FROM grp g CROSS JOIN fit f
"""


@register(
    "median_price_by_quantity",
    oracle=_QCURVE_ORACLE,
    tags=("stats", "regression", "robust"),
)
def median_price_by_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional MEDIAN curve of extended price against quantity with
    a count-weighted least-squares line through the group medians — the
    robust complement to the mean-based OLS lane (ols_price_model):
    medians ignore the price outliers that pull a mean fit, and the
    two-stage median-then-fit construction is the classic scalable
    stand-in for full quantile regression (the per-group medians are
    group-local sorts over bounded groups; no global quantile pass).

    Plan shape: one groupBy(quantity) with exact interpolated
    percentiles (group-local), then the weighted fit is a 1-row
    aggregate of the ~50-row group table broadcast back onto it.
    Nothing corpus-scale shuffles twice."""
    li = load_table(spark, sf_dir, "lineitem")
    # one percentile aggregate with an array of fractions: three
    # separate percentile() calls each buffer the group's values
    # independently (3x the ObjectHashAggregate payload — measured 22s
    # at sf1); the fused form buffers once and reads three order stats
    qs = F.percentile(
        F.col("l_extendedprice"),
        F.array(F.lit(0.5), F.lit(0.25), F.lit(0.75)),
    )
    grp = li.groupBy(F.col("l_quantity").alias("qty")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        qs.alias("q3"),
    ).select(
        "qty",
        "n",
        F.element_at("q3", 1).alias("med"),
        (F.element_at("q3", 3) - F.element_at("q3", 2)).alias("iqr"),
    )
    fit = F.broadcast(
        grp.agg(
            (
                (
                    F.sum(F.col("n") * F.col("qty") * F.col("med"))
                    - F.sum(F.col("n") * F.col("qty"))
                    * F.sum(F.col("n") * F.col("med"))
                    / F.sum("n")
                )
                / (
                    F.sum(F.col("n") * F.col("qty") * F.col("qty"))
                    - F.sum(F.col("n") * F.col("qty"))
                    * F.sum(F.col("n") * F.col("qty"))
                    / F.sum("n")
                )
            ).alias("slope"),
            (F.sum(F.col("n") * F.col("med")) / F.sum("n")).alias("my"),
            (F.sum(F.col("n") * F.col("qty")) / F.sum("n")).alias("mx"),
        )
    )
    return grp.crossJoin(fit).select(
        F.col("qty").cast("long").alias("quantity"),
        F.col("n").cast("long").alias("n_rows"),
        F.round("med", 2).alias("median_price"),
        F.round("iqr", 2).alias("iqr_price"),
        F.round(
            F.col("my") + F.col("slope") * (F.col("qty") - F.col("mx")),
            2,
        ).alias("fitted_median"),
    )


# ---------------------------------------------------------------------------
# l-diversity audit: sensitive-attribute diversity inside QI groups
# ---------------------------------------------------------------------------

_LDIV_L = 3

_LDIV_ORACLE = f"""
WITH joined AS (
    SELECT c.c_nationkey, c.c_mktsegment, o.o_orderpriority AS sens
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
),
cells AS (
    SELECT c_nationkey, c_mktsegment, sens, count(*)::DOUBLE AS cnt
    FROM joined GROUP BY 1, 2, 3
),
gtot AS (
    SELECT c_nationkey, c_mktsegment, sum(cnt) AS n
    FROM cells GROUP BY 1, 2
),
grp AS (
    SELECT c.c_nationkey, c.c_mktsegment,
           count(*)::BIGINT AS l_distinct,
           max(g.n)::DOUBLE AS n,
           -sum((c.cnt / g.n) * ln(c.cnt / g.n)) AS h
    FROM cells c
    JOIN gtot g USING (c_nationkey, c_mktsegment)
    GROUP BY 1, 2
)
SELECT count(*)::BIGINT AS n_groups,
       min(l_distinct)::BIGINT AS min_l,
       sum(CASE WHEN l_distinct < {_LDIV_L} THEN 1 ELSE 0 END)::BIGINT
           AS n_low_diversity_groups,
       round(min(h), 6) AS min_entropy,
       round(sum(CASE WHEN l_distinct < {_LDIV_L} THEN n ELSE 0 END)
             / sum(n), 6) AS exposed_fraction
FROM grp
"""


@register(
    "l_diversity_audit",
    oracle=_LDIV_ORACLE,
    tags=("privacy", "audit", "agg"),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity release audit (Machanavajjhala et al. 2007), the
    companion to k_anonymity_audit: a QI group can be large (k-safe)
    yet reveal everyone's sensitive value if that value is uniform
    inside the group — this audit reports distinct-l and ENTROPY
    l-diversity of order priority within (nation, segment) groups,
    plus the row fraction in under-diverse groups.

    Plan shape: one fact-dim join (customer broadcast-eligible), one
    (QI, sensitive)-cell aggregation, then group-level diversity from
    the cell table — the corpus never shuffles twice, and the entropy
    is computed over cells, not rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    joined = o.join(
        F.broadcast(
            c.select("c_custkey", "c_nationkey", "c_mktsegment")
        ),
        o["o_custkey"] == c["c_custkey"],
    ).select(
        "c_nationkey",
        "c_mktsegment",
        F.col("o_orderpriority").alias("sens"),
    )
    cells = joined.groupBy("c_nationkey", "c_mktsegment", "sens").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    wg = Window.partitionBy("c_nationkey", "c_mktsegment")
    p = F.col("cnt") / F.sum("cnt").over(wg)
    grp = (
        cells.withColumn("hterm", -p * F.log(p))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("l_distinct"),
            F.sum("cnt").alias("n"),
            F.sum("hterm").alias("h"),
        )
    )
    return grp.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("l_distinct").alias("min_l"),
        F.sum(
            F.when(F.col("l_distinct") < _LDIV_L, 1).otherwise(0)
        ).alias("n_low_diversity_groups"),
        F.round(F.min("h"), 6).alias("min_entropy"),
        F.round(
            F.sum(
                F.when(F.col("l_distinct") < _LDIV_L, F.col("n")).otherwise(
                    0.0
                )
            )
            / F.sum("n"),
            6,
        ).alias("exposed_fraction"),
    )


# ---------------------------------------------------------------------------
# MAD-based robust outlier count (modified z-score, Iglewicz-Hoaglin)
# ---------------------------------------------------------------------------

_MAD_CUT = 3.5

_MAD_ORACLE = f"""
WITH med AS (
    SELECT quantile_cont(o_totalprice, 0.5) AS m FROM orders
),
mad AS (
    SELECT quantile_cont(abs(o_totalprice - med.m), 0.5) AS mad, max(med.m) AS m
    FROM orders CROSS JOIN med GROUP BY ALL
)
SELECT count(*)::BIGINT AS n_orders,
       round(max(mad.m), 2) AS median_price,
       round(max(mad.mad), 2) AS mad_price,
       sum(CASE WHEN abs(0.6745 * (o_totalprice - mad.m) / mad.mad)
                     > {_MAD_CUT}
                THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
       round(max(abs(0.6745 * (o_totalprice - mad.m) / mad.mad)), 4)
           AS max_modified_z
FROM orders CROSS JOIN mad
"""


@register(
    "mad_robust_outliers",
    oracle=_MAD_ORACLE,
    tags=("stats", "anomaly", "robust"),
)
def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD modified z-score outlier audit (Iglewicz-Hoaglin
    |0.6745·(x−med)/MAD| > {_MAD_CUT}) over order totals — the robust
    member of the outlier family: mean/stddev z-scores are dragged by
    the very outliers they hunt (masking), the median/MAD pair has a
    50% breakdown point and cannot be.

    Plan shape: two exact-percentile passes (median, then MAD — the
    second depends on the first by definition) with 1-row scalars
    broadcast between them, then one conditional-aggregate scan. At
    100 TB both medians go percentile_approx with recorded epsilon
    (the orders_equi_depth_approx precedent)."""
    o = load_table(spark, sf_dir, "orders")
    med = F.broadcast(
        o.agg(F.percentile(F.col("o_totalprice"), F.lit(0.5)).alias("m"))
    )
    mad = F.broadcast(
        o.crossJoin(med).agg(
            F.percentile(
                F.abs(F.col("o_totalprice") - F.col("m")), F.lit(0.5)
            ).alias("mad"),
            F.max("m").alias("m"),
        )
    )
    z = F.abs(
        0.6745 * (F.col("o_totalprice") - F.col("m")) / F.col("mad")
    )
    return o.crossJoin(mad).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.max("m"), 2).alias("median_price"),
        F.round(F.max("mad"), 2).alias("mad_price"),
        F.sum(F.when(z > _MAD_CUT, 1).otherwise(0)).alias("n_outliers"),
        F.round(F.max(z), 4).alias("max_modified_z"),
    )


# ---------------------------------------------------------------------------
# Robust trend: Theil-Sen slope + Mann-Kendall test on daily orders
# ---------------------------------------------------------------------------

_TREND_ORACLE = """
WITH daily AS (
    SELECT o_orderdate AS d, count(*)::DOUBLE AS x
    FROM orders GROUP BY o_orderdate
),
pairs AS (
    SELECT (b.x - a.x) / date_diff('day', a.d, b.d) AS slope,
           CASE WHEN b.x > a.x THEN 1
                WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn
    FROM daily a JOIN daily b ON b.d > a.d
),
ties AS (
    SELECT sum(t * (t - 1.0) * (2 * t + 5.0)) AS tie_corr
    FROM (SELECT count(*)::DOUBLE AS t FROM daily GROUP BY x)
),
agg AS (
    SELECT quantile_cont(slope, 0.5) AS ts_slope,
           sum(sgn)::DOUBLE AS s,
           (SELECT count(*)::DOUBLE FROM daily) AS n
    FROM pairs
)
SELECT n::BIGINT AS n_days,
       round(ts_slope, 6) AS theil_sen_slope,
       s::BIGINT AS mk_s,
       round((s - CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END)
             / sqrt((n * (n - 1) * (2 * n + 5) - t.tie_corr) / 18.0), 6)
           AS mk_z
FROM agg CROSS JOIN ties t
"""


@register(
    "robust_trend_daily_orders",
    oracle=_TREND_ORACLE,
    tags=("stats", "timeseries", "robust"),
)
def robust_trend_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend analysis of the daily order series: the Theil-Sen
    slope (median of all pairwise slopes — up to 29% contamination
    tolerance, vs OLS's zero) and the Mann-Kendall S statistic with
    tie-corrected normal z — the nonparametric is-volume-trending
    answer that outliers and non-normal noise can't fake, reading
    against the seasonality profile and the CUSUM/z-score alarms.

    Plan shape: the fact table reduces to the day-level series first;
    the O(days²) pair join runs over THAT (2.9M pairs at 2400 days —
    day-grain pair spaces stay small at ANY corpus size, which is the
    whole trick), the slope median is one exact percentile over pairs,
    and the tie correction is a value-histogram aggregate."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    from pyspark import StorageLevel

    daily = daily.persist(StorageLevel.MEMORY_AND_DISK)
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(b, F.col("b.d") > F.col("a.d")).select(
        (
            (F.col("b.x") - F.col("a.x"))
            / F.datediff(F.col("b.d"), F.col("a.d"))
        ).alias("slope"),
        F.when(F.col("b.x") > F.col("a.x"), 1)
        .when(F.col("b.x") < F.col("a.x"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    ties = F.broadcast(
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).cast("double").alias("t"))
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1.0) * (2 * F.col("t") + 5.0)
            ).alias("tie_corr")
        )
    )
    n_days = F.broadcast(
        daily.agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    agg = pairs.agg(
        F.percentile(F.col("slope"), F.lit(0.5)).alias("ts_slope"),
        F.sum("sgn").cast("double").alias("s"),
    )
    sgn_s = (
        F.when(F.col("s") > 0, 1).when(F.col("s") < 0, -1).otherwise(0)
    )
    return (
        agg.crossJoin(ties)
        .crossJoin(n_days)
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.round("ts_slope", 6).alias("theil_sen_slope"),
            F.col("s").cast("long").alias("mk_s"),
            F.round(
                (F.col("s") - sgn_s)
                / F.sqrt(
                    (
                        F.col("n")
                        * (F.col("n") - 1)
                        * (2 * F.col("n") + 5)
                        - F.col("tie_corr")
                    )
                    / 18.0
                ),
                6,
            ).alias("mk_z"),
        )
    )


# ---------------------------------------------------------------------------
# Autocorrelation of the daily order series at calendar lags
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 7, 14)

_ACF_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT {lag}::BIGINT AS lag, count(*)::BIGINT AS n_pairs,
       round(corr(a.x, b.x), 6) AS acf
FROM (SELECT o_orderdate AS d, count(*)::DOUBLE AS x
      FROM orders GROUP BY o_orderdate) a
JOIN (SELECT o_orderdate AS d, count(*)::DOUBLE AS x
      FROM orders GROUP BY o_orderdate) b
  ON b.d = a.d + INTERVAL {lag} DAY"""
    for lag in _ACF_LAGS
)


@register(
    "daily_autocorrelation",
    oracle=_ACF_ORACLE,
    tags=("stats", "timeseries"),
)
def daily_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily order volume at calendar lags 1, 7 and
    14 — the diagnostic that separates day-over-day momentum from
    weekly seasonality (a high lag-7/low lag-1 profile says 'weekday
    effect, not trend'), and the standard pre-check before fitting any
    forecasting model on the series.

    Plan shape: the day-level series (persisted once) self-joins at
    each calendar lag on an exact date key — equi-joins, no windows,
    no corpus re-scans; each lag's correlation is one fused moment
    aggregate. DuckDB replays per-lag with UNION rescans (allowed —
    same values)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    from pyspark import StorageLevel

    daily = daily.persist(StorageLevel.MEMORY_AND_DISK)
    outs = []
    for lag in _ACF_LAGS:
        a = daily.alias("a")
        b = daily.alias("b")
        outs.append(
            a.join(
                b, F.col("b.d") == F.date_add(F.col("a.d"), lag)
            ).agg(
                F.lit(lag).cast("long").alias("lag"),
                F.count(F.lit(1)).alias("n_pairs"),
                F.round(F.corr(F.col("a.x"), F.col("b.x")), 6).alias(
                    "acf"
                ),
            )
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionAll(x)
    return out


# ---------------------------------------------------------------------------
# Order-to-ship SLA latency percentiles by priority class
# ---------------------------------------------------------------------------

_SLA_DAYS = 60.0

_SLA_ORACLE = f"""
WITH lat AS (
    SELECT o.o_orderpriority AS priority,
           date_diff('day', o.o_orderdate, l.l_shipdate)::DOUBLE AS days
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT priority,
       count(*)::BIGINT AS n_lines,
       round(quantile_cont(days, 0.5), 2) AS p50_days,
       round(quantile_cont(days, 0.9), 2) AS p90_days,
       round(quantile_cont(days, 0.99), 2) AS p99_days,
       round(avg(CASE WHEN days <= {_SLA_DAYS} THEN 1.0 ELSE 0.0 END), 6)
           AS sla_attainment
FROM lat
GROUP BY priority
"""


@register(
    "order_ship_latency_sla",
    oracle=_SLA_ORACLE,
    tags=("analytics", "sla", "percentiles"),
)
def order_ship_latency_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLO report: p50/p90/p99 fulfillment days
    and {_SLA_DAYS:.0f}-day SLA attainment per priority class — the
    operations dashboard row that asks whether '1-URGENT' actually
    ships faster (tail percentiles, not means: one stuck line item
    moves p99 and nothing else).

    Plan shape: one fact-dim join (orders side pruned to two
    columns), then a single groupBy(priority) whose three percentiles
    share ONE fused percentile(array) buffer (the
    median_price_by_quantity lesson, applied from the start) and whose
    SLA flag is a conditional mean in the same pass."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("l_shipdate", "o_orderdate")
        .cast("double")
        .alias("days"),
    )
    qs = F.percentile(
        F.col("days"),
        F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
    )
    return (
        lat.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            qs.alias("q3"),
            F.round(
                F.avg(
                    F.when(F.col("days") <= _SLA_DAYS, 1.0).otherwise(0.0)
                ),
                6,
            ).alias("sla_attainment"),
        )
        .select(
            "priority",
            "n_lines",
            F.round(F.element_at("q3", 1), 2).alias("p50_days"),
            F.round(F.element_at("q3", 2), 2).alias("p90_days"),
            F.round(F.element_at("q3", 3), 2).alias("p99_days"),
            "sla_attainment",
        )
    )


# ---------------------------------------------------------------------------
# One-way ANOVA: retail price across part-size groups
# ---------------------------------------------------------------------------

_ANOVA_ORACLE = """
WITH g AS (
    SELECT p_size, count(*)::DOUBLE AS n, avg(p_retailprice) AS m,
           var_samp(p_retailprice) AS v
    FROM part GROUP BY p_size
),
tot AS (
    SELECT sum(n) AS n, sum(n * m) / sum(n) AS gm,
           count(*)::DOUBLE AS k
    FROM g
),
ss AS (
    SELECT max(t.n) AS n, max(t.k) AS k,
           sum(g.n * (g.m - t.gm) * (g.m - t.gm)) AS ssb,
           sum((g.n - 1) * g.v) AS ssw
    FROM g CROSS JOIN tot t
)
SELECT k::BIGINT AS n_groups,
       n::BIGINT AS n_rows,
       round((ssb / (k - 1)) / (ssw / (n - k)), 4) AS f_stat,
       round(ssb / (ssb + ssw), 6) AS eta_squared
FROM ss
"""


@register(
    "part_size_price_anova",
    oracle=_ANOVA_ORACLE,
    tags=("stats", "hypothesis-test"),
)
def part_size_price_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of retail price across part-size groups: the
    between/within variance-ratio F statistic plus eta-squared effect
    size — the k-group generalization completing the hypothesis-test
    family (Welch handles two groups, chi-square independence, KS
    distributions, this one k-group means).

    Plan shape: per-group moments in one map-side-combinable
    aggregation, the grand mean and sums of squares as re-aggregations
    of the k-row group table — the fact table is scanned exactly once
    and only k rows ever move again."""
    p = load_table(spark, sf_dir, "part")
    g = p.groupBy("p_size").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("p_retailprice").alias("m"),
        F.var_samp("p_retailprice").alias("v"),
    )
    tot = F.broadcast(
        g.agg(
            F.sum("n").alias("n_tot"),
            (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("gm"),
            F.count(F.lit(1)).cast("double").alias("k"),
        )
    )
    ss = g.crossJoin(tot).agg(
        F.max("n_tot").alias("n"),
        F.max("k").alias("k"),
        F.sum(
            F.col("n")
            * (F.col("m") - F.col("gm"))
            * (F.col("m") - F.col("gm"))
        ).alias("ssb"),
        F.sum((F.col("n") - 1) * F.col("v")).alias("ssw"),
    )
    return ss.select(
        F.col("k").cast("long").alias("n_groups"),
        F.col("n").cast("long").alias("n_rows"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("n") - F.col("k"))),
            4,
        ).alias("f_stat"),
        F.round(
            F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6
        ).alias("eta_squared"),
    )


# ---------------------------------------------------------------------------
# Binned Lorenz curve + approximate Gini: the named 100 TB fallback, landed
# ---------------------------------------------------------------------------

_LORENZ_BINS = 32

_LORENZ_ORACLE = f"""
WITH rev AS (
    SELECT o_custkey, sum(o_totalprice) AS r FROM orders GROUP BY o_custkey
),
rng AS (SELECT min(r) AS lo, max(r) AS hi FROM rev),
binned AS (
    SELECT least({_LORENZ_BINS} - 1,
                 CAST(floor({_LORENZ_BINS} * (r - rng.lo)
                            / (rng.hi - rng.lo + 1e-9)) AS INT)) AS bin,
           count(*)::DOUBLE AS n, sum(r) AS s
    FROM rev CROSS JOIN rng
    GROUP BY 1
),
cum AS (
    SELECT bin, n, s,
           sum(n) OVER (ORDER BY bin) AS cn,
           sum(s) OVER (ORDER BY bin) AS cs,
           sum(n) OVER () AS tn,
           sum(s) OVER () AS ts
    FROM binned
),
gini AS (
    SELECT sum((fp - pfp) * (fs + pfs)) AS area2
    FROM (
        SELECT cn / tn AS fp, cs / ts AS fs,
               coalesce(lag(cn / tn) OVER (ORDER BY bin), 0) AS pfp,
               coalesce(lag(cs / ts) OVER (ORDER BY bin), 0) AS pfs
        FROM cum
    )
),
exact AS (
    SELECT 2.0 * sum(i * r) / (max(n) * max(tot))
           - (max(n) + 1.0) / max(n) AS g
    FROM (
        SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS i,
               count(*) OVER () AS n, sum(r) OVER () AS tot
        FROM rev
    )
)
SELECT {_LORENZ_BINS}::BIGINT AS n_bins,
       round(1.0 - g2.area2, 6) AS gini_binned,
       round(e.g, 6) AS gini_exact,
       round(abs((1.0 - g2.area2) - e.g), 6) AS abs_error,
       (abs((1.0 - g2.area2) - e.g) < 0.02) AS within_tolerance
FROM gini g2 CROSS JOIN exact e
"""


@register(
    "binned_lorenz_gini",
    oracle=_LORENZ_ORACLE,
    tags=("stats", "economics", "approx-twin"),
)
def binned_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB fallback gini_revenue_concentration's docstring
    names, actually landed: the Lorenz curve discretized into
    {_LORENZ_BINS} equal-width revenue bins (one aggregation — NO
    global rank over customers), approximate Gini by trapezoid
    integration over the binned curve, reported NEXT TO the exact
    rank-sum Gini with the absolute error and an in-query tolerance
    boolean — the orders_equi_depth_approx 'approx twin' discipline:
    the exact form stays bit-checkable, the approx form is the plan
    that scales, and the query itself certifies how close they are.

    Plan shape: customer revenues aggregate once; binning is
    arithmetic on a broadcast (min, max) row; the curve and its
    integral are windows over {_LORENZ_BINS} rows. The exact branch
    (for the error column) ranks through
    operators/ranking.py::distributed_row_number — no customer-grain
    single-partition sort even in the audit lane; at true scale you
    drop that column and keep the bins."""
    from emails_to_vector_db_spark.operators.ranking import (
        distributed_row_number,
    )

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("r"))
    # rank FIRST: distributed_row_number leaves its local-rank table
    # persisted, and every later branch (range row, bins, totals, the
    # exact rank-sum) reads that one cached customer-grain table
    ranked = distributed_row_number(
        rev, [F.col("r").asc(), F.col("o_custkey").asc()], "i"
    )
    rng = F.broadcast(
        ranked.agg(F.min("r").alias("lo"), F.max("r").alias("hi"))
    )
    bin_col = F.least(
        F.lit(_LORENZ_BINS - 1),
        F.floor(
            _LORENZ_BINS
            * (F.col("r") - F.col("lo"))
            / (F.col("hi") - F.col("lo") + 1e-9)
        ).cast("int"),
    )
    binned = (
        ranked.crossJoin(rng)
        .groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("r").alias("s"),
        )
    )
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    wlag = Window.orderBy("bin")
    cum = binned.select(
        "bin",
        (F.sum("n").over(wb) / F.sum("n").over(wall)).alias("fp"),
        (F.sum("s").over(wb) / F.sum("s").over(wall)).alias("fs"),
    )
    area2 = cum.select(
        (
            (F.col("fp") - F.coalesce(F.lag("fp").over(wlag), F.lit(0.0)))
            * (
                F.col("fs")
                + F.coalesce(F.lag("fs").over(wlag), F.lit(0.0))
            )
        ).alias("strip")
    ).agg(F.sum("strip").alias("area2"))
    etot = F.broadcast(
        ranked.agg(F.count(F.lit(1)).alias("n"), F.sum("r").alias("tot"))
    )
    exact = ranked.crossJoin(etot).agg(
        (
            2.0
            * F.sum(F.col("i") * F.col("r"))
            / (F.max("n") * F.max("tot"))
            - (F.max("n") + 1.0) / F.max("n")
        ).alias("g")
    )
    return area2.crossJoin(F.broadcast(exact)).select(
        F.lit(_LORENZ_BINS).cast("long").alias("n_bins"),
        F.round(1.0 - F.col("area2"), 6).alias("gini_binned"),
        F.round(F.col("g"), 6).alias("gini_exact"),
        F.round(F.abs((1.0 - F.col("area2")) - F.col("g")), 6).alias(
            "abs_error"
        ),
        (F.abs((1.0 - F.col("area2")) - F.col("g")) < 0.02).alias(
            "within_tolerance"
        ),
    )


# ---------------------------------------------------------------------------
# Price elasticity of demand from the discount schedule
# ---------------------------------------------------------------------------

_ELASTICITY_ORACLE = """
WITH lvl AS (
    SELECT round(l_discount, 2) AS d,
           count(*)::DOUBLE AS n,
           avg(l_quantity) AS q
    FROM lineitem GROUP BY round(l_discount, 2)
),
pts AS (
    SELECT n, ln(1.0 - d) AS lx, ln(q) AS ly FROM lvl
),
m AS (
    SELECT sum(n) AS w, sum(n * lx) AS sx, sum(n * ly) AS sy,
           sum(n * lx * lx) AS sxx, sum(n * ly * ly) AS syy,
           sum(n * lx * ly) AS sxy,
           count(*)::BIGINT AS k
    FROM pts
)
SELECT k AS n_levels,
       round((sxy - sx * sy / w) / (sxx - sx * sx / w), 4) AS elasticity,
       round(pow(sxy - sx * sy / w, 2)
             / ((sxx - sx * sx / w) * (syy - sy * sy / w)), 6) AS r_squared
FROM m
"""


@register(
    "discount_quantity_elasticity",
    oracle=_ELASTICITY_ORACLE,
    tags=("stats", "economics", "regression"),
)
def discount_quantity_elasticity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Price elasticity of demand estimated from the discount schedule:
    the count-weighted log-log slope of mean quantity against the
    effective price multiplier (1 − discount) across discount levels —
    the economics number behind every 'should we discount more'
    decision, and the constant-elasticity counterpart of the linear
    OLS lane.

    Plan shape: one groupBy over the ~11 discount levels (map-side
    combinable), then the weighted fit is a 1-row moment aggregate of
    the level table. One scan, nothing wide."""
    li = load_table(spark, sf_dir, "lineitem")
    lvl = li.groupBy(F.round("l_discount", 2).alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("l_quantity").alias("q"),
    )
    pts = lvl.select(
        "n",
        F.log(1.0 - F.col("d")).alias("lx"),
        F.log("q").alias("ly"),
    )
    m = pts.agg(
        F.sum("n").alias("w"),
        F.sum(F.col("n") * F.col("lx")).alias("sx"),
        F.sum(F.col("n") * F.col("ly")).alias("sy"),
        F.sum(F.col("n") * F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("n") * F.col("ly") * F.col("ly")).alias("syy"),
        F.sum(F.col("n") * F.col("lx") * F.col("ly")).alias("sxy"),
        F.count(F.lit(1)).alias("k"),
    )
    sxy_c = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("w")
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("w")
    syy_c = F.col("syy") - F.col("sy") * F.col("sy") / F.col("w")
    return m.select(
        F.col("k").alias("n_levels"),
        F.round(sxy_c / sxx_c, 4).alias("elasticity"),
        F.round(F.pow(sxy_c, 2) / (sxx_c * syy_c), 6).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# Variance components / intraclass correlation of ship latency by supplier
# ---------------------------------------------------------------------------

_ICC_ORACLE = """
WITH lat AS (
    SELECT l.l_suppkey AS grp,
           date_diff('day', o.o_orderdate, l.l_shipdate)::DOUBLE AS y
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
g AS (
    SELECT grp, count(*)::DOUBLE AS n, avg(y) AS m, var_samp(y) AS v
    FROM lat GROUP BY grp
),
tot AS (
    SELECT sum(n) AS nt, sum(n * m) / sum(n) AS gm,
           count(*)::DOUBLE AS k,
           sum(n * n) AS sn2
    FROM g
),
ss AS (
    SELECT max(t.nt) AS nt, max(t.k) AS k,
           (max(t.nt) - max(t.sn2) / max(t.nt)) / (max(t.k) - 1) AS n0,
           sum(g.n * (g.m - t.gm) * (g.m - t.gm)) / (max(t.k) - 1) AS msb,
           sum((g.n - 1) * g.v) / (max(t.nt) - max(t.k)) AS msw
    FROM g CROSS JOIN tot t
)
SELECT k::BIGINT AS n_suppliers,
       nt::BIGINT AS n_lines,
       round(msw, 4) AS var_within,
       round((msb - msw) / n0, 4) AS var_between,
       round(((msb - msw) / n0) / ((msb - msw) / n0 + msw), 6) AS icc
FROM ss
"""


@register(
    "supplier_latency_icc",
    oracle=_ICC_ORACLE,
    tags=("stats", "variance-components"),
)
def supplier_latency_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-components decomposition of fulfillment latency: how
    much of ship-delay variance lives BETWEEN suppliers vs WITHIN one
    supplier's own lines — the one-way random-effects ICC (ANOVA
    method-of-moments, unbalanced-n0 correction). ICC near 0 says
    latency is process noise no supplier scorecard will fix; ICC high
    says WHICH supplier you use is the lever — the attribution
    question behind every vendor-performance program, answered from
    the same moments the fixed-effects ANOVA lane uses.

    Plan shape: one fact-dim join, one per-supplier moment
    aggregation, then k-row re-aggregations — the ANOVA template with
    the unbalanced-design n0 = (N - Σn²/N)/(k-1) correction."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    lat = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("l_suppkey").alias("grp"),
        F.datediff("l_shipdate", "o_orderdate").cast("double").alias("y"),
    )
    g = lat.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("y").alias("m"),
        F.var_samp("y").alias("v"),
    )
    tot = F.broadcast(
        g.agg(
            F.sum("n").alias("nt"),
            (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("gm"),
            F.count(F.lit(1)).cast("double").alias("k"),
            F.sum(F.col("n") * F.col("n")).alias("sn2"),
        )
    )
    ss = g.crossJoin(tot).agg(
        F.max("nt").alias("nt"),
        F.max("k").alias("k"),
        (
            (F.max("nt") - F.max("sn2") / F.max("nt"))
            / (F.max("k") - 1)
        ).alias("n0"),
        (
            F.sum(
                F.col("n")
                * (F.col("m") - F.col("gm"))
                * (F.col("m") - F.col("gm"))
            )
            / (F.max("k") - 1)
        ).alias("msb"),
        (
            F.sum((F.col("n") - 1) * F.col("v"))
            / (F.max("nt") - F.max("k"))
        ).alias("msw"),
    )
    vb = (F.col("msb") - F.col("msw")) / F.col("n0")
    return ss.select(
        F.col("k").cast("long").alias("n_suppliers"),
        F.col("nt").cast("long").alias("n_lines"),
        F.round("msw", 4).alias("var_within"),
        F.round(vb, 4).alias("var_between"),
        F.round(vb / (vb + F.col("msw")), 6).alias("icc"),
    )


# ---------------------------------------------------------------------------
# Wilson-lower-bound ranking of part return rates
# ---------------------------------------------------------------------------

_WILSON_Z = 1.96
_WILSON_TOP = 20
_WILSON_MIN_N = 20

_WILSON_ORACLE = f"""
WITH rates AS (
    SELECT l_partkey AS pk,
           count(*)::DOUBLE AS n,
           sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::DOUBLE
               AS r
    FROM lineitem GROUP BY l_partkey
    HAVING count(*) >= {_WILSON_MIN_N}
),
scored AS (
    SELECT pk, n, r, r / n AS p,
           (r / n + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
            - {_WILSON_Z} * sqrt((r / n) * (1 - r / n) / n
                  + {_WILSON_Z} * {_WILSON_Z} / (4 * n * n)))
           / (1 + {_WILSON_Z} * {_WILSON_Z} / n) AS lb
    FROM rates
)
SELECT pk AS partkey, n::BIGINT AS n_lines, r::BIGINT AS n_returns,
       round(p, 6) AS return_rate,
       round(lb, 6) AS wilson_lower_bound
FROM scored
ORDER BY round(lb, 6) DESC, pk ASC
LIMIT {_WILSON_TOP}
"""


@register(
    "return_rate_wilson_ranking",
    oracle=_WILSON_ORACLE,
    tags=("stats", "ranking", "uncertainty"),
)
def return_rate_wilson_ranking(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Parts ranked by the WILSON LOWER BOUND of their return rate
    (z={_WILSON_Z}) rather than the raw proportion — the 'how not to
    sort by average rating' correction: a part with 3 returns out of 4
    lines outranks everything by raw rate but its evidence is four
    observations; the Wilson bound demotes it below a part returning
    30% of 500 lines. Minimum-n gate plus the bound makes the ranking
    audit-stable as data accumulates.

    Plan shape: one per-part conditional aggregate (map-side
    combinable), closed-form bound arithmetic, TakeOrderedAndProject
    on the ROUNDED bound."""
    li = load_table(spark, sf_dir, "lineitem")
    rates = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("double")
            .alias("r"),
        )
        .where(F.col("n") >= _WILSON_MIN_N)
    )
    z2 = _WILSON_Z * _WILSON_Z
    p = F.col("r") / F.col("n")
    lb = (
        p
        + z2 / (2 * F.col("n"))
        - _WILSON_Z
        * F.sqrt(
            p * (1 - p) / F.col("n")
            + z2 / (4 * F.col("n") * F.col("n"))
        )
    ) / (1 + z2 / F.col("n"))
    return (
        rates.select(
            F.col("pk").alias("partkey"),
            F.col("n").cast("long").alias("n_lines"),
            F.col("r").cast("long").alias("n_returns"),
            F.round(p, 6).alias("return_rate"),
            F.round(lb, 6).alias("wilson_lower_bound"),
        )
        .orderBy(
            F.col("wilson_lower_bound").desc(), F.col("partkey").asc()
        )
        .limit(_WILSON_TOP)
    )


# ---------------------------------------------------------------------------
# X-bar / S control chart on daily order-value subgroups
# ---------------------------------------------------------------------------

_XBAR_SIGMA = 3.0

_XBAR_ORACLE = f"""
WITH days AS (
    SELECT o_orderdate AS d, count(*)::DOUBLE AS n,
           avg(o_totalprice) AS xbar, var_samp(o_totalprice) AS v
    FROM orders GROUP BY o_orderdate
    HAVING count(*) >= 2
),
pooled AS (
    SELECT sum((n - 1) * v) / sum(n - 1) AS s2,
           sum(n * xbar) / sum(n) AS gm
    FROM days
),
flags AS (
    SELECT d.d, d.n, d.xbar, p.gm,
           sqrt(p.s2 / d.n) * {_XBAR_SIGMA} AS halfwidth
    FROM days d CROSS JOIN pooled p
)
SELECT count(*)::BIGINT AS n_days,
       round(max(gm), 2) AS grand_mean,
       sum(CASE WHEN abs(xbar - gm) > halfwidth THEN 1 ELSE 0 END)::BIGINT
           AS n_out_of_control,
       round(avg(CASE WHEN abs(xbar - gm) > halfwidth
                      THEN 1.0 ELSE 0.0 END), 6) AS ooc_frac
FROM flags
"""


@register(
    "xbar_s_control_chart",
    oracle=_XBAR_ORACLE,
    tags=("stats", "spc", "monitoring"),
)
def xbar_s_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart X-bar/S control chart over daily order-value subgroups
    (variable subgroup sizes, pooled within-day variance, per-day
    ±{_XBAR_SIGMA:.0f}σ/√n limits): days whose MEAN value drifts
    outside what WITHIN-day dispersion predicts — the subgroup-based
    SPC lane that completes the monitoring family (z-score watches
    level vs history, CUSUM accumulates drift, X-bar asks whether
    between-day variation exceeds within-day variation, the proper
    common-cause/special-cause split).

    Plan shape: one groupBy(day) moment pass, a 1-row pooled-variance
    fold, and a day-grain conditional aggregate — all limits are
    closed-form arithmetic on subgroup moments."""
    o = load_table(spark, sf_dir, "orders")
    days = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg("o_totalprice").alias("xbar"),
            F.var_samp("o_totalprice").alias("v"),
        )
        .where(F.col("n") >= 2)
    )
    pooled = F.broadcast(
        days.agg(
            (
                F.sum((F.col("n") - 1) * F.col("v"))
                / F.sum(F.col("n") - 1)
            ).alias("s2"),
            (F.sum(F.col("n") * F.col("xbar")) / F.sum("n")).alias("gm"),
        )
    )
    hw = F.sqrt(F.col("s2") / F.col("n")) * _XBAR_SIGMA
    ooc = (F.abs(F.col("xbar") - F.col("gm")) > hw).cast("int")
    return days.crossJoin(pooled).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.max("gm"), 2).alias("grand_mean"),
        F.sum(ooc).cast("long").alias("n_out_of_control"),
        F.round(F.avg(ooc.cast("double")), 6).alias("ooc_frac"),
    )


# ---------------------------------------------------------------------------
# EWMA control chart on the daily mean order value
# ---------------------------------------------------------------------------

_EWMA_LAMBDA = 0.2  # memory parameter
_EWMA_L = 3.0  # control-limit width, in sigma_z units
_EWMA_K = 80  # finite-memory truncation: (1-λ)^80 ≈ 1.8e-8

_EWMA_ORACLE = f"""
WITH daily AS (
    SELECT o_orderdate AS d, avg(o_totalprice) AS x
    FROM orders GROUP BY o_orderdate
),
stats AS (SELECT avg(x) AS mu, stddev_samp(x) AS sd FROM daily),
idx AS (
    SELECT d, x, row_number() OVER (ORDER BY d) AS t FROM daily
),
z AS (
    SELECT a.d, a.x, a.t,
           {_EWMA_LAMBDA} * sum(power(1 - {_EWMA_LAMBDA}, a.t - b.t) * b.x)
               + power(1 - {_EWMA_LAMBDA}, least(a.t, {_EWMA_K}))
                 * max(s.mu) AS ewma
    FROM idx a
    JOIN idx b ON b.t <= a.t AND a.t - b.t < {_EWMA_K}
    CROSS JOIN stats s
    GROUP BY a.d, a.x, a.t
),
flags AS (
    SELECT z.d, z.x, z.ewma,
           s.sd * sqrt({_EWMA_LAMBDA} / (2 - {_EWMA_LAMBDA})
                 * (1 - power(1 - {_EWMA_LAMBDA},
                              2 * least(z.t, {_EWMA_K})))) AS sig,
           s.mu
    FROM z CROSS JOIN stats s
)
SELECT CAST(d AS VARCHAR) AS day,
       round(x, 2) AS day_mean,
       round(ewma, 4) AS ewma,
       round((ewma - mu) / sig, 4) AS z_units,
       CASE WHEN ewma > mu THEN 'high' ELSE 'low' END AS side
FROM flags
WHERE abs(ewma - mu) > {_EWMA_L} * sig
ORDER BY day
"""


@register(
    "ewma_control_chart",
    oracle=_EWMA_ORACLE,
    tags=("stats", "spc", "monitoring", "timeseries"),
)
def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (Roberts 1959) on the daily mean order
    value: z_t = λx_t + (1-λ)z_(t-1) against ±Lσ_z(t) limits — the
    small-persistent-shift detector that completes the SPC family
    (z-score catches spikes, CUSUM catches level shifts, X-bar/S
    splits within/between-day variance; EWMA with λ={_EWMA_LAMBDA}
    sits between the first two, weighting recent history
    geometrically).

    The recursion is made distributable the FINITE-MEMORY way: weights
    (1-λ)^k vanish below 2e-8 past k={_EWMA_K} lags, so z_t is DEFINED
    here (identically in both engines — the truncation is part of the
    statistic, not an engine approximation) as the {_EWMA_K}-lag
    geometric sum plus the initial-value term (1-λ)^min(t,{_EWMA_K})·μ.
    That turns the sequential filter into a banded day×lag join:
    day-grain × {_EWMA_K} rows — calendar-bounded, independent of data
    scale (corpus-scale work is exactly one groupBy(day) moment pass).
    The variance ramp σ_z(t) = σ√(λ/(2-λ)·(1-(1-λ)^2t)) uses the same
    truncated t, so early-series limits tighten correctly."""
    o = load_table(spark, sf_dir, "orders")
    lam, K = _EWMA_LAMBDA, _EWMA_K
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.avg("o_totalprice").alias("x")
    )
    stats = F.broadcast(
        daily.agg(
            F.avg("x").alias("mu"), F.stddev_samp("x").alias("sd")
        )
    )
    idx = daily.select(
        "d", "x", F.row_number().over(Window.orderBy("d")).alias("t")
    )
    a, b = idx.alias("a"), F.broadcast(idx.alias("b"))
    z = (
        a.join(
            b,
            (F.col("b.t") <= F.col("a.t"))
            & (F.col("a.t") - F.col("b.t") < K),
        )
        .crossJoin(stats)
        .groupBy("a.d", "a.x", "a.t")
        .agg(
            (
                lam
                * F.sum(
                    F.pow(F.lit(1 - lam), F.col("a.t") - F.col("b.t"))
                    * F.col("b.x")
                )
                + F.pow(F.lit(1 - lam), F.least(F.col("a.t"), F.lit(K)))
                * F.max("mu")
            ).alias("ewma")
        )
    )
    sig = F.col("sd") * F.sqrt(
        F.lit(lam / (2 - lam))
        * (
            F.lit(1.0)
            - F.pow(F.lit(1 - lam), 2 * F.least(F.col("t"), F.lit(K)))
        )
    )
    flags = z.crossJoin(stats).select(
        "d",
        "x",
        "ewma",
        "mu",
        sig.alias("sig"),
    )
    return (
        flags.where(F.abs(F.col("ewma") - F.col("mu")) > _EWMA_L * F.col("sig"))
        .select(
            F.col("d").cast("string").alias("day"),
            F.round("x", 2).alias("day_mean"),
            F.round("ewma", 4).alias("ewma"),
            F.round(
                (F.col("ewma") - F.col("mu")) / F.col("sig"), 4
            ).alias("z_units"),
            F.when(F.col("ewma") > F.col("mu"), "high")
            .otherwise("low")
            .alias("side"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Single change-point detection (CUSUM-argmax / binary-segmentation step)
# ---------------------------------------------------------------------------

_CPT_ORACLE = """
WITH daily AS (
    SELECT o_orderdate AS d, avg(o_totalprice) AS x
    FROM orders GROUP BY o_orderdate
),
tot AS (
    SELECT count(*)::BIGINT AS n, sum(x) AS sn, stddev_samp(x) AS sd
    FROM daily
),
pref AS (
    SELECT d, x,
           row_number() OVER (ORDER BY d) AS t,
           sum(x) OVER (ORDER BY d
                        ROWS UNBOUNDED PRECEDING) AS st
    FROM daily
),
stat AS (
    SELECT p.d, p.t, p.st, o.n, o.sn, o.sd,
           round(abs(p.st - (p.t::DOUBLE / o.n) * o.sn)
                 / (o.sd * sqrt(o.n)), 6) AS cusum_stat
    FROM pref p CROSS JOIN tot o
    WHERE p.t < o.n
)
SELECT CAST(d AS VARCHAR) AS split_day,
       t AS n_before,
       (n - t)::BIGINT AS n_after,
       round(st / t, 2) AS mean_before,
       round((sn - st) / (n - t), 2) AS mean_after,
       round((sn - st) / (n - t) - st / t, 2) AS shift,
       cusum_stat
FROM stat
ORDER BY cusum_stat DESC, d ASC
LIMIT 1
"""


@register(
    "changepoint_detection",
    oracle=_CPT_ORACLE,
    tags=("stats", "timeseries", "changepoint", "monitoring"),
    bench=True,
)
def changepoint_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection on the daily mean order value —
    the CUSUM-argmax statistic max_t |S_t - (t/n)S_n| / (sigma*sqrt(n))
    (the one binary-segmentation step ruptures/ED-PELT iterate): the
    split day that best explains the series as two constant levels,
    with before/after means and the normalized statistic. Completes
    the monitoring family: z-score flags spiky DAYS, CUSUM/EWMA flag
    the onset of a shift ONLINE, this finds the single best RETRO-
    SPECTIVE break for root-cause dating. The statistic is rounded to
    6dp BEFORE the argmax so the winning day is ulp-stable across
    engines; ties break to the earliest day.

    Plan shape: corpus-scale work is exactly one groupBy(day) moment
    pass; everything after runs at DAY grain (calendar-bounded, ~2.4k
    rows/decade). The cumulative sums still go through the two-pass
    range-partition helper (operators/ranking.py) rather than a
    global window — zero single-partition stages even at the day
    grain, and the cumsum-of-ones trick makes one helper call serve
    as both the prefix sum and the row number. The two-pass grouping
    perturbs the double prefix sum by ~1e-5 absolute at worst
    (~2e-11 in the normalized statistic) — absorbed by the 6dp
    pre-argmax rounding."""
    from emails_to_vector_db_spark.operators.ranking import (
        distributed_prefix_agg,
    )

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.avg("o_totalprice").alias("x")
    )
    tot = F.broadcast(
        daily.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sn"),
            F.stddev_samp("x").alias("sd"),
        )
    )
    pref = distributed_prefix_agg(
        daily.withColumn("one", F.lit(1).cast("long")),
        [F.col("d").asc()],
        sums=[("x", "st"), ("one", "t")],
    ).select("d", "t", "st")
    stat = (
        pref.crossJoin(tot)
        .where(F.col("t") < F.col("n"))
        .withColumn(
            "cusum_stat",
            F.round(
                F.abs(
                    F.col("st")
                    - (F.col("t").cast("double") / F.col("n")) * F.col("sn")
                )
                / (F.col("sd") * F.sqrt(F.col("n"))),
                6,
            ),
        )
    )
    return (
        stat.orderBy(F.col("cusum_stat").desc(), F.col("d").asc())
        .limit(1)
        .select(
            F.col("d").cast("string").alias("split_day"),
            F.col("t").alias("n_before"),
            (F.col("n") - F.col("t")).cast("long").alias("n_after"),
            F.round(F.col("st") / F.col("t"), 2).alias("mean_before"),
            F.round(
                (F.col("sn") - F.col("st")) / (F.col("n") - F.col("t")), 2
            ).alias("mean_after"),
            F.round(
                (F.col("sn") - F.col("st")) / (F.col("n") - F.col("t"))
                - F.col("st") / F.col("t"),
                2,
            ).alias("shift"),
            "cusum_stat",
        )
    )


# ---------------------------------------------------------------------------
# Moving-average seasonal decomposition (trend / day-of-week / residual)
# ---------------------------------------------------------------------------

_SEAS_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS x
    FROM orders GROUP BY 1
),
tr AS (
    SELECT d, x,
           avg(x) OVER w AS trend,
           count(*) OVER w AS wn
    FROM daily
    WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
    SELECT datediff('day', DATE '1970-01-01', d) % 7 AS dow,
           x - trend AS det
    FROM tr WHERE wn = 7
),
det2 AS (
    SELECT dow, det, avg(det) OVER (PARTITION BY dow) AS m FROM det
)
SELECT dow::BIGINT AS dow,
       count(*)::BIGINT AS n_days,
       round(avg(det), 2) AS seasonal_idx,
       round(stddev_samp(det - m), 2) AS resid_sd
FROM det2
GROUP BY dow
ORDER BY dow
"""


@register(
    "seasonal_decomposition",
    oracle=_SEAS_ORACLE,
    tags=("stats", "timeseries", "seasonality"),
)
def seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical moving-average decomposition of daily revenue into
    trend + day-of-week seasonal + residual (the additive
    decompose()/STL-lite every forecasting pipeline runs before
    modeling): trend = centered 7-day moving average (full windows
    only), seasonal index = mean detrended value per day-of-week,
    residual spread = per-DOW stddev of (detrended - seasonal). DOW is
    computed as epoch-days mod 7 (0 = Thursday) — identical integer
    arithmetic in both engines, no locale/DOW-origin dependence.

    Plan shape: one corpus moment pass to day grain; the centered MA
    is a 7-row window over calendar-bounded daily rows; the seasonal
    table is 7 rows. The residual stddev reuses the per-DOW mean via a
    window rather than a self-join."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum("o_totalprice").alias("x")
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "x",
        F.avg("x").over(w).alias("trend"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    det = tr.where(F.col("wn") == 7).select(
        (F.datediff(F.col("d"), F.lit("1970-01-01")) % 7).alias("dow"),
        (F.col("x") - F.col("trend")).alias("det"),
    )
    wd = Window.partitionBy("dow")
    return (
        det.withColumn("m", F.avg("det").over(wd))
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg("det"), 2).alias("seasonal_idx"),
            F.round(F.stddev_samp(F.col("det") - F.col("m")), 2).alias(
                "resid_sd"
            ),
        )
        .select(
            F.col("dow").cast("long").alias("dow"),
            "n_days",
            "seasonal_idx",
            "resid_sd",
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# KMV (K-minimum-values) distinct-count sketch, per source, exactness-audited
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_SPACE = 1152921504606846976.0  # 2^60: 15 hex chars of md5
# 3/sqrt(K): ~3 standard errors of the KMV estimator (RSE ~= 1/sqrt(K-2))
_KMV_BOUND = 0.375

_KMV_ORACLE = f"""
WITH toks AS (
    SELECT DISTINCT source, tok FROM (
        SELECT source,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
    )
),
h AS (
    SELECT source, tok,
           ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
    FROM toks
),
r AS (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h, tok) AS rk
    FROM h
),
agg AS (
    SELECT source,
           count(*)::BIGINT AS exact_distinct,
           max(CASE WHEN rk = {_KMV_K} THEN h END) AS kth
    FROM r GROUP BY source
),
est AS (
    SELECT source, exact_distinct,
           CASE WHEN exact_distinct >= {_KMV_K}
                THEN ({_KMV_K} - 1) * {_KMV_SPACE} / kth
                ELSE exact_distinct::DOUBLE END AS raw_est
    FROM agg
)
SELECT source, exact_distinct,
       round(raw_est, 2) AS kmv_estimate,
       round(abs(raw_est - exact_distinct) / exact_distinct, 4) AS rel_error,
       (abs(raw_est - exact_distinct) / exact_distinct <= {_KMV_BOUND})
           AS within_bound
FROM est
ORDER BY source
"""


@register(
    "kmv_distinct_sketch",
    oracle=_KMV_ORACLE,
    tags=("sketch", "distinct", "approx", "text"),
    bench=True,
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / K-minimum-values distinct-count sketch (Bar-Yossef et al.
    2002; the theta-sketch core): per source, keep the K={_KMV_K}
    smallest 60-bit hashes of the distinct tokens; the k-th minimum
    estimates the distinct count as (K-1)·2^60/h_k. The third mergeable
    sketch beside CMS (frequency) and HLL (the other distinct family):
    KMV's min-k sets union by "merge and re-truncate" AND support
    intersection/Jaccard estimates HLL can't — which is why theta
    sketches are the warehouse standard for set-expression rollups.
    Hash = leading 15 hex chars of md5 (the repo's portable-hash
    convention), so the estimate is hash-checked against DuckDB, and
    the exact distinct count rides along with the standard-error audit
    (|est-exact|/exact ≤ 3/sqrt(K) = {_KMV_BOUND}) — approximation
    with the bound checked in-query, not trusted.

    Plan shape: one distinct over (source, token) — map-side
    combinable — then a per-source window that only RANKS (min-k is
    order-local per group; at stream/partition scale the same sketch
    is maintained as a bounded per-partition top-k then merged, the
    property the docstring's union claim rests on). Sources with fewer
    than K distinct tokens fall back to the exact count (the standard
    small-set rule)."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "source",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
        )
        .distinct()
    )
    h = toks.select(
        "source",
        "tok",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy("h", "tok")
    )
    agg = (
        h.withColumn("rk", rk)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("exact_distinct"),
            F.max(F.when(F.col("rk") == _KMV_K, F.col("h"))).alias("kth"),
        )
    )
    raw = F.when(
        F.col("exact_distinct") >= _KMV_K,
        (_KMV_K - 1) * F.lit(_KMV_SPACE) / F.col("kth"),
    ).otherwise(F.col("exact_distinct").cast("double"))
    rel = F.abs(raw - F.col("exact_distinct")) / F.col("exact_distinct")
    return (
        agg.select(
            "source",
            "exact_distinct",
            F.round(raw, 2).alias("kmv_estimate"),
            F.round(rel, 4).alias("rel_error"),
            (rel <= _KMV_BOUND).alias("within_bound"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# t-closeness audit: ordered-EMD of sensitive distribution per QI group
# ---------------------------------------------------------------------------

_TCLOSE_T = 0.2

_TCLOSE_ORACLE = f"""
WITH joined AS (
    SELECT c.c_nationkey, c.c_mktsegment, o.o_orderpriority AS sens
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
),
cells AS (
    SELECT c_nationkey, c_mktsegment, sens, count(*)::DOUBLE AS cnt
    FROM joined GROUP BY 1, 2, 3
),
classes AS (
    SELECT c_nationkey, c_mktsegment, sum(cnt) AS n
    FROM cells GROUP BY 1, 2
),
cats AS (
    SELECT sens, sum(cnt) AS g FROM cells GROUP BY sens
),
gt AS (
    SELECT sum(cnt) AS gn, count(DISTINCT sens) AS m FROM cells
),
dense AS (
    SELECT cl.c_nationkey, cl.c_mktsegment, cl.n, ca.sens, gt.m,
           coalesce(ce.cnt, 0) / cl.n AS p,
           ca.g / gt.gn AS q
    FROM classes cl CROSS JOIN cats ca CROSS JOIN gt
    LEFT JOIN cells ce
      ON ce.c_nationkey = cl.c_nationkey
     AND ce.c_mktsegment = cl.c_mktsegment
     AND ce.sens = ca.sens
),
cum AS (
    SELECT c_nationkey, c_mktsegment, n, m,
           sum(p - q) OVER (PARTITION BY c_nationkey, c_mktsegment
                            ORDER BY sens
                            ROWS UNBOUNDED PRECEDING) AS cd
    FROM dense
),
tval AS (
    SELECT c_nationkey, c_mktsegment, max(n) AS n,
           sum(abs(cd)) / (max(m) - 1) AS t
    FROM cum GROUP BY 1, 2
)
SELECT count(*)::BIGINT AS n_groups,
       round(max(t), 6) AS max_t,
       sum(CASE WHEN t > {_TCLOSE_T} THEN 1 ELSE 0 END)::BIGINT
           AS n_violating_groups,
       round(sum(CASE WHEN t > {_TCLOSE_T} THEN n ELSE 0 END)
             / sum(n), 6) AS exposed_fraction
FROM tval
"""


@register(
    "t_closeness_audit",
    oracle=_TCLOSE_ORACLE,
    tags=("privacy", "audit", "agg"),
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness release audit (Li, Li & Venkatasubramanian 2007) —
    the third rung of the privacy-audit ladder: k-anonymity bounds
    group SIZE, l-diversity bounds sensitive-value VARIETY, and
    t-closeness bounds the DISTANCE between each QI group's sensitive
    distribution and the global one (a group can be large and diverse
    yet still skewed enough to leak). Distance = Earth Mover's
    Distance over the ORDERED sensitive attribute (order priority,
    ordinal by construction): EMD = sum_i |CDF_class(i) - CDF_global(i)|
    / (m-1), the standard ordered-categorical form. Reports the worst
    group's t, groups over t={_TCLOSE_T}, and the exposed row
    fraction.

    Plan shape: same economics as the sibling audits — one broadcast
    fact-dim join, one (QI, sens)-cell aggregation, then everything
    runs on the cell table (classes x m dense grid, m=5 priorities);
    the per-class CDF is a 5-row window. The corpus shuffles once."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    joined = o.join(
        F.broadcast(c.select("c_custkey", "c_nationkey", "c_mktsegment")),
        o["o_custkey"] == c["c_custkey"],
    ).select(
        "c_nationkey",
        "c_mktsegment",
        F.col("o_orderpriority").alias("sens"),
    )
    cells = joined.groupBy("c_nationkey", "c_mktsegment", "sens").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    classes = cells.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("cnt").alias("n")
    )
    cats = cells.groupBy("sens").agg(F.sum("cnt").alias("g"))
    gt = cells.agg(
        F.sum("cnt").alias("gn"), F.countDistinct("sens").alias("m")
    )
    dense = (
        classes.crossJoin(F.broadcast(cats))
        .crossJoin(F.broadcast(gt))
        .join(cells, ["c_nationkey", "c_mktsegment", "sens"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n",
            "sens",
            "m",
            (F.coalesce(F.col("cnt"), F.lit(0.0)) / F.col("n")).alias("p"),
            (F.col("g") / F.col("gn")).alias("q"),
        )
    )
    w_cum = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("sens")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dense.select(
        "c_nationkey",
        "c_mktsegment",
        "n",
        "m",
        F.sum(F.col("p") - F.col("q")).over(w_cum).alias("cd"),
    )
    tval = cum.groupBy("c_nationkey", "c_mktsegment").agg(
        F.max("n").alias("n"),
        (F.sum(F.abs(F.col("cd"))) / (F.max("m") - 1)).alias("t"),
    )
    return tval.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.round(F.max("t"), 6).alias("max_t"),
        F.sum(
            F.when(F.col("t") > _TCLOSE_T, 1).otherwise(0)
        ).cast("long").alias("n_violating_groups"),
        F.round(
            F.sum(F.when(F.col("t") > _TCLOSE_T, F.col("n")).otherwise(0.0))
            / F.sum("n"),
            6,
        ).alias("exposed_fraction"),
    )


# ---------------------------------------------------------------------------
# Streaming KMV merge: distinct-count sketch state rolled up across batches
# ---------------------------------------------------------------------------


def _kmv_stream_oracle() -> str:
    """The whole-corpus global KMV state over the SAME planted corpus
    the stream lands — the merged min-K set must equal it exactly
    (min-k of a union is the min-k of the per-batch min-k's), so the
    temporal merge is integer-hash-checked like streaming_cms_merge."""
    from emails_to_vector_db_spark.plans.dedup import _DOCS_EXACT_SQL

    return f"""
WITH docs AS ({_DOCS_EXACT_SQL}),
toks AS (
    SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
    FROM docs
),
h AS (
    SELECT DISTINCT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
),
topk AS (
    SELECT h FROM h ORDER BY h ASC LIMIT {_KMV_K}
)
SELECT count(*)::BIGINT AS n_state,
       max(h) AS kth_hash,
       round(CASE WHEN count(*) >= {_KMV_K}
                  THEN ({_KMV_K} - 1) * {_KMV_SPACE} / max(h)
                  ELSE count(*)::DOUBLE END, 2) AS kmv_estimate
FROM topk
"""


@register(
    "streaming_kmv_merge",
    oracle=_kmv_stream_oracle(),
    tags=("streaming", "sketch", "distinct", "kmv"),
)
def streaming_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY under streaming for the KMV distinct
    counter — the property that makes theta sketches the warehouse
    rollup standard: each micro-batch (the same deterministic 3-file
    landing as streaming_cms_merge) keeps only its K smallest distinct
    token hashes; the union of per-batch states, re-deduplicated and
    re-truncated to K, must equal the whole-corpus min-K set EXACTLY
    (any globally-smallest hash is also batch-smallest in the batch
    that saw it), and the DuckDB oracle rebuilds that corpus state from
    scratch. At 100 TB this is per-hour / per-partition distinct-count
    state rolling up without re-reading history: merged state is ≤ K
    rows no matter the corpus, and unions stay ≤ K by construction."""
    import os
    import shutil

    from emails_to_vector_db_spark.plans.corpus import _stream_dedup_landing

    landing = _stream_dedup_landing(sf_dir)
    work = landing.rstrip("/") + "__kmv_run"
    shutil.rmtree(work, ignore_errors=True)  # deterministic re-runs
    state_dir = os.path.join(work, "state")

    def apply(batch: DataFrame, _batch_id: int) -> None:
        batch_state = (
            batch.select(
                F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias(
                    "tok"
                )
            )
            .select(
                F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
                .cast("long")
                .alias("h")
            )
            .distinct()
            .orderBy("h")
            .limit(_KMV_K)
        )
        batch_state.write.mode("append").parquet(state_dir)

    q = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    merged = (
        spark.read.parquet(state_dir)
        .select("h")
        .distinct()
        .orderBy("h")
        .limit(_KMV_K)
    )
    est = F.when(
        F.count(F.lit(1)) >= _KMV_K,
        (_KMV_K - 1) * F.lit(_KMV_SPACE) / F.max("h"),
    ).otherwise(F.count(F.lit(1)).cast("double"))
    return merged.agg(
        F.count(F.lit(1)).alias("n_state"),
        F.max("h").alias("kth_hash"),
        F.round(est, 2).alias("kmv_estimate"),
    )


# ---------------------------------------------------------------------------
# Collocation extraction via Dunning's G² log-likelihood ratio
# ---------------------------------------------------------------------------

_LLR_FLOOR = 5
_LLR_TOP = 30

_LLR_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {{tokens}} AS T FROM documents
),
bg AS (
    SELECT unnest(list_transform(generate_series(1, len(T) - 1),
                  i -> T[i] || ' ' || T[i+1])) AS b
    FROM toks WHERE len(T) >= 2
),
cells AS (SELECT b, count(*)::DOUBLE AS c12 FROM bg GROUP BY b),
m1 AS (
    SELECT string_split(b, ' ')[1] AS w1, sum(c12) AS c1
    FROM cells GROUP BY 1
),
m2 AS (
    SELECT string_split(b, ' ')[2] AS w2, sum(c12) AS c2
    FROM cells GROUP BY 1
),
nt AS (SELECT sum(c12) AS n FROM cells),
tab AS (
    SELECT c.b, c.c12 AS o11,
           m1.c1 - c.c12 AS o12,
           m2.c2 - c.c12 AS o21,
           nt.n - m1.c1 - m2.c2 + c.c12 AS o22,
           m1.c1, m2.c2, nt.n
    FROM cells c
    JOIN m1 ON m1.w1 = string_split(c.b, ' ')[1]
    JOIN m2 ON m2.w2 = string_split(c.b, ' ')[2]
    CROSS JOIN nt
    WHERE c.c12 >= {_LLR_FLOOR}
),
g2 AS (
    SELECT b, o11::BIGINT AS pair_count,
           2 * (
             CASE WHEN o11 > 0
                  THEN o11 * ln(o11 * n / (c1 * c2)) ELSE 0 END
           + CASE WHEN o12 > 0
                  THEN o12 * ln(o12 * n / (c1 * (n - c2))) ELSE 0 END
           + CASE WHEN o21 > 0
                  THEN o21 * ln(o21 * n / ((n - c1) * c2)) ELSE 0 END
           + CASE WHEN o22 > 0
                  THEN o22 * ln(o22 * n / ((n - c1) * (n - c2))) ELSE 0 END
           ) AS llr
    FROM tab
)
SELECT b AS bigram, pair_count, round(llr, 4) AS llr
FROM g2
ORDER BY round(llr, 4) DESC, bigram ASC
LIMIT {_LLR_TOP}
""".replace("{tokens}", "regexp_split_to_array(trim(text), '\\s+')")


@register(
    "collocation_llr_top_pairs",
    oracle=_LLR_ORACLE,
    tags=("text", "collocation", "stats"),
)
def collocation_llr_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by Dunning's G² log-likelihood ratio
    (Dunning 1993) — the statistic that fixed PMI's rare-pair bias
    (PMI ranks a hapax pair occurring once-together at the top; G²
    weights the full 2×2 contingency table, so high-count genuine
    collocations win): G² = 2·Σ O·ln(O/E) over (first-word × second-
    word) presence/absence at adjacent-bigram grain. The top-30
    list beside token_pmi_top_pairs is the phrase-mining /
    tokenizer-seeding lane (multiword expressions worth fusing before
    BPE sees them).

    Plan shape: identical economics to the PMI query — one adjacency
    tokenize pass, one bigram-cell groupBy (map-side combinable), the
    margins re-agg the CELL table (vocabulary-sized, not corpus-
    sized), N is a broadcast 1-row aggregate, G² is map-side
    arithmetic on cells, TakeOrderedAndProject emits 30 rows."""
    d = load_table(spark, sf_dir, "documents")
    T = F.split(F.trim(F.col("text")), r"\s+")
    bg = (
        d.select(T.alias("T"))
        .where(F.size("T") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("T") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("T", i), F.element_at("T", i + 1)
                    ),
                )
            ).alias("b")
        )
    )
    cells = bg.groupBy("b").agg(
        F.count(F.lit(1)).cast("double").alias("c12")
    )
    from pyspark import StorageLevel

    cells = cells.persist(StorageLevel.MEMORY_AND_DISK)
    parts = F.split(F.col("b"), " ")
    m1 = (
        cells.select(parts[0].alias("w1"), "c12")
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    m2 = (
        cells.select(parts[1].alias("w2"), "c12")
        .groupBy("w2")
        .agg(F.sum("c12").alias("c2"))
    )
    nt = F.broadcast(cells.agg(F.sum("c12").alias("n")))
    tab = (
        cells.where(F.col("c12") >= _LLR_FLOOR)
        .withColumn("w1", parts[0])
        .withColumn("w2", parts[1])
        .join(m1, "w1")
        .join(m2, "w2")
        .crossJoin(nt)
    )
    o11 = F.col("c12")
    o12 = F.col("c1") - F.col("c12")
    o21 = F.col("c2") - F.col("c12")
    o22 = F.col("n") - F.col("c1") - F.col("c2") + F.col("c12")

    def term(o: F.Column, e_num: F.Column) -> F.Column:
        return F.when(o > 0, o * F.log(o * F.col("n") / e_num)).otherwise(
            0.0
        )

    llr = 2 * (
        term(o11, F.col("c1") * F.col("c2"))
        + term(o12, F.col("c1") * (F.col("n") - F.col("c2")))
        + term(o21, (F.col("n") - F.col("c1")) * F.col("c2"))
        + term(o22, (F.col("n") - F.col("c1")) * (F.col("n") - F.col("c2")))
    )
    return (
        tab.select(
            F.col("b").alias("bigram"),
            o11.cast("long").alias("pair_count"),
            F.round(llr, 4).alias("llr"),
        )
        .orderBy(F.col("llr").desc(), F.col("bigram").asc())
        .limit(_LLR_TOP)
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U rank-sum test (tie-corrected, value-census form)
# ---------------------------------------------------------------------------

_MW_ORACLE = """
WITH x AS (
    SELECT o_orderkey % 2 AS arm, o_totalprice AS v FROM orders
),
census AS (
    SELECT v,
           count(*)::DOUBLE AS t,
           sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::DOUBLE AS n1v
    FROM x GROUP BY v
),
ranked AS (
    SELECT v, t, n1v,
           coalesce(sum(t) OVER (ORDER BY v
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS below
    FROM census
),
agg AS (
    SELECT sum(n1v) AS n1,
           sum(t - n1v) AS n2,
           sum(n1v * (below + (t + 1) / 2)) AS r1,
           sum(t * t * t - t) AS ties
    FROM ranked
)
SELECT n1::BIGINT AS n_treat,
       n2::BIGINT AS n_ctrl,
       round(r1 - n1 * (n1 + 1) / 2, 2) AS u_stat,
       round(((r1 - n1 * (n1 + 1) / 2) - n1 * n2 / 2)
             / sqrt(n1 * n2 / 12.0
                    * ((n1 + n2 + 1)
                       - ties / ((n1 + n2) * (n1 + n2 - 1)))), 6)
           AS z_stat
FROM agg
"""


@register(
    "mann_whitney_u_test",
    oracle=_MW_ORACLE,
    tags=("stats", "hypothesis-test", "nonparametric"),
)
def mann_whitney_u_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test on order value between the two
    hash arms — the NONPARAMETRIC two-sample test beside Welch's t
    (which assumes rough normality) and KS (which tests the whole
    CDF): U from average ranks with the standard tie-corrected normal
    approximation z = (U - n1n2/2) / sqrt(n1n2/12 ((n+1) - Σ(t³-t)/
    (n(n-1)))).

    Plan shape: the scale insight is that rank-sum statistics never
    need row-level ranks — the VALUE-LEVEL census (one map-side-
    combinable groupBy) carries everything: avg rank of a tie group =
    (#below + (t+1)/2), so one cumulative pass over the value table
    (here a window at value grain; the two-pass range-partition helper
    at 10⁹-distinct-value scale) plus a closed-form fold produces U
    and z. No global sort of the data ever happens."""
    x = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 2).alias("arm"),
        F.col("o_totalprice").alias("v"),
    )
    census = x.groupBy("v").agg(
        F.count(F.lit(1)).cast("double").alias("t"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("double")
        .alias("n1v"),
    )
    from emails_to_vector_db_spark.operators.ranking import (
        distributed_prefix_agg,
    )

    pref = distributed_prefix_agg(
        census, [F.col("v").asc()], sums=[("t", "cum_t")]
    )
    ranked = pref.select(
        "v", "t", "n1v", (F.col("cum_t") - F.col("t")).alias("below")
    )
    agg = ranked.agg(
        F.sum("n1v").alias("n1"),
        F.sum(F.col("t") - F.col("n1v")).alias("n2"),
        F.sum(
            F.col("n1v") * (F.col("below") + (F.col("t") + 1) / 2)
        ).alias("r1"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).alias("ties"),
    )
    u = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2
    n = F.col("n1") + F.col("n2")
    var = (
        F.col("n1")
        * F.col("n2")
        / 12.0
        * ((n + 1) - F.col("ties") / (n * (n - 1)))
    )
    return agg.select(
        F.col("n1").cast("long").alias("n_treat"),
        F.col("n2").cast("long").alias("n_ctrl"),
        F.round(u, 2).alias("u_stat"),
        F.round(
            (u - F.col("n1") * F.col("n2") / 2) / F.sqrt(var), 6
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (average ranks from value censuses)
# ---------------------------------------------------------------------------

_SPEAR_ORACLE = """
WITH x AS (
    SELECT l_quantity AS a, l_extendedprice AS b FROM lineitem
),
ca AS (
    SELECT a, count(*)::DOUBLE AS t FROM x GROUP BY a
),
ra AS (
    SELECT a,
           coalesce(sum(t) OVER (ORDER BY a
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) + (t + 1) / 2
               AS rank_a
    FROM ca
),
cb AS (
    SELECT b, count(*)::DOUBLE AS t FROM x GROUP BY b
),
rb AS (
    SELECT b,
           coalesce(sum(t) OVER (ORDER BY b
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) + (t + 1) / 2
               AS rank_b
    FROM cb
)
SELECT count(*)::BIGINT AS n,
       round(corr(ra.rank_a, rb.rank_b), 6) AS spearman_rho,
       round(corr(x.a, x.b), 6) AS pearson_r
FROM x JOIN ra USING (a) JOIN rb USING (b)
"""


@register(
    "spearman_rank_correlation",
    oracle=_SPEAR_ORACLE,
    tags=("stats", "correlation", "nonparametric"),
)
def spearman_rank_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation between line-item quantity and
    extended price — the monotone-association measure the correlation
    matrix's Pearson entries miss (Pearson sees only LINEAR structure;
    Spearman is Pearson on average ranks, robust to outliers and
    monotone transforms). Both reported side by side.

    Plan shape: same scale move as the Mann-Whitney lane — average
    ranks come from the two VALUE-LEVEL censuses (tie group's avg rank
    = #below + (t+1)/2), never from a row-level global sort; the
    cumulative pass runs at value grain through the two-pass range-
    partition helper, ranks join back (value-keyed), and the
    correlation is one moment aggregate."""
    from emails_to_vector_db_spark.operators.ranking import (
        distributed_prefix_agg,
    )

    x = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("a"), F.col("l_extendedprice").alias("b")
    )

    def ranks(col: str) -> DataFrame:
        census = x.groupBy(col).agg(
            F.count(F.lit(1)).cast("double").alias("t")
        )
        pref = distributed_prefix_agg(
            census, [F.col(col).asc()], sums=[("t", "cum_t")]
        )
        return pref.select(
            col,
            (F.col("cum_t") - F.col("t") + (F.col("t") + 1) / 2).alias(
                f"rank_{col}"
            ),
        )

    joined = x.join(ranks("a"), "a").join(ranks("b"), "b")
    return joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("rank_a", "rank_b"), 6).alias("spearman_rho"),
        F.round(F.corr("a", "b"), 6).alias("pearson_r"),
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality test (raw-moment form, per priority class)
# ---------------------------------------------------------------------------

_JB_ORACLE = """
WITH m AS (
    SELECT o_orderpriority,
           count(*)::DOUBLE AS n,
           avg(o_totalprice) AS m1,
           avg(o_totalprice * o_totalprice) AS m2,
           avg(o_totalprice * o_totalprice * o_totalprice) AS m3,
           avg(o_totalprice * o_totalprice * o_totalprice * o_totalprice)
               AS m4
    FROM orders GROUP BY o_orderpriority
),
c AS (
    SELECT o_orderpriority, n,
           m2 - m1 * m1 AS c2,
           m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1 AS c3,
           m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1
               AS c4
    FROM m
)
SELECT o_orderpriority,
       n::BIGINT AS n_orders,
       round(c3 / power(c2, 1.5), 6) AS skewness,
       round(c4 / (c2 * c2) - 3, 6) AS excess_kurtosis,
       round(n / 6.0 * (power(c3 / power(c2, 1.5), 2)
             + power(c4 / (c2 * c2) - 3, 2) / 4), 4) AS jarque_bera
FROM c
ORDER BY o_orderpriority
"""


@register(
    "jarque_bera_normality",
    oracle=_JB_ORACLE,
    tags=("stats", "hypothesis-test", "distribution"),
)
def jarque_bera_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per order-priority class: JB =
    n/6 (S² + K²/4) from population skewness and excess kurtosis —
    the moment-based normality check (the one that needs NO
    order statistics, quantiles, or CDF evaluations, unlike
    Shapiro/Anderson-Darling) that tells you whether the t-test lane
    or the rank-test lane is trustworthy for a segment.

    Plan shape: deliberately computed from RAW moments E[x^k] (one
    map-side-combinable pass, four sums per group) with central
    moments derived by algebra IDENTICAL in both engines — built-in
    skewness/kurtosis are avoided because Spark and DuckDB disagree on
    sample-vs-population conventions (the lineitem_stats lesson);
    the raw-moment form has one convention by construction."""
    m = load_table(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("o_totalprice").alias("m1"),
        F.avg(F.col("o_totalprice") ** 2).alias("m2"),
        F.avg(F.col("o_totalprice") ** 3).alias("m3"),
        F.avg(F.col("o_totalprice") ** 4).alias("m4"),
    )
    c2 = F.col("m2") - F.col("m1") ** 2
    c3 = (
        F.col("m3")
        - 3 * F.col("m1") * F.col("m2")
        + 2 * F.col("m1") ** 3
    )
    c4 = (
        F.col("m4")
        - 4 * F.col("m1") * F.col("m3")
        + 6 * F.col("m1") ** 2 * F.col("m2")
        - 3 * F.col("m1") ** 4
    )
    s = c3 / F.pow(c2, 1.5)
    k = c4 / (c2 * c2) - 3
    return (
        m.select(
            "o_orderpriority",
            F.col("n").cast("long").alias("n_orders"),
            F.round(s, 6).alias("skewness"),
            F.round(k, 6).alias("excess_kurtosis"),
            F.round(
                F.col("n") / 6.0 * (F.pow(s, 2) + F.pow(k, 2) / 4), 4
            ).alias("jarque_bera"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator (peaks-over-threshold heavy-tail fit)
# ---------------------------------------------------------------------------

_HILL_K = 200

_HILL_ORACLE = f"""
WITH topk AS (
    SELECT o_totalprice AS v,
           row_number() OVER (ORDER BY o_totalprice DESC,
                              o_orderkey ASC) AS rk
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT {_HILL_K + 1}
),
ref AS (SELECT v AS vref FROM topk WHERE rk = {_HILL_K + 1})
SELECT {_HILL_K}::BIGINT AS k,
       round(r.vref, 2) AS threshold,
       round(avg(ln(t.v / r.vref)), 6) AS hill_h,
       round(1.0 / avg(ln(t.v / r.vref)), 4) AS tail_index
FROM topk t CROSS JOIN ref r
WHERE t.rk <= {_HILL_K}
GROUP BY r.vref
"""


@register(
    "hill_tail_index",
    oracle=_HILL_ORACLE,
    tags=("stats", "distribution", "tail", "risk"),
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-value tail index (Hill 1975, the
    peaks-over-threshold standard): over the k=200 largest order
    values, H = mean ln(x_i / x_(k+1)) and the Pareto tail index
    α = 1/H — the continuous-variable twin of the degree-distribution
    power-law MLE (cosupply_degree_distribution): α ≈ 1-2 means
    totals are dominated by a few extreme orders (top-N concentration
    queries are then the right reporting tool; means are not).

    Plan shape: TakeOrderedAndProject cuts k+1 rows from the scan —
    the full table is never sorted — and everything after is a
    closed-form fold over 200 bounded rows (the average_precision_eval
    discipline)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"), "o_orderkey"
    )
    topk = (
        o.orderBy(F.col("v").desc(), F.col("o_orderkey").asc())
        .limit(_HILL_K + 1)
        .select(
            "v",
            F.row_number()
            .over(
                Window.orderBy(F.col("v").desc(), F.col("o_orderkey").asc())
            )
            .alias("rk"),
        )
    )
    ref = F.broadcast(
        topk.where(F.col("rk") == _HILL_K + 1).select(
            F.col("v").alias("vref")
        )
    )
    return (
        topk.where(F.col("rk") <= _HILL_K)
        .crossJoin(ref)
        .groupBy("vref")
        .agg(F.avg(F.log(F.col("v") / F.col("vref"))).alias("h"))
        .select(
            F.lit(_HILL_K).cast("long").alias("k"),
            F.round("vref", 2).alias("threshold"),
            F.round("h", 6).alias("hill_h"),
            F.round(1.0 / F.col("h"), 4).alias("tail_index"),
        )
    )


# ---------------------------------------------------------------------------
# ADF stationarity test (lag-1 augmented Dickey-Fuller, closed-form OLS)
# ---------------------------------------------------------------------------

# 3x3 normal-equation Cramer solve over the moment symbols
# (n, s1, s2, s11, s12, s22, sy, s1y, s2y) — the plans/ml.py OLS layout.
_ADF_DET = (
    "(n * (s11 * s22 - s12 * s12)"
    " - s1 * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s12 - s11 * s2))"
)
_ADF_B0 = (
    "(sy * (s11 * s22 - s12 * s12)"
    " - s1 * (s1y * s22 - s12 * s2y)"
    " + s2 * (s1y * s12 - s11 * s2y))"
)
_ADF_B1 = (
    "(n * (s1y * s22 - s12 * s2y)"
    " - sy * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s2y - s1y * s2))"
)
_ADF_B2 = (
    "(n * (s11 * s2y - s1y * s12)"
    " - s1 * (s1 * s2y - s1y * s2)"
    " + sy * (s1 * s12 - s11 * s2))"
)
_ADF_CRIT_5PCT = -2.86  # DF tau-mu critical value, large n

_ADF_ORACLE = f"""
WITH daily AS (
    SELECT o_orderdate AS d, count(*)::DOUBLE AS x
    FROM orders GROUP BY o_orderdate
),
lagged AS (
    SELECT x - lag(x, 1) OVER (ORDER BY d) AS y,
           lag(x, 1) OVER (ORDER BY d) AS u,
           lag(x, 1) OVER (ORDER BY d)
             - lag(x, 2) OVER (ORDER BY d) AS v
    FROM daily
),
obs AS (SELECT y, u, v FROM lagged WHERE v IS NOT NULL),
m AS (
    SELECT count(*)::DOUBLE AS n,
           sum(u) AS s1, sum(v) AS s2,
           sum(u * u) AS s11, sum(u * v) AS s12, sum(v * v) AS s22,
           sum(y) AS sy, sum(u * y) AS s1y, sum(v * y) AS s2y,
           sum(y * y) AS syy
    FROM obs
),
fit AS (
    SELECT n, sy, s1y, s2y, syy, s1, s2, s22, s12,
           {_ADF_B0} / {_ADF_DET} AS b0,
           {_ADF_B1} / {_ADF_DET} AS b1,
           {_ADF_B2} / {_ADF_DET} AS b2,
           (n * s22 - s2 * s2) / {_ADF_DET} AS inv_uu
    FROM m
)
SELECT n::BIGINT AS n_obs,
       round(b1, 6) AS gamma,
       round(b1 / sqrt((syy - b0 * sy - b1 * s1y - b2 * s2y) / (n - 3)
                       * inv_uu), 4) AS adf_t,
       (b1 / sqrt((syy - b0 * sy - b1 * s1y - b2 * s2y) / (n - 3)
                  * inv_uu) < {_ADF_CRIT_5PCT}) AS stationary_5pct
FROM fit
"""


@register(
    "adf_stationarity_test",
    oracle=_ADF_ORACLE,
    tags=("stats", "timeseries", "hypothesis-test"),
)
def adf_stationarity_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented Dickey-Fuller unit-root test (lag 1) on the daily
    order-count series: Δx_t = α + γ·x_(t-1) + δ·Δx_(t-1), the
    stationarity diagnostic every forecasting/monitoring pipeline owes
    its series before trusting CUSUM/EWMA limits or an OLS trend (a
    unit root makes all of them lie). Emits γ, its t-statistic, and
    the 5% decision against the literal DF critical value (-2.86,
    large-n τ_μ — embedded as a constant, no p-value machinery
    needed).

    Plan shape: one groupBy(day) pass; lags are day-grain windows
    (calendar-bounded, the CUSUM/EWMA justification); the regression
    is the closed-form 3×3 normal-equation Cramer solve over ONE
    moment aggregate (the ols_price_model machinery), with se(γ̂)
    from the same cofactors — no iterative fitting, no matrix
    library."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        (F.col("x") - F.lag("x", 1).over(w)).alias("y"),
        F.lag("x", 1).over(w).alias("u"),
        (F.lag("x", 1).over(w) - F.lag("x", 2).over(w)).alias("v"),
    ).where(F.col("v").isNotNull())
    m = lagged.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("u").alias("s1"),
        F.sum("v").alias("s2"),
        F.sum(F.col("u") * F.col("u")).alias("s11"),
        F.sum(F.col("u") * F.col("v")).alias("s12"),
        F.sum(F.col("v") * F.col("v")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("u") * F.col("y")).alias("s1y"),
        F.sum(F.col("v") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    fit = m.selectExpr(
        "n",
        "sy",
        "s1y",
        "s2y",
        "syy",
        f"{_ADF_B0} / {_ADF_DET} AS b0",
        f"{_ADF_B1} / {_ADF_DET} AS b1",
        f"{_ADF_B2} / {_ADF_DET} AS b2",
        f"(n * s22 - s2 * s2) / {_ADF_DET} AS inv_uu",
    )
    rss = (
        F.col("syy")
        - F.col("b0") * F.col("sy")
        - F.col("b1") * F.col("s1y")
        - F.col("b2") * F.col("s2y")
    )
    t = F.col("b1") / F.sqrt(rss / (F.col("n") - 3) * F.col("inv_uu"))
    return fit.select(
        F.col("n").cast("long").alias("n_obs"),
        F.round("b1", 6).alias("gamma"),
        F.round(t, 4).alias("adf_t"),
        (t < _ADF_CRIT_5PCT).alias("stationary_5pct"),
    )


# ---------------------------------------------------------------------------
# Granger causality (lag-1): does order count help predict revenue?
# ---------------------------------------------------------------------------

_GRANGER_ORACLE = f"""
WITH daily AS (
    SELECT o_orderdate AS d,
           sum(o_totalprice) AS rev,
           count(*)::DOUBLE AS cnt
    FROM orders GROUP BY o_orderdate
),
lagged AS (
    SELECT rev AS y,
           lag(rev, 1) OVER (ORDER BY d) AS u,
           lag(cnt, 1) OVER (ORDER BY d) AS v
    FROM daily
),
obs AS (SELECT y, u, v FROM lagged WHERE u IS NOT NULL),
m AS (
    SELECT count(*)::DOUBLE AS n,
           sum(u) AS s1, sum(v) AS s2,
           sum(u * u) AS s11, sum(u * v) AS s12, sum(v * v) AS s22,
           sum(y) AS sy, sum(u * y) AS s1y, sum(v * y) AS s2y,
           sum(y * y) AS syy
    FROM obs
),
fit AS (
    SELECT n, sy, s1y, s2y, syy,
           {_ADF_B0} / {_ADF_DET} AS b0,
           {_ADF_B1} / {_ADF_DET} AS b1,
           {_ADF_B2} / {_ADF_DET} AS b2,
           -- restricted model y ~ 1 + u (drop v): 2x2 closed form
           (sy * s11 - s1 * s1y) / (n * s11 - s1 * s1) AS r0,
           (n * s1y - s1 * sy) / (n * s11 - s1 * s1) AS r1
    FROM m
),
rss AS (
    SELECT n,
           syy - b0 * sy - b1 * s1y - b2 * s2y AS rss_u,
           syy - r0 * sy - r1 * s1y AS rss_r
    FROM fit
)
SELECT n::BIGINT AS n_obs,
       round(rss_r / rss_u, 6) AS rss_ratio,
       round((rss_r - rss_u) / (rss_u / (n - 3)), 4) AS f_stat,
       ((rss_r - rss_u) / (rss_u / (n - 3)) > 3.85) AS granger_5pct
FROM rss
"""


@register(
    "granger_causality_lag1",
    oracle=_GRANGER_ORACLE,
    tags=("stats", "timeseries", "causal"),
)
def granger_causality_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger causality: does yesterday's ORDER COUNT improve
    the prediction of today's REVENUE beyond yesterday's revenue
    alone? F = ((RSS_r - RSS_u)/q) / (RSS_u/(n-k)) comparing the
    restricted AR(1) against the model with the candidate predictor's
    lag added, with the 5% F(1, large-n) critical value (3.85)
    embedded as a literal — the lead-lag screen run across metric
    pairs before anyone claims 'X drives Y' from a dashboard.

    Plan shape: both regressions come from the SAME single moment
    aggregate — the unrestricted fit is the 3×3 Cramer solve (ADF
    machinery), the restricted one the 2×2 closed form on a subset of
    the identical moments; corpus work is one groupBy(day) pass, and
    no second scan exists to disagree with the first."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum("o_totalprice").alias("rev"),
        F.count(F.lit(1)).cast("double").alias("cnt"),
    )
    w = Window.orderBy("d")
    obs = daily.select(
        F.col("rev").alias("y"),
        F.lag("rev", 1).over(w).alias("u"),
        F.lag("cnt", 1).over(w).alias("v"),
    ).where(F.col("u").isNotNull())
    m = obs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("u").alias("s1"),
        F.sum("v").alias("s2"),
        F.sum(F.col("u") * F.col("u")).alias("s11"),
        F.sum(F.col("u") * F.col("v")).alias("s12"),
        F.sum(F.col("v") * F.col("v")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("u") * F.col("y")).alias("s1y"),
        F.sum(F.col("v") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    fit = m.selectExpr(
        "n",
        "sy",
        "s1y",
        "s2y",
        "syy",
        f"{_ADF_B0} / {_ADF_DET} AS b0",
        f"{_ADF_B1} / {_ADF_DET} AS b1",
        f"{_ADF_B2} / {_ADF_DET} AS b2",
        "(sy * s11 - s1 * s1y) / (n * s11 - s1 * s1) AS r0",
        "(n * s1y - s1 * sy) / (n * s11 - s1 * s1) AS r1",
    )
    rss_u = (
        F.col("syy")
        - F.col("b0") * F.col("sy")
        - F.col("b1") * F.col("s1y")
        - F.col("b2") * F.col("s2y")
    )
    rss_r = (
        F.col("syy") - F.col("r0") * F.col("sy") - F.col("r1") * F.col("s1y")
    )
    f_stat = (rss_r - rss_u) / (rss_u / (F.col("n") - 3))
    return fit.select(
        F.col("n").cast("long").alias("n_obs"),
        F.round(rss_r / rss_u, 6).alias("rss_ratio"),
        F.round(f_stat, 4).alias("f_stat"),
        (f_stat > 3.85).alias("granger_5pct"),
    )


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing (double exponential), finite-memory banded form
# ---------------------------------------------------------------------------

_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3
_HOLT_K = 60  # |M^k| ~ 0.707^k (sqrt of det M) -> ~1e-9 at k=60
_HOLT_H = 7  # forecast horizon, days
_HOLT_TAIL = 15


def _holt_coefs() -> list[tuple[int, float, float]]:
    """Lag-k weights of x_(t-k) in (level_t, trend_t): the coupled Holt
    recursion s_t = M s_(t-1) + v x_t unrolls to s_t = Σ M^k v x_(t-k)
    (+ a vanishing initial term), with M = [[1-α, 1-α], [-αβ, 1-αβ]],
    v = (α, αβ). Computed ONCE in plain Python and embedded as double
    literals in BOTH engines (repr round-trips exactly), so the banded
    join is hash-checkable — the EWMA finite-memory move generalized
    to a matrix recursion."""
    a, b = _HOLT_ALPHA, _HOLT_BETA
    m = ((1 - a, 1 - a), (-a * b, 1 - a * b))
    cur = (a, a * b)
    out = []
    for k in range(_HOLT_K):
        out.append((k, cur[0], cur[1]))
        cur = (
            m[0][0] * cur[0] + m[0][1] * cur[1],
            m[1][0] * cur[0] + m[1][1] * cur[1],
        )
    return out


def _holt_oracle() -> str:
    values = ",\n           ".join(
        f"({k}, {wl!r}, {wb!r})" for k, wl, wb in _holt_coefs()
    )
    return f"""
WITH daily AS (
    SELECT o_orderdate AS d, avg(o_totalprice) AS x
    FROM orders GROUP BY o_orderdate
),
idx AS (
    SELECT d, x, row_number() OVER (ORDER BY d) AS t FROM daily
),
coefs (k, wl, wb) AS (
    VALUES {values}
),
s AS (
    SELECT a.d, a.t,
           sum(c.wl * b.x) AS lvl,
           sum(c.wb * b.x) AS tr
    FROM idx a
    JOIN idx b ON b.t <= a.t AND a.t - b.t < {_HOLT_K}
    JOIN coefs c ON c.k = a.t - b.t
    WHERE a.t >= {_HOLT_K}
    GROUP BY a.d, a.t
)
SELECT * FROM (
    SELECT CAST(d AS VARCHAR) AS day,
           round(lvl, 2) AS level,
           round(tr, 4) AS trend,
           round(lvl + {_HOLT_H} * tr, 2) AS forecast_{_HOLT_H}d
    FROM s ORDER BY d DESC LIMIT {_HOLT_TAIL}
) ORDER BY day
"""


@register(
    "holt_linear_trend",
    oracle=_holt_oracle(),
    tags=("stats", "timeseries", "forecast"),
)
def holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing of the daily
    mean order value, with the h=7-day-ahead forecast l_t + h·b_t —
    the workhorse short-horizon forecaster between the EWMA level
    tracker (no trend) and full Holt-Winters (adds seasonality;
    seasonal_decomposition covers that axis separately).

    The COUPLED recursion (level feeds trend feeds level) is made
    distributable the same finite-memory way as the EWMA chart, but
    via the matrix form: s_t = M s_(t-1) + v x_t unrolls to
    Σ_k M^k v x_(t-k), and the 2-vector coefficients M^k v (spectral
    radius √(1-α) ≈ 0.707, ~1e-9 by lag 60) are precomputed in plain
    Python and embedded as identical double literals in both engines.
    The statistic is DEFINED as the 60-lag truncation on days with a
    full window (the EWMA/kcore fixed-unroll discipline) — corpus
    work is one groupBy(day); the smoother is a day×lag banded join
    against a 60-row broadcast coefficient table."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.avg("o_totalprice").alias("x")
    )
    idx = daily.select(
        "d", "x", F.row_number().over(Window.orderBy("d")).alias("t")
    )
    coefs = F.broadcast(
        spark.createDataFrame(
            _holt_coefs(), "k int, wl double, wb double"
        )
    )
    a, b = idx.alias("a"), F.broadcast(idx.alias("b"))
    s = (
        a.join(
            b,
            (F.col("b.t") <= F.col("a.t"))
            & (F.col("a.t") - F.col("b.t") < _HOLT_K),
        )
        .join(coefs, F.col("k") == F.col("a.t") - F.col("b.t"))
        .where(F.col("a.t") >= _HOLT_K)
        .groupBy("a.d", "a.t")
        .agg(
            F.sum(F.col("wl") * F.col("b.x")).alias("lvl"),
            F.sum(F.col("wb") * F.col("b.x")).alias("tr"),
        )
    )
    return (
        s.orderBy(F.col("d").desc())
        .limit(_HOLT_TAIL)
        .select(
            F.col("d").cast("string").alias("day"),
            F.round("lvl", 2).alias("level"),
            F.round("tr", 4).alias("trend"),
            F.round(F.col("lvl") + _HOLT_H * F.col("tr"), 2).alias(
                f"forecast_{_HOLT_H}d"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Cochran-Mantel-Haenszel stratified 2x2 association test
# ---------------------------------------------------------------------------

_CMH_ORACLE = """
WITH base AS (
    SELECT c.c_nationkey AS stratum,
           CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS x,
           CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
cells AS (
    SELECT stratum,
           sum(x * y)::DOUBLE AS a,
           sum(x)::DOUBLE AS n1,
           sum(1 - x)::DOUBLE AS n0,
           sum(y)::DOUBLE AS m1,
           sum(1 - y)::DOUBLE AS m0,
           count(*)::DOUBLE AS n
    FROM base GROUP BY stratum
),
terms AS (
    SELECT a, n1 * m1 / n AS e,
           n1 * n0 * m1 * m0 / (n * n * (n - 1)) AS v
    FROM cells WHERE n > 1
),
agg AS (
    SELECT count(*)::BIGINT AS n_strata,
           sum(a) AS sa, sum(e) AS se, sum(v) AS sv
    FROM terms
)
SELECT n_strata,
       sa::BIGINT AS observed_exposed_cases,
       round(se, 4) AS expected_exposed_cases,
       round(power(abs(sa - se) - 0.5, 2) / sv, 4) AS cmh_chi2,
       (power(abs(sa - se) - 0.5, 2) / sv > 3.841) AS assoc_5pct
FROM agg
"""


@register(
    "cmh_stratified_association",
    oracle=_CMH_ORACLE,
    tags=("stats", "hypothesis-test", "stratified"),
)
def cmh_stratified_association(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran-Mantel-Haenszel test (continuity-corrected, 1 df) for
    the segment→urgent-priority association ACROSS nation strata — the
    confounder-adjusted version of the plain chi-square: a pooled 2×2
    can show association that is pure Simpson's-paradox mixing, while
    CMH compares observed vs expected WITHIN each stratum and pools
    the per-stratum hypergeometric variances. The third rung of the
    adjusted-comparison ladder (DiD removes time trends, propensity
    stratification balances continuous covariates, CMH handles a
    categorical confounder exactly).

    Plan shape: one broadcast fact-dim join, one stratum-grain
    conditional aggregation (the only corpus shuffle), arithmetic on
    the |strata|-row cell table, 1-row fold."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    base = o.join(
        F.broadcast(c.select("c_custkey", "c_nationkey", "c_mktsegment")),
        o["o_custkey"] == c["c_custkey"],
    ).select(
        F.col("c_nationkey").alias("stratum"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias(
            "x"
        ),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("y"),
    )
    cells = base.groupBy("stratum").agg(
        F.sum(F.col("x") * F.col("y")).cast("double").alias("a"),
        F.sum("x").cast("double").alias("n1"),
        F.sum(1 - F.col("x")).cast("double").alias("n0"),
        F.sum("y").cast("double").alias("m1"),
        F.sum(1 - F.col("y")).cast("double").alias("m0"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    terms = cells.where(F.col("n") > 1).select(
        "a",
        (F.col("n1") * F.col("m1") / F.col("n")).alias("e"),
        (
            F.col("n1")
            * F.col("n0")
            * F.col("m1")
            * F.col("m0")
            / (F.col("n") * F.col("n") * (F.col("n") - 1))
        ).alias("v"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum("a").alias("sa"),
        F.sum("e").alias("se"),
        F.sum("v").alias("sv"),
    )
    chi2 = F.pow(F.abs(F.col("sa") - F.col("se")) - 0.5, 2) / F.col("sv")
    return agg.select(
        "n_strata",
        F.col("sa").cast("long").alias("observed_exposed_cases"),
        F.round("se", 4).alias("expected_exposed_cases"),
        F.round(chi2, 4).alias("cmh_chi2"),
        (chi2 > 3.841).alias("assoc_5pct"),
    )


# ---------------------------------------------------------------------------
# Laspeyres / Paasche / Fisher price indices (base year vs next year)
# ---------------------------------------------------------------------------

_PI_ORACLE = """
WITH li AS (
    SELECT l.l_partkey AS part,
           year(o.o_orderdate) AS yr,
           l.l_extendedprice, l.l_quantity
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
yrs AS (SELECT min(yr) AS y0 FROM li),
py AS (
    SELECT part, yr,
           sum(l_extendedprice) / sum(l_quantity) AS p,
           sum(l_quantity) AS q
    FROM li GROUP BY part, yr
),
paired AS (
    SELECT b.part, b.p AS p0, b.q AS q0, c.p AS p1, c.q AS q1
    FROM py b
    JOIN py c ON c.part = b.part AND c.yr = b.yr + 1
    CROSS JOIN yrs WHERE b.yr = yrs.y0
)
SELECT count(*)::BIGINT AS n_parts,
       round(sum(p1 * q0) / sum(p0 * q0), 6) AS laspeyres,
       round(sum(p1 * q1) / sum(p0 * q1), 6) AS paasche,
       round(sqrt((sum(p1 * q0) / sum(p0 * q0))
                  * (sum(p1 * q1) / sum(p0 * q1))), 6) AS fisher
FROM paired
"""


@register(
    "price_index_fisher",
    oracle=_PI_ORACLE,
    tags=("analytics", "index", "economics"),
)
def price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche, and Fisher ideal price indices between the
    corpus's base year and the following year — the canonical
    "did prices or volumes move" decomposition a revenue YoY number
    hides: Laspeyres weights price relatives by BASE-year quantities
    (overstates inflation under substitution), Paasche by CURRENT-year
    quantities (understates it), Fisher is their geometric mean (the
    superlative index national accounts use). Parts must trade in both
    years (the matched-basket rule).

    Plan shape: one fact join + one (part, year) aggregation — the
    only corpus shuffles; the index arithmetic runs on the part-grain
    paired table and folds to one row."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("yr")
    )
    base = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("l_partkey").alias("part"),
        "yr",
        "l_extendedprice",
        "l_quantity",
    )
    py = base.groupBy("part", "yr").agg(
        (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("p"),
        F.sum("l_quantity").alias("q"),
    )
    y0 = F.broadcast(base.agg(F.min("yr").alias("y0")))
    b = py.alias("b")
    c = py.alias("c")
    paired = (
        b.crossJoin(y0)
        .where(F.col("b.yr") == F.col("y0"))
        .join(
            c,
            (F.col("c.part") == F.col("b.part"))
            & (F.col("c.yr") == F.col("b.yr") + 1),
        )
        .select(
            F.col("b.p").alias("p0"),
            F.col("b.q").alias("q0"),
            F.col("c.p").alias("p1"),
            F.col("c.q").alias("q1"),
        )
    )
    lasp = F.sum(F.col("p1") * F.col("q0")) / F.sum(
        F.col("p0") * F.col("q0")
    )
    paas = F.sum(F.col("p1") * F.col("q1")) / F.sum(
        F.col("p0") * F.col("q1")
    )
    return paired.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    )
