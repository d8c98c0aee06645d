"""Event-stream queries (batch form): date bucketing, JSON extraction,
sessionization. The streaming/ package runs the same logic under
Structured Streaming; these batch queries are their oracle-checkable
equivalents (SURVEY.md §2.8).

``events.ts`` is stored as nanosecond parquet timestamps; sources.tables
normalizes to microseconds, matching DuckDB's read of the same file, so
epoch values agree exactly.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emails_to_vector_db_spark.plans.registry import register
from emails_to_vector_db_spark.sources.tables import load_table, table_path
from emails_to_vector_db_spark.sources.warehouse import publish_landing


@contextlib.contextmanager
def _stream_partitions(spark: SparkSession, n: int = 32):
    """Cap shuffle partitions for the duration of a bounded streaming run:
    state-store count == shuffle partitions, and a vanilla driver session
    defaults to 200 — 6× more state tasks than cores for fixture-sized
    micro-batches. Restored afterwards so batch queries keep the session
    setting. (A real deployment sets this per-job at submit time.)"""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)

_HOURLY_ORACLE = """
SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch,
       event_type,
       count(*)::BIGINT         AS n_events,
       round(sum(value), 4)     AS total_value
FROM events
GROUP BY 1, 2
"""


@register("hourly_event_counts", oracle=_HOURLY_ORACLE, tags=("events", "date", "agg"), bench=True)
def hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour counts per event type — the batch equivalent of the
    streaming tumbling-window aggregation (F.window under readStream)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


_JSON_ORACLE = """
SELECT event_type,
       count(*)::BIGINT                                   AS n_events,
       round(avg(json_extract_string(props, '$.k')::INT), 6) AS avg_k,
       max(json_extract_string(props, '$.k')::INT)        AS max_k
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
GROUP BY event_type
"""


@register("props_json_stats", oracle=_JSON_ORACLE, tags=("events", "json"))
def props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over the ``props`` string column (SURVEY.md F5 —
    the reference's JSON path extraction at ``rag.py:120`` generalized)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.where(k.isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg(k), 6).alias("avg_k"),
            F.max(k).alias("max_k"),
        )
    )


_SESSION_ORACLE = """
WITH with_gap AS (
    SELECT user_id, ts,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > 1800000000
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
)
SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*)::BIGINT AS n_events
FROM with_gap
GROUP BY user_id
"""


@register("user_sessionization", oracle=_SESSION_ORACLE, tags=("events", "window", "session"))
def user_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity) via lag + cumulative
    flag — the batch twin of ``F.session_window`` in streaming/. Partitions
    by user_id, so it scales horizontally with the user population."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "streaming_hourly_counts",
    oracle=_HOURLY_ORACLE,  # bounded stream == batch: same oracle
    tags=("events", "streaming", "window"),
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME tumbling-window aggregation executed through Structured
    Streaming (file source, availableNow trigger, memory sink) — the
    bounded stream must produce exactly the batch answer, and the oracle
    checks it against DuckDB like any other query (SURVEY.md §2.8)."""
    from emails_to_vector_db_spark.streaming.ingest import (
        read_events_stream,
        tumbling_counts,
    )

    name = "stream_hourly_counts_tbl"
    with _stream_partitions(spark):
        stream = tumbling_counts(read_events_stream(spark, sf_dir))
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.table(name)


_STREAM_SESSION_ORACLE = """
WITH with_gap AS (
    SELECT user_id, ts,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > 1800000000
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
)
SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*)::BIGINT AS n_events
FROM with_gap
GROUP BY user_id
"""


@register(
    "streaming_session_counts",
    oracle=_STREAM_SESSION_ORACLE,
    tags=("events", "streaming", "session"),
)
def streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``F.session_window`` under Structured Streaming, aggregated to
    per-user session counts — must equal the batch lag/cumsum
    sessionization (user_sessionization) exactly, and the oracle checks it
    against the same DuckDB SQL. (Ties: events at identical (user, ts)
    merge into one session either way because the gap is 0.)"""
    from emails_to_vector_db_spark.streaming.ingest import (
        read_events_stream,
        session_counts,
    )

    name = "stream_session_counts_tbl"
    with _stream_partitions(spark):
        stream = session_counts(read_events_stream(spark, sf_dir))
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
    )


_LATEST_ORACLE = """
SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
FROM events
ORDER BY ts DESC, event_id DESC
LIMIT 10
"""


@register("latest_events", oracle=_LATEST_ORACLE, tags=("events", "topk", "T2", "T3"))
def latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency slice, newest first — the reference's last-N mailbox slice +
    reversed iteration (``email_fetching.py:33-34``) as a descending top-k
    (TakeOrderedAndProject; never a full sort)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(10)
        .select("event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us"))
    )


_VALUE_BUCKETS_ORACLE = """
SELECT (CASE WHEN value < 0 THEN -1
             WHEN value >= 100 THEN 10
             ELSE floor(value / 10) END)::INT AS bucket,
       count(*)::BIGINT     AS n,
       round(min(value), 6) AS min_v,
       round(max(value), 6) AS max_v
FROM events
GROUP BY 1
"""


@register("event_value_histogram", oracle=_VALUE_BUCKETS_ORACLE, tags=("events", "agg"))
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of the value column (10 buckets over [0,100),
    with underflow/overflow buckets)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 0, F.lit(-1))
        .when(F.col("value") >= 100, F.lit(10))
        .otherwise(F.floor(F.col("value") / 10))
        .cast("int")
    )
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 6).alias("min_v"),
        F.round(F.max("value"), 6).alias("max_v"),
    )


_STREAM_JOIN_ORACLE = """
WITH clicks AS (
    SELECT user_id, ts FROM events WHERE event_type = 'click'
),
purchases AS (
    SELECT user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, count(*)::BIGINT AS n_pairs
FROM clicks c
JOIN purchases p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
GROUP BY c.user_id
"""


@register(
    "streaming_click_purchase_join",
    oracle=_STREAM_JOIN_ORACLE,
    tags=("events", "streaming", "stream-stream-join"),
)
def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (clicks ⋈ purchases within a
    1-hour horizon per user) executed through Structured Streaming, then
    aggregated to per-user pair counts — the bounded stream must produce
    exactly the batch interval-join answer, hash-checked against DuckDB.
    The interval condition bounds both join state stores (SURVEY.md §2.8;
    the reference has no streaming at all)."""
    from emails_to_vector_db_spark.streaming.ingest import (
        click_purchase_stream_join,
        read_events_stream,
    )

    name = "stream_click_purchase_tbl"
    with _stream_partitions(spark):
        joined = click_purchase_stream_join(read_events_stream(spark, sf_dir))
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return (
        spark.table(name)
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


_TWA_ORACLE = """
WITH seq AS (
    SELECT user_id, value,
           epoch_us(ts) AS t_us,
           lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS t_next_us
    FROM events
)
SELECT user_id,
       count(*)::BIGINT AS n_intervals,
       round(sum(value * (t_next_us - t_us) / 1e6)
             / sum((t_next_us - t_us) / 1e6), 6) AS time_weighted_avg
FROM seq
WHERE t_next_us IS NOT NULL
GROUP BY user_id
"""


@register(
    "time_weighted_avg_value",
    oracle=_TWA_ORACLE,
    tags=("events", "window", "timeseries"),
)
def time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TIME-weighted mean of the event value — each reading
    weighted by how long it was current (piecewise-constant signal
    integration, the monitoring/metering aggregate a plain avg gets
    wrong when sampling is irregular).

    Plan: one lead() window partitioned by user_id (the same exchange
    every other per-user pass in this module uses), durations as exact
    epoch-microsecond integers, then a map-side-combinable groupBy.
    Only the Σ(v·dt)/Σdt ratio is emitted — dimensionally value-scale,
    so 6dp rounding sits far above float-association noise in the big
    raw sums.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts"))
    seq = ev.select(
        "user_id",
        "value",
        t_us.alias("t_us"),
        F.lead(t_us).over(w).alias("t_next_us"),
    ).where(F.col("t_next_us").isNotNull())
    dt_s = (F.col("t_next_us") - F.col("t_us")) / F.lit(1e6)
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.round(
            F.sum(F.col("value") * dt_s) / F.sum(dt_s), 6
        ).alias("time_weighted_avg"),
    )


_SCD2_MAX_USERS = 40

_SCD2_ORACLE = f"""
WITH hist AS (
    SELECT user_id, event_id, value,
           epoch_us(ts) AS vf,
           lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS vt
    FROM events WHERE user_id < {_SCD2_MAX_USERS}
)
SELECT user_id, event_id,
       round(value, 6) AS value,
       vf AS valid_from_us,
       coalesce(vt, 253402300800000000) AS valid_to_us,
       CASE WHEN vt IS NULL THEN 1 ELSE 0 END AS is_current
FROM hist
"""


@register(
    "scd2_user_value_history",
    oracle=_SCD2_ORACLE,
    tags=("events", "scd2", "window", "warehouse"),
)
def scd2_user_value_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build: the per-user value
    change log becomes a validity-interval table — each reading valid
    [its own timestamp, next reading's timestamp), the open current row
    capped at the conventional year-9999 sentinel with is_current
    flagged. This is THE dimension-maintenance shape a warehouse layers
    over CDC feeds (the batch complement of merge_upsert_customers'
    current-state view and the time-travel reads).

    Plan: one lead() window on the same per-user exchange every other
    pass in this module rides; intervals are exact epoch-microsecond
    integers so the hash needs no float tolerance.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id") < _SCD2_MAX_USERS
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts"))
    vt = F.lead(t_us).over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.round("value", 6).alias("value"),
        t_us.alias("valid_from_us"),
        F.coalesce(vt, F.lit(253402300800000000)).alias("valid_to_us"),
        F.when(vt.isNull(), 1).otherwise(0).alias("is_current"),
    )


_SEQ_TOP = 15

_SEQ_ORACLE = f"""
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS next_type
    FROM events
)
SELECT event_type || ' -> ' || next_type AS transition,
       count(*)::BIGINT AS n_transitions,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM seq WHERE next_type IS NOT NULL
GROUP BY 1
ORDER BY n_transitions DESC, transition ASC
LIMIT {_SEQ_TOP}
"""


@register(
    "event_sequence_transitions",
    oracle=_SEQ_ORACLE,
    tags=("events", "sequence", "window"),
)
def event_sequence_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining, first order: counts of consecutive
    event-type transitions per user (the Markov transition table behind
    next-action prediction and funnel discovery — the generalization of
    the fixed 3-step funnel query).

    Plan: one lead() window on the user_id exchange, then a map-side-
    combinable groupBy over |types|² keys. Higher-order patterns chain
    more lead()s on the SAME window — no extra shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).where(F.col("next_type").isNotNull())
    return (
        seq.groupBy(
            F.concat_ws(" -> ", "event_type", "next_type").alias("transition")
        )
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.col("n_transitions").desc(), F.col("transition").asc())
        .limit(_SEQ_TOP)
    )


_LATENCY_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type, ts,
           max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_us
    FROM events
),
conv AS (
    SELECT (epoch_us(ts) - last_click_us) / 1e6 AS latency_s
    FROM seq
    WHERE event_type = 'purchase' AND last_click_us IS NOT NULL
)
SELECT count(*)::BIGINT AS n_conversions,
       round(quantile_cont(latency_s, 0.5), 6) AS p50_s,
       round(quantile_cont(latency_s, 0.9), 6) AS p90_s,
       round(avg(latency_s), 6) AS mean_s
FROM conv
"""


@register(
    "funnel_conversion_latency",
    oracle=_LATENCY_ORACLE,
    tags=("events", "funnel", "latency", "window"),
)
def funnel_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion LATENCY: for every purchase preceded by a click, the
    time since that user's most recent prior click — p50/p90/mean —
    the speed companion to event_funnel_conversion's rates (funnels
    tell you IF users convert; this tells you how long the decision
    takes, which gates attribution-window choices).

    Plan: the same single per-user ordered window as the as-of join
    (a running max over click timestamps, ROWS-to-1-PRECEDING so a
    purchase can't attribute to itself), then exact interpolated
    percentiles over the small conversion set.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t_us = F.unix_micros(F.col("ts"))
    seq = ev.select(
        "event_type",
        t_us.alias("t_us"),
        F.max(
            F.when(F.col("event_type") == "click", t_us)
        ).over(w).alias("last_click_us"),
    )
    conv = seq.where(
        (F.col("event_type") == "purchase")
        & F.col("last_click_us").isNotNull()
    ).select(
        ((F.col("t_us") - F.col("last_click_us")) / 1e6).alias("latency_s")
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.round(F.percentile("latency_s", F.lit(0.5)), 6).alias("p50_s"),
        F.round(F.percentile("latency_s", F.lit(0.9)), 6).alias("p90_s"),
        F.round(F.avg("latency_s"), 6).alias("mean_s"),
    )


_ATTR_ORACLE = """
WITH seq AS (
    SELECT user_id, event_id, event_type, value, ts,
           epoch_us(ts) AS t_us
    FROM events
),
purchases AS (
    SELECT user_id, event_id AS p_id, value AS p_value, t_us AS p_us
    FROM seq WHERE event_type = 'purchase'
),
clicks AS (
    SELECT user_id, event_id AS c_id, t_us AS c_us
    FROM seq WHERE event_type = 'click'
),
touch AS (
    SELECT p.p_id, p.p_value, c.c_id, c.c_us,
           row_number() OVER (PARTITION BY p.p_id ORDER BY c.c_us ASC,
                              c.c_id ASC) AS rn_first,
           row_number() OVER (PARTITION BY p.p_id ORDER BY c.c_us DESC,
                              c.c_id DESC) AS rn_last,
           count(*) OVER (PARTITION BY p.p_id) AS n_touch
    FROM purchases p JOIN clicks c
      ON c.user_id = p.user_id AND c.c_us < p.p_us
),
attributed AS (
    SELECT 'first_touch' AS model,
           sum(CASE WHEN rn_first = 1 THEN p_value ELSE 0 END) AS credit,
           count(DISTINCT p_id)::BIGINT AS n_purchases
    FROM touch
    UNION ALL
    SELECT 'last_touch',
           sum(CASE WHEN rn_last = 1 THEN p_value ELSE 0 END),
           count(DISTINCT p_id)::BIGINT
    FROM touch
    UNION ALL
    SELECT 'linear', sum(p_value / n_touch), count(DISTINCT p_id)::BIGINT
    FROM touch
)
SELECT model, n_purchases, round(credit, 6) AS attributed_value
FROM attributed
"""


@register(
    "attribution_model_comparison",
    oracle=_ATTR_ORACLE,
    tags=("events", "attribution", "window"),
)
def attribution_model_comparison(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Marketing attribution, three models side by side: each purchase's
    value credited to its preceding clicks under FIRST-touch,
    LAST-touch, and LINEAR (equal-split) rules — same touchpoint set,
    three credit assignments, so the totals differ only by model (all
    three sum to the same value over fully-credited purchases, a
    property the identical n_purchases column exposes).

    Plan: one purchase×prior-click join per user (co-partitioned on
    user_id; prior-click fan-in bounded by per-user activity), two
    rankings + one count over the per-purchase touch window, then a
    three-branch rollup of the SAME touch table — no rescans per model.
    """
    ev = load_table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts"))
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.col("value").alias("p_value"),
        t_us.alias("p_us"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("c_id"),
        t_us.alias("c_us"),
    )
    touch = purchases.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_us") < F.col("p_us")),
    )
    w_first = Window.partitionBy("p_id").orderBy(
        F.col("c_us").asc(), F.col("c_id").asc()
    )
    w_last = Window.partitionBy("p_id").orderBy(
        F.col("c_us").desc(), F.col("c_id").desc()
    )
    w_all = Window.partitionBy("p_id")
    t = (
        touch.withColumn("rn_first", F.row_number().over(w_first))
        .withColumn("rn_last", F.row_number().over(w_last))
        .withColumn("n_touch", F.count(F.lit(1)).over(w_all))
    )
    from pyspark import StorageLevel

    t = t.persist(StorageLevel.MEMORY_AND_DISK)
    first = t.agg(
        F.lit("first_touch").alias("model"),
        F.countDistinct("p_id").alias("n_purchases"),
        F.round(
            F.sum(F.when(F.col("rn_first") == 1, F.col("p_value")).otherwise(0.0)),
            6,
        ).alias("attributed_value"),
    ).select("model", "n_purchases", "attributed_value")
    last = t.agg(
        F.lit("last_touch").alias("model"),
        F.countDistinct("p_id").alias("n_purchases"),
        F.round(
            F.sum(F.when(F.col("rn_last") == 1, F.col("p_value")).otherwise(0.0)),
            6,
        ).alias("attributed_value"),
    ).select("model", "n_purchases", "attributed_value")
    linear = t.agg(
        F.lit("linear").alias("model"),
        F.countDistinct("p_id").alias("n_purchases"),
        F.round(F.sum(F.col("p_value") / F.col("n_touch")), 6).alias(
            "attributed_value"
        ),
    ).select("model", "n_purchases", "attributed_value")
    return first.unionByName(last).unionByName(linear)


# ---------------------------------------------------------------------------
# First-order Markov next-event prediction, evaluated on a time split
# ---------------------------------------------------------------------------

_MARKOV_SPLIT_Q = 0.8

_MARKOV_ORACLE = f"""
WITH ev AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events
),
cut AS (SELECT quantile_cont(t, {_MARKOV_SPLIT_Q}) AS c FROM ev),
pairs AS (
    SELECT user_id, event_type AS prev_type,
           lead(event_type) OVER w AS next_type,
           lead(t) OVER w AS next_t
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
),
train AS (
    SELECT prev_type, next_type, count(*)::BIGINT AS n
    FROM pairs CROSS JOIN cut
    WHERE next_type IS NOT NULL AND next_t <= cut.c
    GROUP BY prev_type, next_type
),
model AS (
    SELECT prev_type, next_type AS predicted
    FROM (
        SELECT prev_type, next_type,
               row_number() OVER (
                   PARTITION BY prev_type
                   ORDER BY n DESC, next_type ASC
               ) AS rn
        FROM train
    ) WHERE rn = 1
),
test AS (
    SELECT p.prev_type, p.next_type
    FROM pairs p CROSS JOIN cut
    WHERE p.next_type IS NOT NULL AND p.next_t > cut.c
)
SELECT t.prev_type,
       m.predicted,
       count(*)::BIGINT AS n_test,
       round(avg(CASE WHEN t.next_type = m.predicted
                      THEN 1.0 ELSE 0.0 END), 6) AS accuracy
FROM test t JOIN model m USING (prev_type)
GROUP BY t.prev_type, m.predicted
"""


@register(
    "markov_next_event_accuracy",
    oracle=_MARKOV_ORACLE,
    tags=("events", "sequence", "ml", "eval"),
)
def markov_next_event_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-order Markov next-event prediction evaluated out-of-time:
    transition counts fit on events before the {_MARKOV_SPLIT_Q:.0%}
    timestamp quantile, the per-state argmax becomes the predictor,
    and per-state accuracy is measured on transitions AFTER the cut —
    turning the descriptive transition table
    (event_sequence_transitions) into an evaluated sequence model with
    the same temporal-split discipline as the walk-forward backtest.

    Plan shape: consecutive pairs come from ONE lead() window on the
    user_id exchange (shared with every sequence query); the model is
    a |types|²-row aggregate with a bounded per-state argmax window;
    test scoring is a broadcast join of the |types|-row predictor onto
    the pair stream. The time cut is one exact-percentile scalar
    broadcast — at 100 TB an approx-percentile cut with a recorded
    epsilon replaces it (orders_equi_depth_approx precedent)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t"),
    )
    cut = F.broadcast(
        ev.agg(
            F.percentile(F.col("t"), F.lit(_MARKOV_SPLIT_Q)).alias("c")
        )
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    from pyspark import StorageLevel

    # train and test both consume the pair stream — without the persist
    # the lead()-window shuffle (the corpus-scale stage) runs twice
    pairs = (
        ev.select(
            F.col("event_type").alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
            F.lead("t").over(w).alias("next_t"),
        )
        .where(F.col("next_type").isNotNull())
        .crossJoin(cut)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    train = (
        pairs.where(F.col("next_t") <= F.col("c"))
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rn = F.row_number().over(
        Window.partitionBy("prev_type").orderBy(
            F.col("n").desc(), F.col("next_type").asc()
        )
    )
    model = (
        train.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select("prev_type", F.col("next_type").alias("predicted"))
    )
    test = pairs.where(F.col("next_t") > F.col("c")).select(
        "prev_type", "next_type"
    )
    return (
        test.join(F.broadcast(model), "prev_type")
        .groupBy("prev_type", "predicted")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.round(
                F.avg(
                    F.when(
                        F.col("next_type") == F.col("predicted"), 1.0
                    ).otherwise(0.0)
                ),
                6,
            ).alias("accuracy"),
        )
    )


# ---------------------------------------------------------------------------
# Top opening paths: each user's first three events as a journey string
# ---------------------------------------------------------------------------

_PATH_LEN = 3
_PATH_TOP = 15

_PATH_ORACLE = f"""
WITH ranked AS (
    SELECT user_id, event_type,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS rn,
           count(*) OVER (PARTITION BY user_id) AS n_ev
    FROM events
),
paths AS (
    SELECT user_id,
           min(CASE WHEN rn = 1 THEN event_type END)
               || ' > ' || min(CASE WHEN rn = 2 THEN event_type END)
               || ' > ' || min(CASE WHEN rn = 3 THEN event_type END)
               AS path
    FROM ranked
    WHERE n_ev >= {_PATH_LEN} AND rn <= {_PATH_LEN}
    GROUP BY user_id
)
SELECT path, count(*)::BIGINT AS n_users
FROM paths
GROUP BY path
ORDER BY n_users DESC, path ASC
LIMIT {_PATH_TOP}
"""


@register(
    "user_path_top_sequences",
    oracle=_PATH_ORACLE,
    tags=("events", "sequence", "path-analysis"),
)
def user_path_top_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top opening journeys: every user's first {_PATH_LEN} events
    (users with fewer drop out) concatenated into a path string,
    ranked by user count — WHOLE-path analysis (the Sankey/funnel-
    discovery view) where event_sequence_transitions sees only
    adjacent pairs and markov_next_event_accuracy only first-order
    state: 'click > click > purchase' vs 'click > purchase > click'
    are different journeys with identical transition multisets.

    Plan shape: one ranking window on the user_id exchange (the
    sequence-family shared shuffle), the per-user path assembled by a
    conditional-min pivot over the first {_PATH_LEN} ranks (bounded
    groups, no collect_list ordering hazard), then a map-side-
    combinable path census with TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = Window.partitionBy("user_id")
    ranked = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_ev"),
    )
    slot = [
        F.min(
            F.when(F.col("rn") == i, F.col("event_type"))
        )
        for i in range(1, _PATH_LEN + 1)
    ]
    paths = (
        ranked.where(
            (F.col("n_ev") >= _PATH_LEN) & (F.col("rn") <= _PATH_LEN)
        )
        .groupBy("user_id")
        .agg(
            F.concat(
                slot[0], F.lit(" > "), slot[1], F.lit(" > "), slot[2]
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(_PATH_TOP)
    )


# ---------------------------------------------------------------------------
# Sequential A/B testing: daily-grain SPRT on the treatment conversion rate
# ---------------------------------------------------------------------------

_SPRT_LIFT = 1.2
_SPRT_AB = 19.0  # alpha = beta = 0.05 -> ln(19), ln(1/19) boundaries

_SPRT_ORACLE = f"""
WITH ev AS (
    SELECT user_id, event_type, ts::DATE AS d FROM events
),
p0 AS (
    SELECT avg(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END)
        AS p
    FROM ev WHERE user_id % 2 = 0
),
daily AS (
    SELECT d, count(*)::BIGINT AS n_t,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
               AS x_t
    FROM ev WHERE user_id % 2 = 1 GROUP BY d
),
llr AS (
    SELECT d, n_t, x_t,
           sum(x_t * ln(({_SPRT_LIFT} * p.p) / p.p)
               + (n_t - x_t)
                 * ln((1 - {_SPRT_LIFT} * p.p) / (1 - p.p)))
               OVER (ORDER BY d) AS cum
    FROM daily CROSS JOIN p0 p
)
SELECT CAST(d AS VARCHAR) AS day, n_t AS n_events, x_t AS n_conversions,
       round(cum, 6) AS cum_llr,
       CASE WHEN cum >= ln({_SPRT_AB}) THEN 'accept_h1'
            WHEN cum <= ln(1.0 / {_SPRT_AB}) THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM llr
ORDER BY day
"""


@register(
    "sprt_ab_test",
    oracle=_SPRT_ORACLE,
    tags=("events", "experimentation", "stats", "sequential"),
)
def sprt_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test on the treatment arm's
    purchase conversion (H1: {_SPRT_LIFT}x the control rate,
    alpha=beta=0.05): the per-day cumulative log-likelihood ratio with
    accept/continue decisions — the early-stopping experimentation
    monitor that answers 'can we call this test yet' WITHOUT the
    peeking problem of repeated fixed-horizon tests (the LLR random
    walk is exactly what SPRT licenses you to watch daily).

    Plan shape: arms split by user hash; the corpus-scale work is one
    filtered groupBy(day); the cumulative LLR is a prefix-sum window
    over the DAY-level series (the CUSUM reformulation family — a
    sequential statistic expressed as cumulative windows, no
    recursion), and the control rate is a 1-row broadcast scalar."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.to_date("ts").alias("d")
    )
    conv = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    p0 = F.broadcast(
        ev.where(F.col("user_id") % 2 == 0).agg(
            F.avg(conv.cast("double")).alias("p")
        )
    )
    daily = (
        ev.where(F.col("user_id") % 2 == 1)
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_t"),
            F.sum(conv).alias("x_t"),
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    step = F.col("x_t") * F.log(
        (_SPRT_LIFT * F.col("p")) / F.col("p")
    ) + (F.col("n_t") - F.col("x_t")) * F.log(
        (1 - _SPRT_LIFT * F.col("p")) / (1 - F.col("p"))
    )
    llr = daily.crossJoin(p0).select(
        "d", "n_t", "x_t", F.sum(step).over(w).alias("cum")
    )
    import math

    return llr.select(
        F.col("d").cast("string").alias("day"),
        F.col("n_t").alias("n_events"),
        F.col("x_t").alias("n_conversions"),
        F.round("cum", 6).alias("cum_llr"),
        F.when(F.col("cum") >= math.log(_SPRT_AB), "accept_h1")
        .when(F.col("cum") <= math.log(1.0 / _SPRT_AB), "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Difference-in-differences estimate of the arm effect on event value
# ---------------------------------------------------------------------------

_DID_ORACLE = """
WITH ev AS (
    SELECT user_id % 2 AS arm, epoch_us(ts) AS t, value FROM events
),
cut AS (SELECT quantile_cont(t, 0.5) AS c FROM ev),
cells AS (
    SELECT arm, CASE WHEN t <= cut.c THEN 0 ELSE 1 END AS post,
           count(*)::DOUBLE AS n, avg(value) AS m, var_samp(value) AS v
    FROM ev CROSS JOIN cut GROUP BY 1, 2
),
w AS (
    SELECT max(CASE WHEN arm = 1 AND post = 1 THEN m END) AS tp,
           max(CASE WHEN arm = 1 AND post = 0 THEN m END) AS tr,
           max(CASE WHEN arm = 0 AND post = 1 THEN m END) AS cp,
           max(CASE WHEN arm = 0 AND post = 0 THEN m END) AS cr,
           sum(v / n) AS se2,
           sum(n)::BIGINT AS n_events
    FROM cells
)
SELECT n_events,
       round(tp - tr, 6) AS delta_treatment,
       round(cp - cr, 6) AS delta_control,
       round((tp - tr) - (cp - cr), 6) AS did,
       round(((tp - tr) - (cp - cr)) / sqrt(se2), 6) AS t_stat
FROM w
"""


@register(
    "did_arm_effect",
    oracle=_DID_ORACLE,
    tags=("events", "experimentation", "stats", "causal"),
)
def did_arm_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of the treatment arm's effect
    on event value across the median-timestamp cut: the treatment
    arm's pre/post change minus the control arm's (which removes any
    shared time trend), with a four-cell pooled standard error — the
    quasi-experimental complement to the randomized SPRT lane, for
    when assignment isn't randomized but a parallel-trends control
    exists.

    Plan shape: one 4-cell conditional aggregation over a single scan
    (count/mean/variance per arm x period), the median cut one exact-
    percentile scalar broadcast (approx at 100 TB, the recorded-epsilon
    precedent); the estimator and its t-statistic are arithmetic on
    the 4-row cell table."""
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("arm"),
        F.unix_micros("ts").alias("t"),
        "value",
    )
    cut = F.broadcast(
        ev.agg(F.percentile(F.col("t"), F.lit(0.5)).alias("c"))
    )
    cells = (
        ev.crossJoin(cut)
        .groupBy(
            "arm",
            F.when(F.col("t") <= F.col("c"), 0).otherwise(1).alias("post"),
        )
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )
    cell = lambda a, p: F.max(  # noqa: E731
        F.when((F.col("arm") == a) & (F.col("post") == p), F.col("m"))
    )
    w = cells.agg(
        cell(1, 1).alias("tp"),
        cell(1, 0).alias("tr"),
        cell(0, 1).alias("cp"),
        cell(0, 0).alias("cr"),
        F.sum(F.col("v") / F.col("n")).alias("se2"),
        F.sum("n").cast("long").alias("n_events"),
    )
    did = (F.col("tp") - F.col("tr")) - (F.col("cp") - F.col("cr"))
    return w.select(
        "n_events",
        F.round(F.col("tp") - F.col("tr"), 6).alias("delta_treatment"),
        F.round(F.col("cp") - F.col("cr"), 6).alias("delta_control"),
        F.round(did, 6).alias("did"),
        F.round(did / F.sqrt(F.col("se2")), 6).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# Streaming SPRT: the sequential test consumed as a real micro-batch stream
# ---------------------------------------------------------------------------

_STREAM_SPRT_VERSION = 1
_STREAM_SPRT_BATCHES = 4


def _stream_sprt_landing(sf_dir: str) -> str:
    """(event_id, user_id, event_type) as FOUR micro-batch files in
    ascending event_id order (sources/warehouse.py::publish_landing), so
    the DuckDB oracle can replay the batch boundaries exactly."""
    return publish_landing(
        f"stream_sprt_v{_STREAM_SPRT_VERSION}",
        table_path(sf_dir, "events"),
        ["event_id", "user_id", "event_type"],
        n_parts=_STREAM_SPRT_BATCHES,
    )


_STREAM_SPRT_ORACLE = f"""
WITH ordered AS (
    SELECT user_id, event_type,
           row_number() OVER (ORDER BY event_id) AS rn,
           count(*) OVER () AS n
    FROM events
),
batched AS (
    SELECT user_id, event_type,
           CAST(floor(({_STREAM_SPRT_BATCHES}.0 * (rn - 1)) / n) AS INT)
               AS batch_id
    FROM ordered
),
p0 AS (
    SELECT avg(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END)
        AS p
    FROM batched WHERE batch_id = 0 AND user_id % 2 = 0
),
per_batch AS (
    SELECT batch_id, count(*)::BIGINT AS n_t,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
               AS x_t
    FROM batched WHERE user_id % 2 = 1 AND batch_id > 0
    GROUP BY batch_id
),
llr AS (
    SELECT batch_id, n_t, x_t,
           sum(x_t * ln({_SPRT_LIFT})
               + (n_t - x_t)
                 * ln((1 - {_SPRT_LIFT} * p.p) / (1 - p.p)))
               OVER (ORDER BY batch_id) AS cum
    FROM per_batch CROSS JOIN p0 p
)
SELECT batch_id::BIGINT AS batch_id, n_t AS n_events,
       x_t AS n_conversions,
       round(cum, 6) AS cum_llr,
       CASE WHEN cum >= ln({_SPRT_AB}) THEN 'accept_h1'
            WHEN cum <= ln(1.0 / {_SPRT_AB}) THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM llr
ORDER BY batch_id
"""


@register(
    "streaming_sprt_monitor",
    oracle=_STREAM_SPRT_ORACLE,
    tags=("streaming", "experimentation", "sequential", "stats"),
)
def streaming_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SPRT consumed the way Wald meant it — as a STREAM: events
    arrive in micro-batches (file stream, availableNow, one file per
    trigger), batch 0 fixes the control conversion rate (the
    streaming_psi_monitor reference-batch discipline), and every later
    batch appends its treatment counts; the cumulative LLR and
    accept/continue decision re-derive per batch. Appended state is
    ONE ROW per batch (counts only), so the monitor's storage is
    O(batches), never O(events), and the deterministic batch sequence
    lets DuckDB replay the entire sequential test as a GROUP BY +
    prefix-sum — the streaming experimentation monitor, hash-checked."""
    import math
    import os
    import shutil

    landing = _stream_sprt_landing(sf_dir)
    work = landing.rstrip("/") + "__sprt_run"
    shutil.rmtree(work, ignore_errors=True)  # deterministic re-runs
    counts_dir = os.path.join(work, "counts")

    conv = F.when(F.col("event_type") == "purchase", 1).otherwise(0)

    def apply(batch: DataFrame, batch_id: int) -> None:
        (
            batch.agg(
                F.count(
                    F.when(
                        (F.col("user_id") % 2 == 0) & (conv == 1), 1
                    )
                ).alias("c_conv"),
                F.count(F.when(F.col("user_id") % 2 == 0, 1)).alias(
                    "c_n"
                ),
                F.count(
                    F.when(
                        (F.col("user_id") % 2 == 1) & (conv == 1), 1
                    )
                ).alias("x_t"),
                F.count(F.when(F.col("user_id") % 2 == 1, 1)).alias(
                    "n_t"
                ),
            )
            .select(F.lit(batch_id).alias("batch_id"), "*")
            .write.mode("append")
            .parquet(counts_dir)
        )

    q = (
        spark.readStream.schema(
            "event_id bigint, user_id bigint, event_type string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    counts = spark.read.parquet(counts_dir)
    p0 = F.broadcast(
        counts.where(F.col("batch_id") == 0).select(
            (F.col("c_conv") / F.col("c_n")).alias("p")
        )
    )
    w = Window.orderBy("batch_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    step = F.col("x_t") * F.log(F.lit(_SPRT_LIFT)) + (
        F.col("n_t") - F.col("x_t")
    ) * F.log((1 - _SPRT_LIFT * F.col("p")) / (1 - F.col("p")))
    llr = (
        counts.where(F.col("batch_id") > 0)
        .crossJoin(p0)
        .select(
            "batch_id", "n_t", "x_t", F.sum(step).over(w).alias("cum")
        )
    )
    return llr.select(
        F.col("batch_id").cast("long").alias("batch_id"),
        F.col("n_t").alias("n_events"),
        F.col("x_t").alias("n_conversions"),
        F.round("cum", 6).alias("cum_llr"),
        F.when(F.col("cum") >= math.log(_SPRT_AB), "accept_h1")
        .when(F.col("cum") <= math.log(1.0 / _SPRT_AB), "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    ).orderBy("batch_id")


# ---------------------------------------------------------------------------
# Watermark-budget sizing: lateness audit over a (planted) arrival order
# ---------------------------------------------------------------------------

_LATE_BUDGETS_H = (1, 6, 48)

_LATENESS_ORACLE = f"""
WITH arr AS (
    SELECT epoch_us(ts) AS t,
           event_id + CASE WHEN event_id % 97 = 0 THEN 500
                           WHEN event_id % 31 = 0 THEN 10
                           ELSE 0 END AS pos,
           event_id
    FROM events
),
x AS (
    SELECT t,
           max(t) OVER (ORDER BY pos, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS runmax
    FROM arr
),
late AS (SELECT (runmax - t) / 3600000000.0 AS late_h FROM x)
SELECT b.budget_h::BIGINT AS budget_h,
       sum(CASE WHEN late_h > b.budget_h THEN 1 ELSE 0 END)::BIGINT
           AS n_dropped,
       round(avg(CASE WHEN late_h > b.budget_h THEN 1.0 ELSE 0.0 END), 6)
           AS dropped_frac,
       round(max(late_h), 4) AS max_lateness_h
FROM late
CROSS JOIN (SELECT unnest([{", ".join(str(b) for b in _LATE_BUDGETS_H)}])
            AS budget_h) b
GROUP BY b.budget_h
"""


@register(
    "watermark_lateness_audit",
    oracle=_LATENESS_ORACLE,
    tags=("events", "streaming", "watermark", "audit"),
)
def watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-budget sizing from measured arrival disorder: for each
    candidate watermark delay, how many events would arrive LATER than
    the delay behind the max event-time seen so far — i.e., would be
    dropped by a stream with that watermark. The fixture arrives
    perfectly ordered, so deterministic plants (every 97th event
    displaced ~33h, every 31st ~40min — the planting convention of the
    dedup lanes) create the two-tier disorder real pipelines see.
    This is the BATCH audit you run before choosing
    withWatermark(delay): streaming correctness work starts with
    measuring lateness, not guessing it.

    Plan shape: lateness is a running event-time maximum over the
    arrival order — computed as the DISTRIBUTED prefix-max
    (range-partition by arrival position → partition-local running
    max → broadcast partition-boundary maxima combined with
    ``greatest``, operators/ranking.py), so the event-grain table
    never collapses to one partition — then one 3-budget conditional
    aggregate."""
    from emails_to_vector_db_spark.operators.ranking import (
        distributed_prefix_agg,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("t"), "event_id"
    )
    pos = F.col("event_id") + F.when(
        F.col("event_id") % 97 == 0, 500
    ).when(F.col("event_id") % 31 == 0, 10).otherwise(0)
    late = distributed_prefix_agg(
        ev.select("t", pos.alias("pos"), "event_id"),
        [F.col("pos"), F.col("event_id")],
        maxs=[("t", "run_max")],
    ).select(
        ((F.col("run_max") - F.col("t")) / 3600000000.0).alias("late_h")
    )
    budgets = F.broadcast(
        spark.createDataFrame(
            [(b,) for b in _LATE_BUDGETS_H], "budget_h long"
        )
    )
    return (
        late.crossJoin(budgets)
        .groupBy("budget_h")
        .agg(
            F.sum(
                F.when(F.col("late_h") > F.col("budget_h"), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_dropped"),
            F.round(
                F.avg(
                    F.when(
                        F.col("late_h") > F.col("budget_h"), 1.0
                    ).otherwise(0.0)
                ),
                6,
            ).alias("dropped_frac"),
            F.round(F.max("late_h"), 4).alias("max_lateness_h"),
        )
    )


# ---------------------------------------------------------------------------
# Session duration / depth percentiles from gap-based sessionization
# ---------------------------------------------------------------------------

_SESSDUR_GAP_US = 30 * 60 * 1_000_000

_SESSDUR_ORACLE = f"""
WITH flagged AS (
    SELECT user_id, epoch_us(ts) AS t,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                     > {_SESSDUR_GAP_US}
                OR lag(ts) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, t,
           sum(new_session) OVER (
               PARTITION BY user_id ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_id
    FROM flagged
),
per_sess AS (
    SELECT user_id, session_id,
           (max(t) - min(t)) / 60000000.0 AS dur_min,
           count(*)::DOUBLE AS depth
    FROM sess GROUP BY user_id, session_id
)
SELECT count(*)::BIGINT AS n_sessions,
       round(quantile_cont(dur_min, 0.5), 4) AS p50_duration_min,
       round(quantile_cont(dur_min, 0.9), 4) AS p90_duration_min,
       round(quantile_cont(depth, 0.5), 4) AS p50_depth,
       round(quantile_cont(depth, 0.9), 4) AS p90_depth,
       round(avg(CASE WHEN depth = 1 THEN 1.0 ELSE 0.0 END), 6)
           AS bounce_rate
FROM per_sess
"""


@register(
    "session_duration_percentiles",
    oracle=_SESSDUR_ORACLE,
    tags=("events", "session", "percentiles"),
)
def session_duration_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session QUALITY metrics from the gap-based sessionization:
    duration and depth percentiles plus the bounce rate (single-event
    sessions) — user_sessionization counts sessions, THIS characterizes
    them, which is what engagement dashboards actually plot and what a
    session-window watermark budget should be sized against (state
    lives as long as p90-ish sessions, not the mean).

    Plan shape: the same lag+cumulative-flag window as every session
    lane (one user_id exchange), a per-session min/max/count
    aggregation, then a 1-row fold whose four percentiles share two
    fused buffers."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    gap = F.col("t") - F.lag("t").over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > _SESSDUR_GAP_US), 1).otherwise(0),
    )
    wc = Window.partitionBy("user_id").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = flagged.withColumn(
        "session_id", F.sum("new_session").over(wc)
    )
    per_sess = sess.groupBy("user_id", "session_id").agg(
        ((F.max("t") - F.min("t")) / 60000000.0).alias("dur_min"),
        F.count(F.lit(1)).cast("double").alias("depth"),
    )
    qd = F.percentile(F.col("dur_min"), F.array(F.lit(0.5), F.lit(0.9)))
    qn = F.percentile(F.col("depth"), F.array(F.lit(0.5), F.lit(0.9)))
    return per_sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        qd.alias("qd"),
        qn.alias("qn"),
        F.round(
            F.avg(F.when(F.col("depth") == 1, 1.0).otherwise(0.0)), 6
        ).alias("bounce_rate"),
    ).select(
        "n_sessions",
        F.round(F.element_at("qd", 1), 4).alias("p50_duration_min"),
        F.round(F.element_at("qd", 2), 4).alias("p90_duration_min"),
        F.round(F.element_at("qn", 1), 4).alias("p50_depth"),
        F.round(F.element_at("qn", 2), 4).alias("p90_depth"),
        "bounce_rate",
    )


# ---------------------------------------------------------------------------
# DAU / WAU rolling engagement and stickiness
# ---------------------------------------------------------------------------

_WAU_WINDOW = 7

_WAU_ORACLE = f"""
WITH du AS (
    SELECT DISTINCT ts::DATE AS d, user_id FROM events
),
days AS (SELECT DISTINCT d FROM du),
dau AS (SELECT d, count(*)::BIGINT AS dau FROM du GROUP BY d),
wau AS (
    SELECT days.d, count(DISTINCT du.user_id)::BIGINT AS wau
    FROM days JOIN du
      ON du.d BETWEEN days.d - INTERVAL {_WAU_WINDOW - 1} DAY AND days.d
    GROUP BY days.d
)
SELECT CAST(dau.d AS VARCHAR) AS day, dau.dau, wau.wau,
       round(dau.dau::DOUBLE / wau.wau, 6) AS stickiness
FROM dau JOIN wau ON wau.d = dau.d
ORDER BY day
"""


@register(
    "dau_wau_stickiness",
    oracle=_WAU_ORACLE,
    tags=("events", "engagement", "analytics"),
)
def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU, rolling {_WAU_WINDOW}-day WAU, and the DAU/WAU stickiness
    ratio per day — the engagement dashboard's first row. Rolling
    DISTINCT counts cannot use an ordinary window frame (distinct
    doesn't decompose over frames), so WAU is computed by the
    day-range self-join of the deduplicated (day, user) table — exact,
    and cheap because it runs at day×user grain, never event grain
    (the HLL-sketch lane is the named stand-in when even that table is
    too hot).

    Plan shape: one event-grain dedup to (day, user); DAU is a
    day-grain count; WAU joins the ~30-row day list against the
    (day, user) table on a {_WAU_WINDOW}-day band."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "user_id"
    )
    from pyspark import StorageLevel

    du = ev.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    days = du.select("d").distinct()
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    w_days = days.select(F.col("d").alias("wd"))
    wau = (
        F.broadcast(w_days)
        .join(
            du,
            du["d"].between(
                F.date_sub(F.col("wd"), _WAU_WINDOW - 1), F.col("wd")
            ),
        )
        .groupBy("wd")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau["d"] == wau["wd"])
        .select(
            F.col("d").cast("string").alias("day"),
            "dau",
            "wau",
            F.round(
                F.col("dau").cast("double") / F.col("wau"), 6
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Entropy rate of the event-type Markov chain
# ---------------------------------------------------------------------------

_MARKOV_ENTROPY_ORACLE = """
WITH pairs AS (
    SELECT event_type AS a,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS b
    FROM events
),
cnt AS (
    SELECT a, b, count(*)::DOUBLE AS n FROM pairs
    WHERE b IS NOT NULL GROUP BY a, b
),
row_tot AS (SELECT a, sum(n) AS na FROM cnt GROUP BY a),
tot AS (SELECT sum(n) AS nt FROM cnt),
h_cond AS (
    SELECT sum((r.na / t.nt) * (-(c.n / r.na) * ln(c.n / r.na)))
        AS h_rate
    FROM cnt c JOIN row_tot r USING (a) CROSS JOIN tot t
),
h_marg AS (
    SELECT sum(-(na / t.nt) * ln(na / t.nt)) AS h0
    FROM row_tot CROSS JOIN tot t
)
SELECT (SELECT count(*) FROM row_tot)::BIGINT AS n_states,
       round(h_marg.h0, 6) AS marginal_entropy,
       round(h_cond.h_rate, 6) AS entropy_rate,
       round(1.0 - h_cond.h_rate / h_marg.h0, 6) AS predictability_gain
FROM h_cond CROSS JOIN h_marg
"""


@register(
    "markov_entropy_rate",
    oracle=_MARKOV_ENTROPY_ORACLE,
    tags=("events", "sequence", "stats", "information"),
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the event-type Markov chain — H(next | current)
    under the empirical transition matrix, next to the marginal
    entropy H(next): their gap is exactly how much PREDICTABILITY the
    sequence structure carries, which upper-bounds what ANY next-event
    model (the markov_next_event_accuracy lane included) can extract;
    a gain near zero says the chain is memoryless and sequence
    modeling is wasted effort.

    Plan shape: the shared per-user lead() window, a |types|²-cell
    transition aggregate, and entropy arithmetic over cells — the
    information-theoretic fold runs on the cell table, never the
    corpus."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).where(F.col("b").isNotNull())
    cnt = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    from pyspark import StorageLevel

    cnt = cnt.persist(StorageLevel.MEMORY_AND_DISK)
    row_tot = cnt.groupBy("a").agg(F.sum("n").alias("na"))
    tot = F.broadcast(cnt.agg(F.sum("n").alias("nt")))
    h_cond = (
        cnt.join(F.broadcast(row_tot), "a")
        .crossJoin(tot)
        .agg(
            F.sum(
                (F.col("na") / F.col("nt"))
                * (
                    -(F.col("n") / F.col("na"))
                    * F.log(F.col("n") / F.col("na"))
                )
            ).alias("h_rate")
        )
    )
    h_marg = row_tot.crossJoin(tot).agg(
        F.sum(
            -(F.col("na") / F.col("nt"))
            * F.log(F.col("na") / F.col("nt"))
        ).alias("h0")
    )
    n_states = F.broadcast(
        row_tot.agg(F.count(F.lit(1)).alias("n_states"))
    )
    return (
        h_cond.crossJoin(h_marg)
        .crossJoin(n_states)
        .select(
            F.col("n_states").cast("long").alias("n_states"),
            F.round("h0", 6).alias("marginal_entropy"),
            F.round("h_rate", 6).alias("entropy_rate"),
            F.round(1.0 - F.col("h_rate") / F.col("h0"), 6).alias(
                "predictability_gain"
            ),
        )
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction (controlled experiments using pre-period data)
# ---------------------------------------------------------------------------

_CUPED_ORACLE = """
WITH ev AS (
    SELECT user_id, user_id % 2 AS arm, epoch_us(ts) AS t, value
    FROM events
),
cut AS (SELECT quantile_cont(t, 0.5) AS c FROM ev),
users AS (
    SELECT user_id, max(arm) AS arm,
           sum(CASE WHEN t <= cut.c THEN value ELSE 0 END) AS x,
           sum(CASE WHEN t > cut.c THEN value ELSE 0 END) AS y
    FROM ev CROSS JOIN cut GROUP BY user_id
),
theta AS (
    SELECT covar_samp(x, y) / var_samp(x) AS th, avg(x) AS mx FROM users
),
adj AS (
    SELECT u.arm, u.y, u.y - t.th * (u.x - t.mx) AS y_adj
    FROM users u CROSS JOIN theta t
),
stats AS (
    SELECT count(*)::BIGINT AS n_users,
           avg(CASE WHEN arm = 1 THEN y END)
             - avg(CASE WHEN arm = 0 THEN y END) AS diff_raw,
           avg(CASE WHEN arm = 1 THEN y_adj END)
             - avg(CASE WHEN arm = 0 THEN y_adj END) AS diff_cuped,
           var_samp(y) AS vy, var_samp(y_adj) AS vadj
    FROM adj
)
SELECT s.n_users,
       round(t.th, 6) AS theta,
       round(s.diff_raw, 6) AS diff_raw,
       round(s.diff_cuped, 6) AS diff_cuped,
       round(1.0 - s.vadj / s.vy, 6) AS variance_reduction
FROM stats s CROSS JOIN theta t
"""


@register(
    "cuped_variance_reduction",
    oracle=_CUPED_ORACLE,
    tags=("events", "experimentation", "stats", "causal"),
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013, "Improving the Sensitivity of Online
    Controlled Experiments") — the variance-reduction standard of
    every experimentation platform: adjust each user's post-period
    metric by their PRE-period covariate, Y' = Y - θ(X - E[X]) with
    θ = cov(X,Y)/var(X), shrinking metric variance by the squared
    pre/post correlation WITHOUT biasing the arm difference (X
    predates assignment). Reports the raw and CUPED-adjusted arm
    deltas and the achieved variance reduction — the third leg of the
    experimentation suite (SPRT decides sequentially, DiD handles
    non-randomized rollouts, CUPED makes the randomized test
    sensitive).

    Plan shape: one groupBy(user) conditional aggregation splits each
    user's value mass at the broadcast median-epoch cut (the
    did_arm_effect precedent: exact percentile here, approx at 100 TB);
    θ is a 1-row moment aggregate over the user-grain table broadcast
    back; every statistic after the first shuffle runs at user grain."""
    from pyspark import StorageLevel

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.col("user_id") % 2).alias("arm"),
        F.unix_micros("ts").alias("t"),
        "value",
    )
    cut = F.broadcast(
        ev.agg(F.percentile(F.col("t"), F.lit(0.5)).alias("c"))
    )
    users = (
        ev.crossJoin(cut)
        .groupBy("user_id")
        .agg(
            F.max("arm").alias("arm"),
            F.sum(
                F.when(F.col("t") <= F.col("c"), F.col("value")).otherwise(
                    0.0
                )
            ).alias("x"),
            F.sum(
                F.when(F.col("t") > F.col("c"), F.col("value")).otherwise(
                    0.0
                )
            ).alias("y"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    theta = F.broadcast(
        users.agg(
            (F.covar_samp("x", "y") / F.var_samp("x")).alias("th"),
            F.avg("x").alias("mx"),
        )
    )
    adj = users.crossJoin(theta).select(
        "arm",
        "y",
        (F.col("y") - F.col("th") * (F.col("x") - F.col("mx"))).alias(
            "y_adj"
        ),
        "th",
    )
    arm_mean = lambda col, a: F.avg(  # noqa: E731
        F.when(F.col("arm") == a, F.col(col))
    )
    return adj.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.max("th"), 6).alias("theta"),
        F.round(arm_mean("y", 1) - arm_mean("y", 0), 6).alias("diff_raw"),
        F.round(
            arm_mean("y_adj", 1) - arm_mean("y_adj", 0), 6
        ).alias("diff_cuped"),
        F.round(
            1.0 - F.var_samp("y_adj") / F.var_samp("y"), 6
        ).alias("variance_reduction"),
    )


_CUPED_APPROX_ACC = 10000  # percentile_approx accuracy (error <= n/acc)
_CUPED_CUT_TOL = 0.05  # pre-period event-mass fraction must be 0.5 +- tol

_CUPED_APPROX_ORACLE = """
SELECT count(DISTINCT user_id)::BIGINT AS n_users,
       TRUE AS cut_mass_ok,
       TRUE AS variance_reduced
FROM events
"""


@register(
    "cuped_variance_reduction_approx",
    oracle=_CUPED_APPROX_ORACLE,
    tags=("events", "experimentation", "stats", "causal", "approx"),
)
def cuped_variance_reduction_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SCALE-PATH twin of cuped_variance_reduction: the pre/post
    cut comes from percentile_approx (one-pass mergeable sketch, NO
    exact-median sort) instead of the exact percentile — at 100 TB the
    exact median pass is the plan's only corpus-sort and this twin
    removes it (the orders_equi_depth_approx precedent). The
    approximate cut value is engine-specific by design, so the
    hash-checked output is the approximation CONTRACT, not the cut:
    n_users (cut-invariant), cut_mass_ok (the approx median must split
    event mass to 0.5 ± 5%), and variance_reduced (CUPED's algebraic
    guarantee var(Y') = var(Y)(1 - r²) ≤ var(Y) must survive the
    approximate cut — it holds for ANY cut because θ is fit to the
    same split, so a violation flags a broken θ fit, not a bad cut).

    Plan shape: one sketch aggregate for the cut (broadcast), the same
    single user-grain conditional aggregation as the exact form, a
    1-row θ broadcast, and scalar folds — no corpus-scale sort
    anywhere, which is exactly what the exact twin pays for."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        "value",
    )
    cut = F.broadcast(
        ev.agg(
            F.percentile_approx(
                F.col("t"), F.lit(0.5), F.lit(_CUPED_APPROX_ACC)
            ).alias("c")
        )
    )
    evc = ev.crossJoin(cut)
    users = evc.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("t") <= F.col("c"), F.col("value")).otherwise(0.0)
        ).alias("x"),
        F.sum(
            F.when(F.col("t") > F.col("c"), F.col("value")).otherwise(0.0)
        ).alias("y"),
        F.avg((F.col("t") <= F.col("c")).cast("double")).alias("ufrac"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    from pyspark import StorageLevel

    users = users.persist(StorageLevel.MEMORY_AND_DISK)
    theta = F.broadcast(
        users.agg(
            (F.covar_samp("x", "y") / F.var_samp("x")).alias("th"),
            F.avg("x").alias("mx"),
        )
    )
    adj = users.crossJoin(theta).select(
        "y",
        (F.col("y") - F.col("th") * (F.col("x") - F.col("mx"))).alias(
            "y_adj"
        ),
        "ufrac",
        "n_ev",
    )
    # event-mass fraction below the cut = weighted mean of per-user
    # fractions (weights = per-user event counts) — rides the SAME
    # user-grain aggregate, no second corpus pass
    frac_pre = F.sum(F.col("ufrac") * F.col("n_ev")) / F.sum("n_ev")
    return adj.agg(
        F.count(F.lit(1)).alias("n_users"),
        (
            (frac_pre >= 0.5 - _CUPED_CUT_TOL)
            & (frac_pre <= 0.5 + _CUPED_CUT_TOL)
        ).alias("cut_mass_ok"),
        # -1e-9 slack: the guarantee is algebraic equality-at-worst
        # (cov = 0); float summation order may dip epsilon below zero
        (
            F.var_samp("y_adj") <= F.var_samp("y") * (1.0 + 1e-9) + 1e-9
        ).alias("variance_reduced"),
    )


# ---------------------------------------------------------------------------
# Automation / bot-likeness signals per user (burstiness + clock regularity)
# ---------------------------------------------------------------------------

_BOT_MIN_EVENTS = 20
_BOT_TOP = 20

_BOT_ORACLE = f"""
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS t, ts::DATE AS d FROM events
),
gaps AS (
    SELECT user_id, t,
           t - lag(t) OVER (PARTITION BY user_id ORDER BY t, t) AS gap
    FROM ev
),
per_user AS (
    SELECT user_id,
           count(*)::BIGINT AS n_events,
           avg(gap) AS gap_mean,
           stddev_samp(gap) AS gap_sd
    FROM gaps WHERE gap IS NOT NULL
    GROUP BY user_id
),
daily AS (
    SELECT user_id, d, count(*)::DOUBLE AS c FROM ev GROUP BY user_id, d
),
fano AS (
    SELECT user_id,
           count(*)::BIGINT AS n_days,
           var_samp(c) / avg(c) AS fano
    FROM daily GROUP BY user_id HAVING count(*) >= 2
)
SELECT p.user_id,
       p.n_events + 1 AS n_events,
       f.n_days,
       round(f.fano, 4) AS fano_factor,
       round(p.gap_sd / p.gap_mean, 4) AS iat_cv,
       round(f.fano / (p.gap_sd / p.gap_mean + 1e-9), 4) AS bot_score
FROM per_user p JOIN fano f ON f.user_id = p.user_id
WHERE p.n_events + 1 >= {_BOT_MIN_EVENTS}
ORDER BY bot_score DESC, p.user_id ASC
LIMIT {_BOT_TOP}
"""


@register(
    "user_automation_signals",
    oracle=_BOT_ORACLE,
    tags=("events", "quality", "anomaly", "bot-detection"),
)
def user_automation_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automation/bot-likeness screen per user — the behavioral twin
    of the text-quality filters (a training corpus fed by event
    streams needs its synthetic ACTORS flagged, not just its synthetic
    text): per sufficiently-active user, the Fano factor of daily
    event counts (var/mean: ~1 for Poisson-like humans, >>1 for bursty
    schedulers) and the coefficient of variation of inter-event gaps
    (CV→0 is a metronome — cron-like regularity no human produces).
    The composite score ranks high-burst + high-regularity users
    first: the classic scraper signature (inactive for days, then a
    machine-gun session of evenly spaced requests).

    Plan shape: one user-partitioned lag window (co-partitioned with
    the per-user aggregation that follows — ONE shuffle serves both),
    one (user, day) census re-agg, and a TakeOrderedAndProject over
    the user-grain signal table. Nothing global ever sorts."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.to_date("ts").alias("d"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "t")
    gaps = ev.select(
        "user_id",
        (F.col("t") - F.lag("t").over(w)).alias("gap"),
    )
    per_user = (
        gaps.where(F.col("gap").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.avg("gap").alias("gap_mean"),
            F.stddev_samp("gap").alias("gap_sd"),
        )
    )
    daily = ev.groupBy("user_id", "d").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    fano = (
        daily.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            (F.var_samp("c") / F.avg("c")).alias("fano"),
        )
        .where(F.col("n_days") >= 2)
    )
    iat_cv = F.col("gap_sd") / F.col("gap_mean")
    return (
        per_user.join(fano, "user_id")
        .where(F.col("n_gaps") + 1 >= _BOT_MIN_EVENTS)
        .select(
            "user_id",
            (F.col("n_gaps") + 1).alias("n_events"),
            "n_days",
            F.round("fano", 4).alias("fano_factor"),
            F.round(iat_cv, 4).alias("iat_cv"),
            F.round(
                F.col("fano") / (iat_cv + F.lit(1e-9)), 4
            ).alias("bot_score"),
        )
        .orderBy(F.col("bot_score").desc(), F.col("user_id").asc())
        .limit(_BOT_TOP)
    )
