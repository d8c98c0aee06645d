"""Structured Streaming ingestion — the reference's poll-and-slice email
loop (``email_fetching.py:30-33``: manual re-run, last-10 slice, no
exactly-once, no late-data story) upgraded to Spark's streaming model
(SURVEY.md §2.8):

- file-source ``readStream`` over a landing directory (the batch plans in
  plans/ are the oracle-checked equivalents of these streams),
- event-time watermarks for late data,
- tumbling / sliding / session windows,
- ``dropDuplicatesWithinWatermark`` replacing the reference's
  crash-on-duplicate-id behavior,
- ``foreachBatch`` writing through the same idempotent EmbeddingStore
  append used in batch (exactly-once via checkpoint + anti-join).

Every builder here returns an *unstarted* DataFrame/query description, so
tests and callers choose sink + trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emails_to_vector_db_spark.sources.tables import load_table


def read_events_stream(
    spark: SparkSession, sf_dir: str, *, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream with the events schema. The fixture's nanosecond
    timestamp is normalized exactly as the batch loader does, so streaming
    results line up with the batch oracles."""
    # Prime the nanosAsLong conf (and schema handling) via the batch
    # loader, then mirror the RAW file type for the stream schema —
    # fixture generations vary between INT64 TIMESTAMP(NANOS) (read as
    # bigint under the conf) and naive timestamp[us] (TIMESTAMP_NTZ).
    load_table(spark, sf_dir, "events")
    raw = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")
    raw_ts = dict(raw.dtypes)["ts"]
    if raw_ts == "bigint":
        conv = F.timestamp_micros(F.expr("ts div 1000"))
    elif raw_ts == "timestamp_ntz":
        conv = F.col("ts").cast("timestamp")
    else:
        conv = F.col("ts").cast("timestamp")
        raw_ts = "timestamp"
    # The file stream source requires a DIRECTORY; select just the events
    # file out of the fixture dir with a glob filter.
    stream = (
        spark.readStream.schema(
            f"event_id bigint, ts {raw_ts}, user_id bigint,"
            " event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir.rstrip("/"))
    )
    return stream.withColumn("ts", conv)


def tumbling_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window counts per event type with a watermark: the
    streaming twin of plans/events.py::hourly_event_counts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_epoch"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding-window event counts (overlapping windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            F.unix_timestamp(F.col("w.end")).alias("window_end_epoch"),
            "event_type",
            "n_events",
        )
    )


def session_counts(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session windows (30-minute inactivity gap) per user — the streaming
    twin of plans/events.py::user_sessionization."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start_epoch"),
            "n_events",
        )
    )


def deduped_stream(
    events: DataFrame, *, watermark: str = "30 minutes"
) -> DataFrame:
    """Exactly-once-per-id within the watermark horizon — replaces the
    reference's duplicate-id crash (``email_fetching.py:54``) for streams;
    state is bounded by the watermark, so it runs forever at scale."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_embed_to_store(
    texts_stream: DataFrame,
    store,
    embedder,
    *,
    checkpoint: str,
    id_col: str = "msg_id",
    content_col: str = "text",
):
    """foreachBatch sink: every micro-batch goes through the SAME
    idempotent embed-and-store path as batch ingestion (anti-join dedup),
    giving effective exactly-once even across checkpoint replays."""
    from emails_to_vector_db_spark.pipeline.store import embed_and_store

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        embed_and_store(
            batch_df.sparkSession,
            batch_df,
            store,
            embedder,
            id_col=id_col,
            content_col=content_col,
        )

    return (
        texts_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def click_purchase_stream_join(
    events: DataFrame,
    *,
    horizon: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join with a time-interval condition: each click
    pairs with the same user's purchases that land within ``horizon``
    after it. Both sides carry watermarks, so the join state store
    evicts rows once the other side can no longer match them — bounded
    state, runs forever. (Self-join of one source stream: Spark plans
    two independent stateful sides.)"""
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"""
            c_user = p_user
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + INTERVAL {horizon}
            """
        ),
    )


def stream_merge_upsert(
    updates_stream: DataFrame,
    table_dir: str,
    *,
    key: str,
    checkpoint: str,
):
    """CDC apply under streaming: each micro-batch of upserts merges into
    a VERSIONED parquet table (``v{n}`` directories + a ``_LATEST``
    pointer file) via the same merge_upsert used in batch. Versioning
    makes the apply crash-safe — a failed batch never corrupts the
    readable version, and checkpoint replay of batch n simply rewrites
    v{n+1} from the same inputs (idempotent). Readers follow _LATEST."""
    import os

    from emails_to_vector_db_spark.pipeline.store import _atomic_write
    from emails_to_vector_db_spark.sources.warehouse import merge_upsert

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        pointer = os.path.join(table_dir, "_LATEST")
        if os.path.exists(pointer):
            with open(pointer) as fh:
                cur = fh.read().strip()
            existing = spark.read.parquet(os.path.join(table_dir, cur))
            version = int(cur[1:]) + 1
        else:
            existing = spark.createDataFrame([], batch_df.schema)
            version = 0
        merged = merge_upsert(existing, batch_df, key=key)
        new_dir = os.path.join(table_dir, f"v{version}")
        merged.write.mode("overwrite").parquet(new_dir)
        _atomic_write(pointer, f"v{version}")  # the pointer flip

    return (
        updates_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
