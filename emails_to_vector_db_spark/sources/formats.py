"""Alternate source formats: JSON Lines and ORC copies of the events
table, landed write-once per scale factor so the engine's JSON/ORC
reader paths are exercised against the SAME rows the parquet oracle
sees (SURVEY.md §2.1 — the reference reads only CSV; a warehouse user
expects every mainstream format to scan into the same plans).

Both copies are produced with pyarrow (no Spark session, no jobs,
idempotent): timestamps are carried as epoch microseconds (bigint) in
the copies, exactly how the parquet fixture itself stores nanos — the
reader normalizes to TimestampType the same way ``load_table`` does, so
format choice cannot leak into query results. Avro is NOT covered: the
spark-avro connector is a separate package not present in this
container (documented gate, like sentence-transformers).
"""

from __future__ import annotations

import json
import os

from emails_to_vector_db_spark.sources.tables import table_path
from emails_to_vector_db_spark.sources.warehouse import publish

FORMATS_VERSION = 1
_COPIES = {"events_jsonl": "events.jsonl", "events_orc": "events.orc"}


def ensure_format_copies(sf_dir: str) -> dict[str, str]:
    """Publish events as JSONL and ORC (once per fixture generation);
    return name → path."""
    src = table_path(sf_dir, "events")
    d = publish(f"formats_v{FORMATS_VERSION}", [src], lambda d: _write_copies(src, d))
    return {k: os.path.join(d, f) for k, f in _COPIES.items()}


def _write_copies(src: str, d: str) -> None:
    import pyarrow as pa
    import pyarrow.orc as orc
    import pyarrow.parquet as pq

    tbl = pq.read_table(src)
    # → micros as plain int64 (the copies carry epoch_us, the readers
    # rebuild TimestampType — identical to load_table's handling).
    # Fixture generations store ts as either INT64 epoch-nanos or a real
    # timestamp type; normalize from whichever the file has.
    ts_col = tbl["ts"]
    if pa.types.is_timestamp(ts_col.type):
        ts_us = ts_col.cast(pa.timestamp("us")).cast("int64").to_pylist()
    else:
        ts_us = [v // 1000 for v in ts_col.cast("int64").to_pylist()]
    cols = {
        "event_id": tbl["event_id"].to_pylist(),
        "ts_us": ts_us,
        "user_id": tbl["user_id"].to_pylist(),
        "event_type": tbl["event_type"].to_pylist(),
        "value": tbl["value"].to_pylist(),
        "props": tbl["props"].to_pylist(),
    }

    with open(os.path.join(d, _COPIES["events_jsonl"]), "w") as f:
        for i in range(len(ts_us)):
            f.write(
                json.dumps({k: cols[k][i] for k in cols}, sort_keys=True)
            )
            f.write("\n")

    out = pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts_us": pa.array(cols["ts_us"], pa.int64()),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"], pa.string()),
        }
    )
    orc.write_table(out, os.path.join(d, _COPIES["events_orc"]))


EVENTS_COPY_SCHEMA = (
    "event_id bigint, ts_us bigint, user_id bigint,"
    " event_type string, value double, props string"
)


def read_events_json(spark, sf_dir: str):
    """JSON Lines source with an EXPLICIT schema (schema inference over
    100 TB is a full extra scan — never rely on it) + FAILFAST so corrupt
    rows surface loudly instead of nulling out silently."""
    from pyspark.sql import functions as F

    path = ensure_format_copies(sf_dir)["events_jsonl"]
    df = (
        spark.read.schema(EVENTS_COPY_SCHEMA)
        .option("mode", "FAILFAST")
        .json(path)
    )
    return df.withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")


def read_events_orc(spark, sf_dir: str):
    """ORC source — columnar scan with the same pushdown story as
    parquet (PushedFilters shows up in the ORC scan node too)."""
    from pyspark.sql import functions as F

    path = ensure_format_copies(sf_dir)["events_orc"]
    df = spark.read.orc(path)
    return df.withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")
