"""The one way this package runs a bounded stream: :func:`drain_files`
(a landing replayed into ``foreachBatch``) or :func:`collect` (a memory
sink). The stream runs in a private clone of the caller's session: it
sees the caller's runtime conf, but its own conf, memory-sink view and
query never show in the caller's session, so concurrent callers of one
query never meet. A stream that does not finish within
:data:`TIMEOUT_S` is stopped and raises :class:`TimeoutError`."""

from __future__ import annotations

import atexit
import os
import shutil
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from emails_to_vector_db_spark.sources.warehouse import pid_dir

TIMEOUT_S = 300
# state stores == shuffle partitions; a vanilla session's 200 is ~6x
# more state tasks than cores for fixture-sized micro-batches
_STATE_PARTITIONS = "32"
_OWN: list[str] = []


@atexit.register
def _release() -> None:
    for d in _OWN:
        if f".{os.getpid()}." in os.path.basename(d):  # not a fork's
            shutil.rmtree(d, ignore_errors=True)


def run_dir(landing: str, tag: str) -> str:
    """A fresh work dir ``<landing>__<tag>.<pid>.<rand>`` beside
    ``landing``. It lives until this process exits, since the
    DataFrames read from it are lazy."""
    parent, name = os.path.split(landing.rstrip("/"))
    _OWN.append(pid_dir(parent, f"{name}__{tag}"))
    return _OWN[-1]


def _private(spark: SparkSession) -> SparkSession:
    return SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())


def _drain(s: SparkSession, writer: DataStreamWriter, done=None) -> None:
    """Start ``writer`` (a stream of private session ``s``), wait until
    it ends or ``done()`` holds, and stop it; raise on time-out."""
    try:
        q = writer.start()
        try:
            if done is None:
                finished = q.awaitTermination(TIMEOUT_S)
            else:
                deadline = time.monotonic() + TIMEOUT_S
                while not (finished := done()) and time.monotonic() < deadline:
                    if q.awaitTermination(0.5):  # ended, or raises its error
                        finished = done()
                        break
            if not finished:
                raise TimeoutError(
                    f"stream {q.id} did not drain within {TIMEOUT_S}s; stopped"
                )
        finally:
            q.stop()
    finally:
        # Spark adds a stream listener bus to the SparkContext's for each
        # session that starts a stream, and never removes it
        streams = s._jsparkSession.streams()
        bus = streams.getClass().getDeclaredField("listenerBus")
        bus.setAccessible(True)
        s.sparkContext._jsc.sc().listenerBus().removeListener(bus.get(streams))


def drain_files(
    spark: SparkSession, landing: str, schema: str,
    apply: Callable[[DataFrame, int], None], work: str,
) -> None:
    """Replay ``landing``'s parquet files through ``apply(batch,
    batch_id)``, one file per micro-batch in (mtime, path) order, with
    the checkpoint in ``work/ckpt``."""
    s = _private(spark)
    _drain(
        s,
        s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True),
    )


def collect(
    spark: SparkSession, build: Callable[[SparkSession], DataFrame],
    mode: str, *, rows: int | None = None,
) -> DataFrame:
    """Drain ``build(session)`` into a memory sink in output ``mode``
    and return its table. With ``rows``, poll the stream under the
    default trigger until the table holds that many rows, for sources
    whose ``availableNow`` run ends early."""
    s = _private(spark)
    s.conf.set("spark.sql.shuffle.partitions", _STATE_PARTITIONS)
    writer = build(s).writeStream.format("memory").queryName("result")
    if rows is None:
        _drain(s, writer.outputMode(mode).trigger(availableNow=True))
    else:
        _drain(s, writer.outputMode(mode), lambda: s.table("result").count() >= rows)
    return s.table("result")
