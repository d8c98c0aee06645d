"""The one bounded-stream runner (streaming/run.py): concurrent callers of
one streaming query never meet, a stream that does not drain in time is
stopped and raises, the caller's session is left as it was, the stream
sees the caller's runtime conf, and the run dirs of dead processes are
swept while a live sibling's are kept."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import threading

import pytest
from pyspark.sql import functions as F

from emails_to_vector_db_spark.plans import REGISTRY
from emails_to_vector_db_spark.streaming import run
from tests.conftest import SF_ORACLE, SF_SMOKE, duck_con, rows_match

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF_ORACLE)
    yield c
    c.close()


def _active(spark) -> int:
    """Streams running in any session of this SparkContext."""
    return spark._jsparkSession.sharedState().activeStreamingQueries().size()


def _stream_buses(spark) -> int:
    """Stream listener buses on the SparkContext's listener bus."""
    return sum(
        lst.getClass().getSimpleName() == "StreamingQueryListenerBus"
        for lst in spark.sparkContext._jsc.sc().listenerBus().listeners()
    )


@pytest.mark.parametrize(
    "name", ["streaming_dedup_ingest", "streaming_hourly_counts"]
)
def test_concurrent_runs_match_oracle(spark, con, name):
    spec = REGISTRY[name]
    duck = con.execute(spec.oracle)
    cols = [d[0] for d in duck.description]
    expected = duck.fetchall()
    start = threading.Barrier(2)
    results: list = [None, None]

    def one(i: int) -> None:
        start.wait()
        try:
            df = spec.fn(spark, SF_ORACLE)
            results[i] = rows_match(df.select(*cols), expected)
        except Exception as e:  # reported below, with its thread
            results[i] = (False, f"{type(e).__name__}: {e}")

    threads = [threading.Thread(target=one, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert results[0] == (True, "ok") and results[1] == (True, "ok"), results
    assert _active(spark) == 0


def test_timeout_stops_and_raises(spark, monkeypatch):
    monkeypatch.setattr(run, "TIMEOUT_S", 0.001)
    key = "spark.sql.shuffle.partitions"
    parts = spark.conf.get(key)
    views = {t.name for t in spark.catalog.listTables()}
    for name in (
        "streaming_hourly_counts",  # memory sink, availableNow
        "streaming_cms_merge",  # foreachBatch into a run dir
        "email_datasource_stream_stats",  # memory sink, polled
    ):
        with pytest.raises(TimeoutError, match="did not drain"):
            REGISTRY[name].fn(spark, SF_SMOKE)
    assert spark.streams.active == []
    assert _active(spark) == 0
    assert spark.conf.get(key) == parts
    assert {t.name for t in spark.catalog.listTables()} == views


def test_stream_sees_caller_runtime_conf(spark, tmp_path):
    key = "spark.sql.session.timeZone"
    src = str(tmp_path / "src")
    spark.range(3).selectExpr("cast(id as int) x").write.parquet(src)
    listeners = _stream_buses(spark)
    old = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        tz = run.collect(
            spark,
            lambda s: s.readStream.schema("x int")
            .parquet(src)
            .select(F.current_timezone().alias("tz")),
            "append",
        )
        assert {r.tz for r in tz.collect()} == {"America/Los_Angeles"}
        seen = []
        run.drain_files(
            spark,
            src,
            "x int",
            lambda b, _: seen.append(b.sparkSession.conf.get(key)),
            str(tmp_path / "work"),
        )
        assert seen and set(seen) == {"America/Los_Angeles"}
    finally:
        spark.conf.set(key, old)
    # each private session's stream listener bus is detached again
    assert _stream_buses(spark) == listeners


def test_run_dirs_of_dead_pids_are_swept(tmp_path):
    landing = tmp_path / "kind" / "abcdef0123_0123456789"
    landing.mkdir(parents=True)
    gone = subprocess.Popen(["true"])
    gone.wait()
    live = subprocess.Popen(["sleep", "60"])
    try:
        dead_dir = f"{landing}__dedup.{gone.pid}.abcd1234"
        live_dir = f"{landing}__dedup.{live.pid}.abcd1234"
        os.makedirs(dead_dir)
        os.makedirs(live_dir)
        own = run.run_dir(str(landing), "dedup")
        assert not os.path.exists(dead_dir)
        assert os.path.isdir(live_dir) and os.path.isdir(own)
        assert re.fullmatch(
            rf"abcdef0123_0123456789__dedup\.{os.getpid()}\.[a-z0-9_]{{8}}",
            os.path.basename(own),
        )
    finally:
        live.kill()
        live.wait()


def test_run_dirs_go_at_process_exit(tmp_path):
    landing = tmp_path / "kind" / "abcdef0123_0123456789"
    landing.mkdir(parents=True)
    code = (
        "from emails_to_vector_db_spark.streaming.run import run_dir\n"
        f"print(run_dir({str(landing)!r}, 'cms'))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True,
        text=True, check=True,
    )
    work = out.stdout.strip()
    assert work.startswith(f"{landing}__cms.") and not os.path.exists(work)
    assert os.listdir(landing.parent) == [landing.name]


def test_only_the_runner_starts_bounded_streams():
    """No package module but streaming/run.py waits on a stream or
    starts a memory sink."""
    pkg = os.path.dirname(os.path.dirname(run.__file__))
    banned = re.compile(r"awaitTermination\(|format\([\"']memory[\"']\)")
    hits = []
    for root, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == run.__file__:
                continue
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if banned.search(line):
                        hits.append(f"{os.path.relpath(path, pkg)}:{i}: {line.strip()}")
    assert not hits, "\n".join(hits)
