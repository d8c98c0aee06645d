"""EmbeddingStore job budgets and its schema record.

An append runs only its real work — the write, plus the broadcast of the
existing ids for the anti-join once the store is non-empty — because
every read takes the schema recorded in the data directory's
``_schema.json`` instead of running a Parquet inference job, and
``exists()`` is a driver-side listing."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import DataFrameReader

from emails_to_vector_db_spark.pipeline.embedder import HashingEmbedder
from emails_to_vector_db_spark.pipeline.store import (
    SCHEMA_FILE,
    EmbeddingStore,
    _atomic_write,
    embed_and_store,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIM = 16


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs fn launched)."""
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    out = fn()
    return out, len(set(st.getJobIdsForGroup(None)) - before)


def _src(spark, ids):
    return spark.createDataFrame(
        [(i, f"doc {i} about topic{i % 3}") for i in ids],
        "id long, content string",
    )


def _store(spark, tmp_path, ids=range(20)) -> EmbeddingStore:
    store = EmbeddingStore(spark, str(tmp_path / "store"))
    embed_and_store(spark, _src(spark, ids), store, HashingEmbedder(DIM))
    return store


def _probe(store):
    return list(map(float, store.read().first().embedding))


def _search_ids(store, probe, k=100):
    return sorted(r.id for r in store.search(probe, k=k).collect())


def test_append_job_budget(spark, tmp_path):
    store = EmbeddingStore(spark, str(tmp_path / "store"))
    emb = HashingEmbedder(DIM)

    def append(ids):
        src = _src(spark, ids)
        return _jobs(spark, lambda: embed_and_store(spark, src, store, emb))

    assert append(range(20)) == (20, 1), "first append: the write only"
    assert append(range(10, 30)) == (10, 2), "id broadcast + write"


def test_search_job_budget(spark, tmp_path):
    store = _store(spark, tmp_path)
    probe = _probe(store)
    hits, jobs = _jobs(spark, lambda: store.search(probe, k=5).collect())
    assert (len(hits), jobs) == (5, 1)
    store.delete([0, 1])
    hits, jobs = _jobs(spark, lambda: store.search(probe, k=100).collect())
    assert len(hits) == 18 and {0, 1}.isdisjoint(h.id for h in hits)
    assert jobs == 2, "tombstones add one broadcast job"


def test_exists_and_empty_delete_run_no_job(spark, tmp_path):
    store = _store(spark, tmp_path)
    assert _jobs(spark, store.exists) == (True, 0)
    assert _jobs(spark, lambda: store.delete([])) == (0, 0)
    _, jobs = _jobs(spark, store.read)
    assert jobs == 0, "building the read infers no schema"


def test_exists_on_new_store_never_reads_parquet(spark, tmp_path, monkeypatch):
    def no_read(*_a, **_k):
        raise AssertionError("exists() must not open a Parquet read")

    store = EmbeddingStore(spark, str(tmp_path / "fresh"))
    monkeypatch.setattr(DataFrameReader, "parquet", no_read)
    assert _jobs(spark, store.exists) == (False, 0)
    assert store.delete([1]) == 0


def test_missing_record_is_inferred_once_then_recorded(spark, tmp_path):
    store = _store(spark, tmp_path)
    record = os.path.join(store.path, SCHEMA_FILE)
    os.remove(record)
    df, jobs = _jobs(spark, store.read)
    assert jobs == 1, "a store without a record infers its schema once"
    assert os.path.isfile(record), "that read records the schema"
    assert sorted(r.id for r in df.select("id").collect()) == list(range(20))
    df, jobs = _jobs(spark, store.read)
    assert jobs == 0
    assert df.count() == 20


def test_snapshot_read_after_later_compaction(spark, tmp_path):
    store = _store(spark, tmp_path, range(10))
    emb = HashingEmbedder(DIM)
    store.compact(target_partitions=1, retain=2)
    (v0,) = store.versions()
    embed_and_store(spark, _src(spark, range(10, 15)), store, emb)
    store.delete([3])
    store.compact(target_partitions=1, retain=2)
    assert store.versions() == [v0, v0 + 1]
    for v in (v0, v0 + 1):
        assert os.path.isfile(os.path.join(store.path, f"v{v}", SCHEMA_FILE))
    snap, jobs = _jobs(spark, lambda: store.read(version=v0))
    assert jobs == 0
    assert sorted(r.id for r in snap.collect()) == list(range(10))
    live = sorted(r.id for r in store.read().collect())
    assert live == [i for i in range(15) if i != 3]


def test_mismatched_append_raises_and_writes_nothing(spark, tmp_path):
    store = _store(spark, tmp_path)
    data = store.path
    files = sorted(os.listdir(data))
    bad = spark.createDataFrame(
        [(100, "x", [0.5] * DIM)],
        "id long, content string, embedding array<double>",
    )
    with pytest.raises(ValueError, match="do not match"):
        store.append(bad)
    assert sorted(os.listdir(data)) == files
    assert store.read().count() == 20


_CHILD = textwrap.dedent(
    """
    import sys
    from pyspark.sql import SparkSession
    from emails_to_vector_db_spark.pipeline.embedder import HashingEmbedder
    from emails_to_vector_db_spark.pipeline.store import EmbeddingStore, embed_and_store

    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false").getOrCreate())
    store = EmbeddingStore(spark, sys.argv[1])
    src = spark.createDataFrame(
        [(i, f"doc {i} about topic{i % 3}") for i in range(20, 30)],
        "id long, content string")
    assert embed_and_store(spark, src, store, HashingEmbedder(16)) == 10
    assert store.delete([0, 1, 2]) == 3
    spark.stop()
    """
)


def test_other_process_writes_are_seen_by_next_search(spark, tmp_path):
    store = _store(spark, tmp_path)
    probe = _probe(store)
    assert _search_ids(store, probe) == list(range(20))
    env = dict(os.environ, PYTHONPATH=REPO)
    subprocess.run(
        [sys.executable, "-c", _CHILD, store.path],
        check=True,
        cwd=str(tmp_path),
        env=env,
        timeout=300,
    )
    assert _search_ids(store, probe) == list(range(3, 30))


def test_concurrent_atomic_writes_never_share_a_temp_file(tmp_path):
    """The manifest, ``_LATEST`` and ``_schema.json`` writes go through
    one uniquely named temp file each: racing writers of one path all
    commit whole values, and none is left behind."""
    import threading

    path = str(tmp_path / "_LATEST")
    errors = []

    def writer(i: int) -> None:
        try:
            for n in range(200):
                _atomic_write(path, f"v{i}-{n}")
        except OSError as e:
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    with open(path) as fh:
        assert fh.read() in {f"v{i}-199" for i in range(4)}
    assert os.listdir(tmp_path) == ["_LATEST"]
