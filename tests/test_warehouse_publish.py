"""The one artifact-publish path (sources/warehouse.py::publish): warm
calls are free, a moved source rebuilds under a new fingerprint, two
corpora never share an artifact, and a crashed or racing build never
leaves a half-written directory at a served path."""

from __future__ import annotations

import hashlib
import multiprocessing as mp
import os
import shutil
import signal
import time

import pytest

from emails_to_vector_db_spark.sources import warehouse
from emails_to_vector_db_spark.sources.tables import table_path
from emails_to_vector_db_spark.sources.warehouse import (
    artifact_path,
    publish,
    superseded,
)
from tests.conftest import SF_SMOKE


@pytest.fixture
def wh(tmp_path, monkeypatch):
    """A private warehouse root, plus one small source file."""
    monkeypatch.setattr(warehouse, "WAREHOUSE", str(tmp_path / "wh"))
    src = tmp_path / "corpus" / "documents.parquet"
    src.parent.mkdir()
    src.write_bytes(b"v1")
    return str(src)


def _copy_corpus(root, *names) -> str:
    root = str(root)
    os.makedirs(root)
    for n in names:
        shutil.copy(table_path(SF_SMOKE, n), table_path(root, n))
    return root


def _new_jobs(spark, fn):
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    out = fn()
    return out, set(st.getJobIdsForGroup(None)) - before


def _write_bytes(d: str) -> None:
    time.sleep(0.2)  # widen the race window
    with open(os.path.join(d, "data.bin"), "wb") as f:
        f.write(hashlib.sha256(b"deterministic").digest() * 64)


def _race_worker(wh_root: str, src: str, out) -> None:
    warehouse.WAREHOUSE = wh_root
    path = publish("race", [src], _write_bytes)
    with open(os.path.join(path, "data.bin"), "rb") as f:
        out.put((path, hashlib.sha256(f.read()).hexdigest()))


def _killed_worker(wh_root: str, src: str) -> None:
    warehouse.WAREHOUSE = wh_root

    def build(d: str) -> None:
        with open(os.path.join(d, "partial.bin"), "wb") as f:
            f.write(b"half")
        time.sleep(600)

    publish("crash", [src], build)


def test_warm_publish_builds_nothing(wh):
    built = []
    p1 = publish("k", [wh], built.append)
    p2 = publish("k", [wh], built.append)
    assert p1 == p2 and os.path.isdir(p1)
    assert len(built) == 1 and not os.path.exists(built[0])  # tmp renamed away


def test_warm_sites_launch_no_spark_jobs(spark, tmp_path):
    """Every Spark-built site, called warm (files published, catalog
    registered), rebuilds nothing and launches zero Spark jobs."""
    from emails_to_vector_db_spark.plans.bucketed import ensure_bucketed_table
    from emails_to_vector_db_spark.plans.maintenance import _ensure_mv
    from emails_to_vector_db_spark.plans.postings import (
        _run_stream_postings,
        ensure_positional_index,
        ensure_postings_index,
    )

    sf = _copy_corpus(tmp_path / "sf0.001", "documents", "orders")
    calls = [
        lambda: ensure_bucketed_table(spark, sf, "orders", "o_orderkey"),
        lambda: ensure_postings_index(spark, sf),
        lambda: ensure_positional_index(spark, sf),
        lambda: _ensure_mv(spark, sf),
        lambda: _run_stream_postings(spark, sf),
    ]
    try:
        for call in calls:
            cold = call()
            warm, jobs = _new_jobs(spark, call)
            assert warm == cold and not jobs, (warm, jobs)
    finally:
        _drop_corpus_artifacts(spark, sf)


def test_moved_source_rebuilds_and_prunes(wh):
    built = []
    p1 = publish("k", [wh], built.append)
    os.utime(wh, (os.path.getmtime(wh) + 10,) * 2)
    assert superseded("k", [wh]) == [p1]
    p2 = publish("k", [wh], built.append)
    assert p2 != p1 and len(built) == 2
    # exactly one fingerprint dir per (kind, corpus) remains
    assert os.listdir(os.path.dirname(p2)) == [os.path.basename(p2)]
    assert superseded("k", [wh]) == []


def test_superseded_spares_sibling_work_dirs(wh):
    """A streaming query's ``<landing>__run`` work dir sits beside the
    landing in its kind dir: it is never taken for a superseded state,
    and goes only with the landing it belongs to."""
    p1 = publish("k", [wh], lambda d: None)
    os.makedirs(p1 + "__run")
    os.utime(wh, (os.path.getmtime(wh) + 10,) * 2)
    assert superseded("k", [wh]) == [p1]
    p2 = publish("k", [wh], lambda d: None)
    os.makedirs(p2 + "__run")
    assert not os.path.exists(p1) and not os.path.exists(p1 + "__run")
    assert superseded("k", [wh]) == []
    assert publish("k", [wh], lambda d: None) == p2
    assert os.path.isdir(p2 + "__run")


def test_published_dir_mode_follows_umask(wh):
    umask = os.umask(0)
    os.umask(umask)
    path = publish("k", [wh], lambda d: None)
    assert os.stat(path).st_mode & 0o777 == 0o777 & ~umask


def test_moved_source_rebuilds_real_site(spark, tmp_path):
    from emails_to_vector_db_spark.plans.postings import _stream_pst_landing

    sf = _copy_corpus(tmp_path / "sf0.001", "documents")
    d1 = _stream_pst_landing(sf)
    src = table_path(sf, "documents")
    os.utime(src, (os.path.getmtime(src) + 10,) * 2)
    d2 = _stream_pst_landing(sf)
    assert d2 != d1 and not os.path.exists(d1)
    corpus = os.path.basename(d2).split("_")[0]
    mine = [e for e in os.listdir(os.path.dirname(d2)) if e.startswith(corpus)]
    assert mine == [os.path.basename(d2)]
    # file-stream order: ascending part mtimes
    mtimes = [os.path.getmtime(os.path.join(d2, f"part{i}.parquet")) for i in range(3)]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    shutil.rmtree(d2)


def test_same_basename_corpora_never_share(spark, tmp_path):
    """/a/sf0.001 and /b/sf0.001 with different contents: different
    artifact dirs and catalog names, each serving its own rows."""
    import pyarrow.parquet as pq

    from emails_to_vector_db_spark.plans.bucketed import ensure_bucketed_table
    from emails_to_vector_db_spark.plans.postings import ensure_postings_index

    a = _copy_corpus(tmp_path / "a" / "sf0.001", "documents", "orders")
    b = _copy_corpus(tmp_path / "b" / "sf0.001", "documents", "orders")
    for n in ("documents", "orders"):  # b holds the first half of a
        t = pq.read_table(table_path(a, n))
        pq.write_table(t.slice(0, t.num_rows // 2), table_path(b, n))
    try:
        pa_, na, _ = ensure_postings_index(spark, a)
        pb_, nb, _ = ensure_postings_index(spark, b)
        assert pa_ != pb_ and na != nb
        ta = ensure_bucketed_table(spark, a, "orders", "o_orderkey")
        tb = ensure_bucketed_table(spark, b, "orders", "o_orderkey")
        assert ta != tb
        assert spark.table(ta).count() == 2 * spark.table(tb).count()
        docs = [table_path(a, "documents")], [table_path(b, "documents")]
        assert artifact_path("k", docs[0]) != artifact_path("k", docs[1])
    finally:
        _drop_corpus_artifacts(spark, a)
        _drop_corpus_artifacts(spark, b)


def test_failed_build_leaves_nothing(wh):
    def boom(d: str) -> None:
        with open(os.path.join(d, "partial.bin"), "wb") as f:
            f.write(b"half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        publish("k", [wh], boom)
    path = artifact_path("k", [wh])
    assert not os.path.exists(path)
    assert os.listdir(os.path.dirname(path)) == []  # temp dir discarded
    built = []
    assert publish("k", [wh], built.append) == path and len(built) == 1


def test_sigkilled_build_leaves_nothing(wh):
    ctx = mp.get_context("spawn")
    proc = ctx.Process(target=_killed_worker, args=(warehouse.WAREHOUSE, wh))
    proc.start()
    path = artifact_path("crash", [wh])
    parent = os.path.dirname(path)
    deadline = time.time() + 120
    while time.time() < deadline:
        tmp = [e for e in os.listdir(parent)] if os.path.isdir(parent) else []
        if tmp and os.path.exists(os.path.join(parent, tmp[0], "partial.bin")):
            break
        time.sleep(0.1)
    else:
        proc.kill()
        pytest.fail("the build never started")
    os.kill(proc.pid, signal.SIGKILL)
    proc.join(timeout=30)
    assert proc.exitcode == -signal.SIGKILL
    assert not os.path.exists(path)
    built = []
    assert publish("crash", [wh], built.append) == path and len(built) == 1
    # the dead build's temp dir is swept; only the served dir remains
    assert os.listdir(parent) == [os.path.basename(path)]


def test_racing_cold_publish_serves_one_build(wh):
    n = (os.cpu_count() or 2) + 2
    ctx = mp.get_context("spawn")
    out = ctx.Queue()
    procs = [
        ctx.Process(target=_race_worker, args=(warehouse.WAREHOUSE, wh, out))
        for _ in range(n)
    ]
    for p in procs:
        p.start()
    results = [out.get(timeout=180) for _ in procs]
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    assert len(set(results)) == 1, results
    path = results[0][0]
    assert os.listdir(os.path.dirname(path)) == [os.path.basename(path)]


def _drop_corpus_artifacts(spark, sf_dir: str) -> None:
    """Drop the catalog tables and warehouse dirs built from sf_dir."""
    srcs = {table_path(sf_dir, n) for n in ("documents", "orders")}
    corpora = {
        os.path.basename(artifact_path("k", [s])).split("_")[0] for s in srcs
    }
    for t in spark.catalog.listTables():
        if any(c in t.name for c in corpora):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    for kind in os.listdir(warehouse.WAREHOUSE):
        kdir = os.path.join(warehouse.WAREHOUSE, kind)
        for e in os.listdir(kdir) if os.path.isdir(kdir) else []:
            if e.split("_")[0] in corpora:
                shutil.rmtree(os.path.join(kdir, e), ignore_errors=True)


def test_publish_is_the_only_freshness_path():
    """No module but sources/warehouse.py decides freshness or builds a
    warehouse path: no mtime reads, no marker files, no hand-built
    ``spark-warehouse`` paths."""
    import re

    pkg = os.path.dirname(os.path.dirname(warehouse.__file__))
    banned = re.compile(
        r"getmtime\(|spark-warehouse|_SOURCE_MTIME|_STREAMED_OK|"
        r"[\"']_DONE[\"']|_STATS\.json"
    )
    hits = []
    for root, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == warehouse.__file__:
                continue
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if banned.search(line):
                        hits.append(f"{os.path.relpath(path, pkg)}:{i}: {line.strip()}")
    assert not hits, "\n".join(hits)
