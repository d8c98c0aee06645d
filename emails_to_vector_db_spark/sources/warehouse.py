"""Warehouse artifacts and bucketed tables.

Every artifact this engine derives from its sources (indexes, bucketed
tables, quantizers, micro-batch landings, format copies, fixtures) is
published by :func:`publish` under ``spark-warehouse/<kind>/``, in a
directory named by a fingerprint of its sources: the absolute path,
``st_mtime_ns`` and size of each file. A regenerated source therefore
names a new directory, and "fresh" is one ``isdir``. The build writes a
temp dir beside it and one ``os.rename`` publishes it, so a crashed
build or the loser of a race never leaves a half-written directory at a
served path.

Bucketed tables: write both fact tables bucketed (and sorted) by the
join key, and every later equi-join on that key is exchange-free — the
sort-merge join reads co-located buckets directly. This is Spark's
answer to the reference's "let Postgres handle it" (every reference
join is delegated SQL; SURVEY.md §2.3).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil
import tempfile
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
)
# published dirs get the mode os.makedirs would give them (mkdtemp's is 0700)
_UMASK = os.umask(0)
os.umask(_UMASK)


def _files(source: str) -> list[str]:
    if not os.path.isdir(source):
        return [source]
    return sorted(
        os.path.join(root, f) for root, _, fs in os.walk(source) for f in fs
    )


def artifact_path(kind: str, sources: Sequence[str]) -> str:
    """The directory :func:`publish` serves ``kind`` from for ``sources``:
    ``<corpus>_<state>``, where corpus hashes the sources' absolute paths
    (two corpora sharing a basename never share a directory) and state
    hashes every source file's path, ``st_mtime_ns`` and size."""
    paths = [os.path.abspath(s) for s in sources]
    corpus = hashlib.sha1("\0".join(paths).encode()).hexdigest()[:10]
    state = hashlib.sha1()
    for f in (f for p in paths for f in _files(p)):
        st = os.stat(f)
        state.update(f"{f}\0{st.st_mtime_ns}\0{st.st_size}\0".encode())
    return os.path.join(WAREHOUSE, kind, f"{corpus}_{state.hexdigest()[:10]}")


def superseded(kind: str, sources: Sequence[str]) -> list[str]:
    """Published ``kind`` directories of the same sources at an older
    state (the sources changed since they were built). Only exact
    ``<corpus>_<state>`` names match: a sibling such as a streaming
    run's ``<name>__<tag>.<pid>.<rand>`` work dir is never listed."""
    parent, name = os.path.split(artifact_path(kind, sources))
    own = re.compile(re.escape(name.split("_")[0]) + r"_[0-9a-f]{10}")
    try:
        entries = os.listdir(parent)
    except FileNotFoundError:
        return []
    return sorted(
        os.path.join(parent, e)
        for e in entries
        if own.fullmatch(e) and e != name
    )


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


_PID_DIR = re.compile(r".+\.(\d+)\.[a-z0-9_]{8}")


def pid_dir(parent: str, prefix: str) -> str:
    """Make a fresh directory ``<prefix>.<pid>.<rand>`` in ``parent``,
    first removing every such directory there whose process is dead
    (a crashed build's temp dir, a killed stream's run dir)."""
    os.makedirs(parent, exist_ok=True)
    for e in os.listdir(parent):
        m = _PID_DIR.fullmatch(e)
        if m and not _alive(int(m.group(1))):
            shutil.rmtree(os.path.join(parent, e), ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"{prefix}.{os.getpid()}.", dir=parent)


def publish(kind: str, sources: Sequence[str], build: Callable[[str], Any]) -> str:
    """Return the directory holding ``kind`` built from ``sources``,
    calling ``build(tmp_dir)`` first unless it is already published.

    ``build`` fills a temp dir beside the served path and one
    ``os.rename`` publishes it. When another process publishes first the
    rename fails and this build is discarded. Temp dirs of builds whose
    process died are swept, and a successful publish removes the
    directories of the same sources it supersedes (and their
    ``<dir>__*`` work dirs).

    The fingerprint covers only ``kind`` and its sources, never the code
    of ``build``: a change to what a builder writes must bump the kind's
    ``_vN`` suffix (as in ``postings_v2``), or a warm warehouse keeps
    serving the artifact the old builder wrote."""
    path = artifact_path(kind, sources)
    if os.path.isdir(path):
        return path
    parent, name = os.path.split(path)
    tmp = pid_dir(parent, "." + name)
    try:
        build(tmp)
        os.chmod(tmp, 0o777 & ~_UMASK)
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.isdir(path):
                raise
            return path  # lost the race: serve the winner's build
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for old in superseded(kind, sources):
        # with the work dirs of that state's streaming queries
        for d in [old, *glob.glob(glob.escape(old) + "__*")]:
            shutil.rmtree(d, ignore_errors=True)
    return path


def publish_json(kind: str, sources: Sequence[str], compute: Callable[[], Any]) -> Any:
    """Publish ``compute()``'s JSON-serialisable result (a quantizer,
    codebooks, a PCA basis) and return it as loaded from disk, so a
    cold and a warm call return identical values."""

    def build(d: str) -> None:
        with open(os.path.join(d, "artifact.json"), "w") as f:
            json.dump(compute(), f)

    with open(os.path.join(publish(kind, sources, build), "artifact.json")) as f:
        return json.load(f)


def publish_landing(
    kind: str,
    src: str,
    columns: list[str],
    *,
    n_parts: int = 3,
    planted: Callable | None = None,
) -> str:
    """Land ``columns`` of parquet ``src`` (the first is the order key)
    as ``n_parts`` files in ascending key order with ascending mtimes:
    the deterministic micro-batch sequence a file-stream source replays,
    since it orders files by mtime, then path. ``planted(rows)`` returns
    rows appended after the corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(d: str) -> None:
        rows = pq.read_table(src, columns=columns).sort_by(columns[0])
        if planted is not None:
            rows = pa.concat_tables([rows, planted(rows)])
        n, base = rows.num_rows, os.stat(src).st_mtime
        for i in range(n_parts):
            lo, hi = n * i // n_parts, n * (i + 1) // n_parts
            part = os.path.join(d, f"part{i}.parquet")
            pq.write_table(rows.slice(lo, hi - lo), part)
            os.utime(part, (base + i + 1, base + i + 1))

    return publish(kind, [src], build)


def _has_data(table: str) -> bool:
    return os.path.isdir(table) and any(
        not f.startswith(("_", ".")) for f in os.listdir(table)
    )


def publish_bucketed(
    spark: SparkSession,
    kind: str,
    sources: Sequence[str],
    frame: Callable[[str], DataFrame],
    *,
    key: str,
    n_buckets: int,
) -> str:
    """Publish ``frame(dir)`` as a parquet table at ``dir/table``,
    bucketed and sorted by ``key`` with one file per bucket, and register
    it as ``<kind>_<fingerprint>``. ``frame`` may write sidecar files
    into ``dir``. A catalog that already knows the name points at the
    current files; a cold one replays one ``CREATE TABLE … LOCATION``
    from the column list saved beside the table (no schema-inference
    job, no data movement)."""
    path = artifact_path(kind, sources)
    if os.path.isdir(path) and not _has_data(os.path.join(path, "table")):
        # the table's files were lost from a published dir (a partial
        # cleanup): DDL over that LOCATION would silently scan empty
        shutil.rmtree(path, ignore_errors=True)
    rebuilt = []

    def build(d: str) -> None:
        df = frame(d)
        scratch = f"{kind}_build_{os.getpid()}"
        try:
            # repartition on the bucket key first → exactly ONE file per
            # bucket. Spark only trusts SORTED BY when a bucket is a
            # single file, so the join elides the per-task Sort as well
            # as the Exchange. bucketBy needs saveAsTable: a scratch
            # external table, dropped (files kept) once written.
            df.repartition(n_buckets, key).write.format("parquet").bucketBy(
                n_buckets, key
            ).sortBy(key).option("path", os.path.join(d, "table")).saveAsTable(
                scratch
            )
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {scratch}")
        with open(os.path.join(d, "columns.ddl"), "w") as f:
            f.write(", ".join(
                f"`{c.name}` {c.dataType.simpleString()}" for c in df.schema
            ))
        rebuilt.append(d)

    path = publish(kind, sources, build)
    name = f"{kind}_{os.path.basename(path)}"
    if rebuilt:  # a registration from before a rebuild has a stale file listing
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    if not spark.catalog.tableExists(name):
        with open(os.path.join(path, "columns.ddl")) as f:
            cols = f.read()
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{os.path.join(path, 'table')}'"
        )
    return name


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (+sorted) managed parquet table. S7-equivalent
    bootstrap: ``saveAsTable`` creates-or-replaces idempotently."""
    writer = (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def merge_upsert(
    existing: DataFrame, updates: DataFrame, *, key: str
) -> DataFrame:
    """MERGE/upsert semantics without a table format: rows from
    ``updates`` win on key collision (matched → update), unmatched
    existing rows pass through, brand-new keys insert. Planned as one
    anti join + union — at scale both inputs shuffle once on the key
    (or zero times if both are bucketed by it via write_bucketed).
    The CDC-apply step of a foreachBatch pipeline; pair with
    EmbeddingStore.compact-style rewrite for the physical swap."""
    return updates.unionByName(
        existing.join(updates.select(key), key, "left_anti")
    )


def list_versions(table_dir: str) -> list[int]:
    """Version numbers present in a versioned table directory (the
    ``v{n}`` layout written by streaming/ingest.py::stream_merge_upsert),
    ascending."""
    import os
    import re

    if not os.path.isdir(table_dir):
        return []
    return sorted(
        int(m.group(1))
        for d in os.listdir(table_dir)
        if (m := re.fullmatch(r"v(\d+)", d)) and
        os.path.isdir(os.path.join(table_dir, d))
    )


def read_versioned(spark: SparkSession, table_dir: str, version: int | None = None):
    """Time-travel read of a versioned table: ``version=None`` follows
    the ``_LATEST`` pointer (the live state); an explicit version reads
    that historical snapshot. Old versions are immutable directories —
    this is the poor-man's Delta/Iceberg time travel, and the reason the
    CDC apply keeps superseded versions around until an explicit
    retention sweep."""
    import os

    if version is None:
        pointer = os.path.join(table_dir, "_LATEST")
        with open(pointer) as fh:
            sub = fh.read().strip()
    else:
        sub = f"v{version}"
        if not os.path.isdir(os.path.join(table_dir, sub)):
            raise FileNotFoundError(
                f"version {version} not present in {table_dir}; "
                f"available: {list_versions(table_dir)}"
            )
    return spark.read.parquet(os.path.join(table_dir, sub))


def vacuum_versions(table_dir: str, *, keep_last: int = 2) -> list[int]:
    """Retention sweep for the versioned table: delete all but the newest
    ``keep_last`` version directories (never the one _LATEST points to),
    returning the versions removed. Old versions are immutable, so the
    sweep is a plain directory delete — the time-travel window shrinks to
    the retained set, exactly like Delta/Iceberg VACUUM."""
    import os
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = list_versions(table_dir)
    pointer = os.path.join(table_dir, "_LATEST")
    current = None
    if os.path.exists(pointer):
        with open(pointer) as fh:
            current = int(fh.read().strip()[1:])
    doomed = [
        v for v in versions[:-keep_last] if v != current
    ]
    for v in doomed:
        shutil.rmtree(os.path.join(table_dir, f"v{v}"))
    return doomed
