"""Embedding store: build, idempotent append, and search — the Spark form
of the reference's pgvector store + Chroma collection.

Reference behavior replaced:
- ``rag.py:29-38``  DDL bootstrap → Parquet table (arrays are native; no
  ``CREATE EXTENSION vector`` equivalent needed).
- ``rag.py:52-59``  batched INSERT → partitioned Parquet append.
- ``rag.py:55`` / ``email_fetching.py:54``: the reference re-inserts
  blindly (duplicate Chroma ids would crash). Here the append anti-joins
  the existing store on id first (SURVEY.md J4) — idempotent re-runs.
- ``rag.py:65-90``  KNN search → operators.knn.knn_topk on the store.

Scale notes: an append to a non-empty store runs two Spark jobs — the
broadcast of the EXISTING store's id column for the left_anti join, then
the write, whose ``observe()`` counts the rows written, so the upstream
pipeline (including the embedding pandas_udf) runs exactly once. The
first append runs only the write. Catalyst broadcasts the id side while
it is small and falls back to a shuffled sort-merge anti join once it
isn't (Spark cannot broadcast the stream side of a left_anti join, so
"broadcast the new batch" is not an available plan shape).

No store operation infers a schema: each data directory records its
schema as ``StructType`` JSON in ``_schema.json`` (hidden from Spark's
file listing by the leading underscore), written from ``batch.schema``
at the first append and by ``compact()`` into each new version. Every
read — data, snapshots, tombstones — passes it to ``spark.read.schema``,
and ``exists()`` is a listing check. A store without a record (written
before it existed, or a crash between the first write's commit and the
record) infers once, and that read records the schema.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from emails_to_vector_db_spark.operators.knn import knn_topk
from emails_to_vector_db_spark.pipeline.embedder import Embedder


SCHEMA_FILE = "_schema.json"


def _columns(schema: StructType) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in schema.fields}


class EmbeddingStore:
    """A Parquet-backed (id, content, embedding) table.

    Layout: initially a flat parquet directory; after the first
    ``compact()`` the store becomes versioned — ``path/v{n}`` data
    directories plus a ``_LATEST`` pointer file (the same crash-safe
    scheme as the CDC tables in streaming/ingest.py). Readers follow the
    pointer; the pointer flip is an atomic ``os.replace``, so a crash at
    ANY point of a compaction leaves the previously-live version fully
    readable. Assumes a POSIX-atomic-rename filesystem (local, HDFS);
    on object stores use a table format with atomic metadata commits
    (Delta/Iceberg) instead.
    """

    def __init__(self, spark: SparkSession, path: str, id_col: str = "id"):
        self.spark = spark
        self.path = path
        self.id_col = id_col

    def _pointer(self) -> str:
        return os.path.join(self.path, "_LATEST")

    def _data_dir(self) -> str:
        p = self._pointer()
        if os.path.exists(p):
            with open(p) as fh:
                return os.path.join(self.path, fh.read().strip())
        return self.path

    def exists(self) -> bool:
        """Whether the live data directory holds a committed part file —
        a driver-side listing, no Spark job."""
        return _has_parts(self._data_dir())

    def _schema(
        self, data_dir: str, files: list[str] | None = None
    ) -> StructType:
        """The schema recorded in ``data_dir``; without a record (a store
        written before records existed) infer it once from the data and
        record it."""
        try:
            with open(os.path.join(data_dir, SCHEMA_FILE)) as fh:
                return StructType.fromJson(json.load(fh))
        except FileNotFoundError:
            pass
        schema = self.spark.read.parquet(*(files or [data_dir])).schema
        _record_schema(data_dir, schema)
        return schema

    def _tombstone_dir(self) -> str:
        return os.path.join(self.path, "_tombstones")

    def _tombstones(self) -> DataFrame | None:
        d = self._tombstone_dir()
        if not _has_parts(d):
            return None
        id_field = self._schema(self._data_dir())[self.id_col]
        return self.spark.read.schema(StructType([id_field])).parquet(d)

    def _manifest_dir(self) -> str:
        return os.path.join(self.path, "_manifests")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._manifest_dir(), f"v{version}.manifest")

    def versions(self) -> list[int]:
        """Version numbers of the retained compacted snapshots, ascending
        (empty before the first compaction — the flat layout has no
        version identity). The largest is the live version."""
        d = self._manifest_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            int(e[1 : -len(".manifest")])
            for e in os.listdir(d)
            if e.startswith("v") and e.endswith(".manifest")
        )

    def read(self, version: int | None = None) -> DataFrame:
        """Read the live view, or — time travel — a retained snapshot.

        ``version=None`` reads the live data with current tombstones
        anti-joined (logical deletes in force). ``version=n`` reads the
        EXACT snapshot ``compact(retain=...)`` committed as ``v{n}``:
        each compaction records the part files it wrote in a per-version
        MANIFEST, and the snapshot read opens exactly those files — so
        later appends (which add files to the same live directory) and
        later tombstones (which target the live view; each compaction
        folds them in physically and clears them) leave retained
        snapshots frozen. Raises a descriptive error for a version that
        was never created or already pruned by a later compaction's
        retention sweep."""
        if version is not None:
            mp = self._manifest_path(version)
            vdir = os.path.join(self.path, f"v{version}")
            if not os.path.isfile(mp) or not os.path.isdir(vdir):
                have = self.versions()
                raise ValueError(
                    f"version {version} is not retained (available: "
                    f"{have or 'none — store not yet compacted'}); "
                    "raise compact(retain=...) to keep more snapshots"
                )
            with open(mp) as fh:
                files = [
                    os.path.join(vdir, line.strip())
                    for line in fh
                    if line.strip()
                ]
            schema = self._schema(vdir, files)
            return self.spark.read.schema(schema).parquet(*files)
        data_dir = self._data_dir()
        df = self.spark.read.schema(self._schema(data_dir)).parquet(data_dir)
        ts = self._tombstones()
        if ts is not None:
            # logical deletion: tombstoned ids are filtered at read time
            # (and physically dropped by the next compact())
            df = df.join(ts, self.id_col, "left_anti")
        return df

    def delete(self, ids: list) -> int:
        """Tombstone-delete by id: ids land in a (tiny) tombstone table
        that every read anti-joins — O(|ids|) write, no store rewrite —
        and the next ``compact()`` applies them physically and clears
        the table. The crash story needs no new machinery: tombstones
        are only swept AFTER the compaction pointer flip, and filtering
        already-absent ids is a no-op, so a crash at any point leaves
        deletes in force."""
        if not ids:
            return 0
        if not self.exists():
            # nothing has ever been written: there is no live id type
            # to cast against and nothing the tombstones could delete —
            # an explicit no-op beats the opaque path-does-not-exist
            # AnalysisException the parquet read below would raise
            return 0
        # the tombstone schema must match the LIVE id column type —
        # inferring it from ids[0] lets an int list against a
        # string-keyed store write a long-typed tombstone whose
        # anti-join silently casts (or breaks parquet schema merge
        # against an earlier string-typed tombstone file)
        id_field = self._schema(self._data_dir())[self.id_col]
        id_type = id_field.dataType.simpleString()
        df = self.spark.createDataFrame(
            [(str(i),) for i in ids], f"{self.id_col} string"
        ).select(F.col(self.id_col).cast(id_type))
        # an id that can't cast (e.g. "abc" against a long-keyed store)
        # becomes a NULL tombstone the left_anti read join can never
        # match — the delete would be silently lost while this method
        # reported success. Fail loudly instead; the check runs on a
        # driver-local literal frame, not the store.
        n_bad = df.where(F.col(self.id_col).isNull()).count()
        if n_bad:
            raise ValueError(
                f"delete(): {n_bad} id(s) cannot be cast to the store's "
                f"id type {id_type!r}; no tombstones were written"
            )
        df.write.mode("append").parquet(self._tombstone_dir())
        return len(ids)

    def append(self, batch: DataFrame, dedup: bool = True) -> int:
        """Append (id, content, embedding) rows; with dedup=True, rows whose
        id already exists are dropped first (left_anti) — the idempotence
        the reference lacks. Returns rows written.

        The batch's column names and types must match the store's
        recorded schema: every read applies that record, so a mismatched
        file would be misread. The check is driver-side and raises
        before anything is written."""
        data_dir = self._data_dir()
        exists = _has_parts(data_dir)
        if exists:
            want = _columns(self._schema(data_dir))
            got = _columns(batch.schema)
            if got != want:
                raise ValueError(
                    f"append: batch columns {got} do not match the "
                    f"store's schema {want}; nothing was written"
                )
        ts = self._tombstones()
        if ts is not None:
            # a tombstone would silently swallow a re-appended id (the
            # anti-join below checks the LIVE view, which excludes it);
            # fail loudly instead — compact() first to re-use the id
            n_dead = batch.join(ts, self.id_col, "left_semi").count()
            if n_dead:
                raise ValueError(
                    f"append contains {n_dead} tombstoned id(s); run "
                    "compact() to apply deletions before re-using ids"
                )
        if dedup and exists:
            existing = self.read().select(self.id_col)
            batch = batch.join(existing, self.id_col, "left_anti")
        # observe(): the row count rides the WRITE job itself — one job,
        # no persist, and the embedding pandas_udf runs exactly once per
        # append (the earlier persist+count+write form held the batch in
        # executor memory and still ran two jobs). An all-duplicate batch
        # appends a zero-row part file: harmless, and cheaper than a
        # pre-count that would double-run a real model to find out.
        from pyspark.sql import Observation

        obs = Observation()
        batch = batch.observe(obs, F.count(F.lit(1)).alias("n"))
        batch.write.mode("append").parquet(data_dir)
        if not exists:
            # first append: the record comes from the batch, no job (a
            # Parquet read makes every field nullable, given or inferred)
            _record_schema(data_dir, batch.schema)
        return int(obs.get["n"])

    def compact(
        self,
        target_partitions: int | None = None,
        retain: int = 1,
    ) -> int:
        """Small-file compaction: incremental appends accumulate one file
        per append-partition; periodic compaction rewrites the store into
        well-sized files (the standard housekeeping job any 100 TB
        parquet store needs). Returns the new file-partition count.

        Crash-safe: the compacted copy is written to a NEW ``v{n}``
        directory, then the ``_LATEST`` pointer is flipped with an atomic
        ``os.replace`` — the single commit point. A crash before the flip
        leaves the old version live and complete; a crash after the flip
        leaves the new version live and the stale directory is swept by
        the next successful compaction. At no point is live data
        overwritten in place (the defect the previous ``__compacting``
        scheme had).

        ``retain`` keeps that many NEWEST version directories (including
        the one just written) through the sweep — the snapshot-retention
        knob behind ``read(version=...)`` time travel. The default 1
        keeps only the live version (no history cost); retention is a
        per-compaction decision, so one call with ``retain=1`` prunes
        history kept by earlier calls."""
        if retain < 1:
            raise ValueError(f"retain must be >= 1, got {retain}")
        df = self.read()
        if target_partitions is None:
            target_partitions = max(1, df.rdd.getNumPartitions() // 4)
        cur = self._data_dir()
        if cur == self.path:
            version = 0  # first compaction: flat layout → versioned
        else:
            version = int(os.path.basename(cur)[1:]) + 1
        new_dir = os.path.join(self.path, f"v{version}")
        df.repartition(target_partitions).write.mode("overwrite").parquet(
            new_dir
        )
        _record_schema(new_dir, df.schema)
        # snapshot manifest: the part files THIS compaction wrote —
        # read(version=...) opens exactly these, so later appends into
        # the live directory can't leak into the frozen snapshot.
        # Written (atomically) BEFORE the pointer flip: a crash between
        # the two leaves an unreferenced manifest the next sweep prunes.
        os.makedirs(self._manifest_dir(), exist_ok=True)
        parts = sorted(
            e for e in os.listdir(new_dir) if e.endswith(".parquet")
        )
        _atomic_write(self._manifest_path(version), "\n".join(parts))
        _atomic_write(self._pointer(), f"v{version}")  # the commit point
        kept = {f"v{n}" for n in self.versions()[-retain:]} | {f"v{version}"}
        self._prune_manifests(kept)
        self._sweep(keep=kept)
        return target_partitions

    def _prune_manifests(self, keep: set) -> None:
        d = self._manifest_dir()
        if not os.path.isdir(d):
            return
        for e in os.listdir(d):
            name = e.split(".")[0]  # v{n}
            if e.endswith(".manifest") and name in keep:
                continue
            os.remove(os.path.join(d, e))

    def _sweep(self, keep: set) -> None:
        """Remove stale version directories, legacy flat part files, and
        leftover pointer temp files — everything except the retained
        versions and the pointer. Runs only AFTER the pointer flip, so a
        crash mid-sweep never affects readability."""
        for entry in os.listdir(self.path):
            if entry in keep or entry == "_LATEST":
                continue
            full = os.path.join(self.path, entry)
            if (
                entry.startswith("v")
                and entry[1:].isdigit()
                and os.path.isdir(full)
            ):
                shutil.rmtree(full)
            elif entry == "_tombstones" and os.path.isdir(full):
                # the new live version was written from the filtered
                # view, so these tombstones are applied — clear them
                shutil.rmtree(full)
            elif os.path.isfile(full):
                os.remove(full)

    def search(
        self, probe_vec, k: int = 5, metric: str = "l2"
    ) -> DataFrame:
        """Reference ``perform_search`` (``rag.py:65-90``): exact KNN over
        the store; returns (id, content, distance) rows — the DataFrame is
        the columnar result the reference hand-builds at ``rag.py:86-90``."""
        return knn_topk(
            self.read(),
            probe_vec,
            k=k,
            vec_col="embedding",
            id_col=self.id_col,
            metric=metric,
        )


def _has_parts(d: str) -> bool:
    """Whether ``d`` holds a visible Parquet part file (Spark skips names
    starting with ``_`` or ``.``)."""
    return os.path.isdir(d) and any(
        e.endswith(".parquet") and not e.startswith(("_", "."))
        for e in os.listdir(d)
    )


def _atomic_write(path: str, text: str) -> None:
    """Write ``text`` to ``path`` through a uniquely named temp file and
    one ``os.replace``, so a reader sees the old content or the new,
    never a part, and concurrent writers never share a temp file."""
    tmp = f"{path}.{uuid.uuid4().hex}"
    try:
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def _record_schema(data_dir: str, schema: StructType) -> None:
    """Write ``data_dir``'s schema record."""
    _atomic_write(os.path.join(data_dir, SCHEMA_FILE), schema.json())


def embed_and_store(
    spark: SparkSession,
    source: DataFrame,
    store: EmbeddingStore,
    embedder: Embedder,
    *,
    id_col: str = "id",
    content_col: str = "content",
) -> int:
    """The reference's ``embed_and_store_products`` (``rag.py:22-62``) as a
    single pipeline: select (id, content) → embed (Arrow-batched) →
    idempotent append. No driver-side fetchall (the reference pulls every
    row into client memory at ``rag.py:41``)."""
    batch = source.select(
        F.col(id_col).alias(store.id_col), F.col(content_col).alias("content")
    )
    batch = batch.withColumn("embedding", embedder("content"))
    return store.append(batch)
