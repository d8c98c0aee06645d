"""Physical-layout tests: partitioned writes prune at scan time, and
store compaction preserves data while reducing files."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from emails_to_vector_db_spark.pipeline.embedder import HashingEmbedder
from emails_to_vector_db_spark.pipeline.store import EmbeddingStore, embed_and_store
from emails_to_vector_db_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    out = str(tmp_path / "events_by_type")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.write.partitionBy("event_type").parquet(out)
    # hive-style layout exists
    assert glob.glob(f"{out}/event_type=click")
    read = spark.read.parquet(out).where(F.col("event_type") == "click")
    plan = read._jdf.queryExecution().executedPlan().toString()
    # the filter must become a PartitionFilter (pruned listing), not a
    # post-scan predicate over all partitions
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters")[1][:200]
    n_click = read.count()
    n_all = ev.where(F.col("event_type") == "click").count()
    assert n_click == n_all


def test_dynamic_partition_pruning(spark, tmp_path):
    """A join whose partition-key filter arrives through the OTHER side
    must prune partitions at runtime (DPP): the fact scan shows a
    dynamicpruning subquery instead of reading all partitions."""
    out = str(tmp_path / "events_part")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.write.partitionBy("event_type").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("purchase", "rev"), ("click", "eng"), ("view", "eng")],
        "event_type string, kind string",
    ).where(F.col("kind") == "rev")
    j = fact.join(dim, "event_type")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert j.count() == ev.where(F.col("event_type") == "purchase").count()


def test_runtime_bloom_filter_join(spark):
    """Runtime bloom-filter injection: a selective build side gets a
    bloom_filter_agg whose filter prunes the probe-side scan before the
    shuffle. Size-gated by default (application side must be ~10GB+), so
    the threshold is zeroed to demonstrate on fixture data — at 100 TB the
    defaults fire on their own."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF_SMOKE, "lineitem")
        o = load_table(spark, SF_SMOKE, "orders").where(
            F.col("o_totalprice") > 490000
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).agg(
            F.sum("l_quantity").alias("q")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan.lower() or "bloomfilter" in plan.lower()
        j.collect()  # and it still executes correctly
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _store_files(root) -> list[str]:
    return glob.glob(str(root / "**" / "*.parquet"), recursive=True) + glob.glob(
        str(root / "*.parquet")
    )


def test_store_compaction_preserves_data(spark, tmp_path):
    store = EmbeddingStore(spark, str(tmp_path / "cstore"))
    emb = HashingEmbedder(dim=16)
    # 5 incremental appends -> many small files
    for batch in range(5):
        src = spark.createDataFrame(
            [(batch * 10 + i, f"doc {batch}-{i}") for i in range(10)],
            "id long, content string",
        )
        embed_and_store(spark, src, store, emb)
    files_before = len(set(_store_files(tmp_path / "cstore")))
    before = sorted(r.id for r in store.read().select("id").collect())
    store.compact(target_partitions=1)
    files_after = len(set(_store_files(tmp_path / "cstore")))
    after = sorted(r.id for r in store.read().select("id").collect())
    assert before == after == list(range(50))
    assert files_after < files_before
    # append after compaction lands in the live version, and a second
    # compaction cycle (versioned → versioned) keeps everything
    src = spark.createDataFrame(
        [(100 + i, f"late {i}") for i in range(5)], "id long, content string"
    )
    embed_and_store(spark, src, store, emb)
    store.compact(target_partitions=1)
    final = sorted(r.id for r in store.read().select("id").collect())
    assert final == list(range(50)) + list(range(100, 105))


def test_store_compaction_crash_safe(spark, tmp_path, monkeypatch):
    """A crash at EITHER side of the pointer flip must leave the store
    fully readable — the flip (atomic os.replace) is the only commit
    point (ADVICE r02: the old in-place overwrite could lose the store
    mid-swap)."""
    import pytest

    import emails_to_vector_db_spark.pipeline.store as store_mod

    store = EmbeddingStore(spark, str(tmp_path / "xstore"))
    emb = HashingEmbedder(dim=16)
    for batch in range(3):
        src = spark.createDataFrame(
            [(batch * 10 + i, f"doc {batch}-{i}") for i in range(10)],
            "id long, content string",
        )
        embed_and_store(spark, src, store, emb)
    before = sorted(
        (r.id, r.content) for r in store.read().select("id", "content").collect()
    )

    # Crash 1: new version fully written, pointer flip never happens.
    with monkeypatch.context() as m:
        m.setattr(
            store_mod.os,
            "replace",
            lambda *_: (_ for _ in ()).throw(
                OSError("simulated crash before pointer flip")
            ),
        )
        with pytest.raises(OSError, match="before pointer flip"):
            store.compact(target_partitions=1)
    assert (
        sorted(
            (r.id, r.content)
            for r in store.read().select("id", "content").collect()
        )
        == before
    ), "failed compaction must not touch the live store"

    # Recovery: rerunning the compaction succeeds and loses nothing.
    store.compact(target_partitions=1)
    assert (
        sorted(
            (r.id, r.content)
            for r in store.read().select("id", "content").collect()
        )
        == before
    )

    # Crash 2: pointer flipped, stale-version sweep dies. New version is
    # live; the next compaction sweeps the leftovers.
    with monkeypatch.context() as m:
        m.setattr(
            EmbeddingStore,
            "_sweep",
            lambda *_, **__: (_ for _ in ()).throw(
                OSError("simulated crash mid-sweep")
            ),
        )
        with pytest.raises(OSError, match="mid-sweep"):
            store.compact(target_partitions=1)
    assert (
        sorted(
            (r.id, r.content)
            for r in store.read().select("id", "content").collect()
        )
        == before
    ), "post-flip crash must leave the NEW version live and complete"
    store.compact(target_partitions=1)
    assert (
        sorted(
            (r.id, r.content)
            for r in store.read().select("id", "content").collect()
        )
        == before
    )
    # exactly one live version dir + the pointer/manifest metadata remain
    entries = sorted(
        e
        for e in (tmp_path / "xstore").iterdir()
        if e.name not in ("_LATEST", "_manifests")
    )
    assert len(entries) == 1 and entries[0].name.startswith("v")
    # and only the live version's manifest is retained
    manifests = sorted(
        e.name for e in (tmp_path / "xstore" / "_manifests").iterdir()
    )
    assert manifests == [f"{entries[0].name}.manifest"]


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime-filter evidence: with a selective filter on the build side
    of a shuffle join, Catalyst injects a bloom_filter_agg on the build
    side and a might_contain probe filter on the scan side — the probe
    table is pre-pruned BEFORE the shuffle (at 100 TB this is the
    difference between shuffling the full fact table and shuffling only
    rows that can match). Result identity with the feature off is
    asserted too."""
    from pyspark.sql import functions as F

    confs = {
        # fixture-scale thresholds so injection fires at sf0.001
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    li = load_table(spark, SF_SMOKE, "lineitem")
    o = load_table(spark, SF_SMOKE, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )

    def run():
        return li.join(o, li.l_orderkey == o.o_orderkey).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("q"),
        )

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = run()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan, plan[:2000]
        with_filter = j.collect()[0]
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        without = run().collect()[0]
        assert (with_filter.n, with_filter.q) == (without.n, without.q)
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        )
        for k, v in old.items():
            if v is None:
                # previously-unset keys must be UNSET, not left at the
                # fixture-scale values — leaving threshold=0 set makes
                # bloom injection fire in every later test's plans
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_has_no_shuffle_before_join(spark):
    """The bucketed layout's whole point: lineitem ⋈ orders on orderkey
    plans as a SortMergeJoin over two Bucketed scans with ZERO shuffle
    exchanges before the join (the only Exchange left is the final
    aggregate), and each bucket is exactly one file."""
    import glob as _glob
    import os
    import re

    from emails_to_vector_db_spark.plans import REGISTRY
    from emails_to_vector_db_spark.plans.bucketed import (
        BUCKETS,
        ensure_bucketed_table,
    )
    from tests.conftest import SF_ORACLE

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = REGISTRY["bucketed_colocated_join"].fn(spark, SF_ORACLE)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    shuffles = len(
        re.findall(r"Exchange (hash|range|SinglePartition)", plan)
    )
    assert shuffles == 1, f"expected only the agg exchange, got {shuffles}"
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert f"SelectedBucketsCount: {BUCKETS} out of {BUCKETS}" in plan
    for tbl, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        name = ensure_bucketed_table(spark, SF_ORACLE, tbl, key)
        files = _glob.glob(
            os.path.join(_table_location(spark, name), "*.parquet")
        )
        assert len(files) == BUCKETS, (
            f"{tbl}: want one file per bucket, got {len(files)}"
        )


def test_bucketed_table_reregisters_without_rewrite(spark):
    """A fresh catalog over current bucketed files replays DDL only: the
    second ensure call must not touch the data files."""
    import os

    from emails_to_vector_db_spark.plans.bucketed import (
        ensure_bucketed_table,
    )
    from tests.conftest import SF_ORACLE

    name = ensure_bucketed_table(spark, SF_ORACLE, "orders", "o_orderkey")
    root = _table_location(spark, name)
    before = {
        f: os.path.getmtime(os.path.join(root, f)) for f in os.listdir(root)
    }
    # simulate a fresh session's empty catalog
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    name2 = ensure_bucketed_table(spark, SF_ORACLE, "orders", "o_orderkey")
    assert name2 == name
    assert _table_location(spark, name2) == root
    after = {
        f: os.path.getmtime(os.path.join(root, f)) for f in os.listdir(root)
    }
    assert before == after, "re-registration must be DDL-only"
    assert spark.table(name).count() > 0


def test_store_tombstone_delete_lifecycle(spark, tmp_path):
    """Deletion lifecycle: tombstones filter reads and searches
    immediately; re-using a deleted id fails loudly until compaction
    applies the deletes physically and clears the tombstone table."""
    import os

    import pytest as _pytest

    from emails_to_vector_db_spark.pipeline.store import EmbeddingStore

    store = EmbeddingStore(spark, str(tmp_path / "del_store"))
    rows = [
        (1, "red mug", [1.0, 0.0]),
        (2, "blue mug", [0.0, 1.0]),
        (3, "green kettle", [1.0, 1.0]),
    ]
    batch = spark.createDataFrame(
        rows, "id long, content string, embedding array<double>"
    )
    assert store.append(batch) == 3

    store.delete([2])
    live = {r["id"] for r in store.read().collect()}
    assert live == {1, 3}
    # search must never surface a deleted row
    hits = {r["id"] for r in store.search([0.0, 1.0], k=3).collect()}
    assert 2 not in hits and hits == {1, 3}

    # re-using the tombstoned id before compaction is a loud error
    again = spark.createDataFrame(
        [(2, "blue mug v2", [0.5, 0.5])],
        "id long, content string, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="tombstoned"):
        store.append(again)

    # compaction applies deletes physically and clears tombstones
    store.compact(target_partitions=1)
    assert not os.path.isdir(str(tmp_path / "del_store" / "_tombstones"))
    raw = spark.read.parquet(store._data_dir())
    assert {r["id"] for r in raw.collect()} == {1, 3}

    # the id is reusable now
    assert store.append(again) == 1
    assert {r["id"] for r in store.read().collect()} == {1, 2, 3}


def test_store_delete_typed_from_live_schema(spark, tmp_path):
    """delete() derives the tombstone id type from the store's LIVE
    schema, not from ids[0] — an int list against a string-keyed store
    must still anti-join correctly, and delete([]) is a no-op."""
    from emails_to_vector_db_spark.pipeline.store import EmbeddingStore

    store = EmbeddingStore(spark, str(tmp_path / "typed_store"))
    batch = spark.createDataFrame(
        [("1", "a", [1.0]), ("2", "b", [0.0])],
        "id string, content string, embedding array<double>",
    )
    store.append(batch)

    assert store.delete([]) == 0  # no tombstone file written
    assert {r["id"] for r in store.read().collect()} == {"1", "2"}

    # int ids against a string-keyed store: cast to the live type
    store.delete([2])
    ts = spark.read.parquet(str(tmp_path / "typed_store" / "_tombstones"))
    assert dict(ts.dtypes)["id"] == "string"
    assert {r["id"] for r in store.read().collect()} == {"1"}


def test_store_time_travel_snapshots(spark, tmp_path):
    """compact(retain=N) keeps N snapshot versions; read(version=n) is
    the frozen as-of-compaction view (later deletes don't apply);
    retention is per-call, so retain=1 prunes history; pruned/unknown
    versions raise a descriptive error."""
    import pytest

    store = EmbeddingStore(spark, str(tmp_path / "tstore"))
    emb = HashingEmbedder(dim=16)
    src = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], "id long, content string"
    )
    embed_and_store(spark, src, store, emb)
    with pytest.raises(ValueError, match="not retained"):
        store.read(version=0)  # flat layout: no snapshots yet
    store.compact(target_partitions=1, retain=2)
    assert store.versions() == [0]

    # delete + append, then compact again retaining both snapshots
    store.delete([0, 1, 2])
    late = spark.createDataFrame(
        [(100 + i, f"late {i}") for i in range(3)], "id long, content string"
    )
    embed_and_store(spark, late, store, emb)
    store.compact(target_partitions=1, retain=2)
    assert store.versions() == [0, 1]

    # v0 is frozen: pre-delete, pre-append; v1 and live agree
    v0 = sorted(r.id for r in store.read(version=0).select("id").collect())
    assert v0 == list(range(20))
    v1 = sorted(r.id for r in store.read(version=1).select("id").collect())
    live = sorted(r.id for r in store.read().select("id").collect())
    assert v1 == live == list(range(3, 20)) + [100, 101, 102]

    # retention is per-call: retain=1 prunes v0 and v1
    store.compact(target_partitions=1, retain=1)
    assert store.versions() == [2]
    with pytest.raises(ValueError, match="not retained"):
        store.read(version=0)
    with pytest.raises(ValueError, match="retain must be >= 1"):
        store.compact(retain=0)


def _table_location(spark, name: str) -> str:
    loc = next(
        r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        if r.col_name == "Location"
    )
    return loc.removeprefix("file:")
