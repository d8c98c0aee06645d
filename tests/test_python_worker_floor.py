"""The engine's PySpark daemon (emails_to_vector_db_spark/pyworker.py):
a worker's per-task ``importlib.invalidate_caches()`` re-reads a zip on
``sys.path`` only when the zip changed, ``get_spark()`` workers run the
patch, and they start from any driver cwd."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from emails_to_vector_db_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``floor_a`` on sys.path, with the patch
    installed; everything is undone afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches
    )
    monkeypatch.setattr(pyworker, "_read_as", {})
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"floor_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("floor_a", "floor_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _count_reads(monkeypatch) -> list[str]:
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_zip_is_not_reread(zip_on_path, monkeypatch):
    assert importlib.import_module("floor_a").VALUE == "a"
    importlib.invalidate_caches()  # first sight of the archive: one read
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls == []
    assert importlib.import_module("floor_a").VALUE == "a"


def test_rewritten_zip_is_reread(zip_on_path, monkeypatch):
    importlib.import_module("floor_a")
    importlib.invalidate_caches()
    _write_zip(
        zip_on_path, {"floor_a": "VALUE = 'a'\n", "floor_b": "VALUE = 'b'\n"}
    )
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert importlib.import_module("floor_b").VALUE == "b"
    assert zip_on_path in calls


def test_get_spark_workers_run_the_patch(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def origin(s: pd.Series) -> pd.Series:
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        return s.map(lambda _: code.co_filename)

    got = {r[0] for r in spark.range(4, numPartitions=2).select(origin("id")).collect()}
    engine = os.path.join("emails_to_vector_db_spark", "pyworker.py")
    # from CPython 3.13 on the stock method is lazy and stays in place
    assert {f.endswith(engine) for f in got} == {sys.version_info < (3, 13)}


def test_workers_start_from_any_cwd(tmp_path):
    """Workers import the daemon from the package's own location, not the
    driver's cwd: no PYTHONPATH in the environment, cwd outside the repo."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from emails_to_vector_db_spark.session import get_spark

        spark = get_spark(app_name="floor-cwd", cpus=2, shuffle_partitions=2)
        rdd = spark.sparkContext.parallelize(range(8), 2).map(lambda x: x * 2)
        assert sorted(rdd.collect()) == [x * 2 for x in range(8)]

        @F.pandas_udf("long")
        def inc(s: pd.Series) -> pd.Series:
            return s + 1

        rows = spark.range(6, numPartitions=2).select(inc("id").alias("v")).collect()
        assert sorted(r.v for r in rows) == list(range(1, 7))
        spark.stop()
        print("FLOOR-OK")
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "FLOOR-OK" in out.stdout
