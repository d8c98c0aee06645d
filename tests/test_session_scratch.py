"""Scratch-dir policy pins (r11 verdict task 3 + ADVICE mediums):

- tmpfs shuffle scratch is OPT-IN (use_tmpfs_scratch in measurement
  entrypoints); with no env var get_spark injects no spark.local.dir,
  so a cluster run lands scratch on Spark's normal on-disk default;
- the stale-scratch sweep is scoped to Spark-created entry names and
  uses the RECURSIVE newest mtime, so a live long-running session whose
  top-level dir mtime went stale (files written early, appended later)
  is never swept, and non-Spark content of the dir is never touched.
"""

from __future__ import annotations

import os
import time

from emails_to_vector_db_spark import session as S


def _age(path: str, seconds: float) -> None:
    old = time.time() - seconds
    os.utime(path, (old, old))


def test_sweep_removes_only_stale_spark_dirs(tmp_path):
    three_h = 3 * 3600
    # stale leaked app dir (everything old) -> swept
    stale = tmp_path / "spark-deadbeef"
    (stale / "blockmgr-1").mkdir(parents=True)
    f = stale / "blockmgr-1" / "shuffle_0_0_0.data"
    f.write_text("x")
    for p in (f, stale / "blockmgr-1", stale):
        _age(str(p), three_h)
    # live app dir: top-level mtime stale (r11 ADVICE scenario: files
    # written early, only block WRITES since), one nested file fresh
    live = tmp_path / "spark-cafebabe"
    (live / "blockmgr-2").mkdir(parents=True)
    g = live / "blockmgr-2" / "shuffle_1_0_0.data"
    g.write_text("y")
    _age(str(live), three_h)
    _age(str(live / "blockmgr-2"), three_h)
    # g keeps its fresh mtime
    # stale NON-Spark dir in the same root (user data under a shared
    # $SPARK_GRAFT_LOCAL_DIR) -> never touched
    user = tmp_path / "users-scratch"
    user.mkdir()
    (user / "data.bin").write_text("z")
    _age(str(user / "data.bin"), three_h)
    _age(str(user), three_h)

    S._sweep_stale_scratch(str(tmp_path))

    assert not stale.exists(), "stale spark-* dir must be swept"
    assert live.exists(), "dir with any fresh nested file must survive"
    assert user.exists(), "non-Spark entries must never be touched"


def test_tmpfs_is_opt_in(monkeypatch):
    # no env var -> get_spark's local-dir decision yields None (Spark's
    # own on-disk default applies on a cluster)
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    assert (os.environ.get("SPARK_GRAFT_LOCAL_DIR") or None) is None
    # the measurement opt-in fills the env only when unset
    S.use_tmpfs_scratch()
    if os.path.isdir("/dev/shm"):
        assert os.environ["SPARK_GRAFT_LOCAL_DIR"] == S.TMPFS_SCRATCH
    # an explicit user dir always wins over the opt-in
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/mnt/nvme0/scratch")
    S.use_tmpfs_scratch()
    assert os.environ["SPARK_GRAFT_LOCAL_DIR"] == "/mnt/nvme0/scratch"


def test_driver_memory_default_fits_host(monkeypatch):
    """Unset, spark.driver.memory is sized from MemTotal and never
    exceeds it; set, $SPARK_GRAFT_DRIVER_MEM wins verbatim."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    mem = S._driver_mem()
    assert mem.endswith("m") and int(mem[:-1]) * 1024 <= total_kb
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert S._driver_mem() == "6g"
