"""Streaming scratch-dir lifecycle: tmpfs free-space bound and
end-of-process cleanup (streaming/run.py scratch_dir).

Each test removes only the dirs it allocated: the global cleanup would also
delete dirs that DataFrames built earlier in the session still read lazily.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from flink_1_12_0_src_spark.streaming import run as srun


def _release(d: str) -> None:
    shutil.rmtree(d)
    srun._ALLOCATED.remove(d)


def test_scratch_dir_registers_for_cleanup(monkeypatch):
    monkeypatch.setattr(srun, "_ALLOCATED", [])  # cleanup sees only this test's dir
    d = srun.scratch_dir(prefix="scratch_test_")
    assert os.path.isdir(d)
    assert srun._ALLOCATED == [d]
    srun._cleanup_scratch()
    assert not os.path.exists(d)
    assert srun._ALLOCATED == []


def test_scratch_dir_falls_back_to_disk_when_tmpfs_low(monkeypatch):
    """When the RAM-backed root's free space is under the bound, new dirs
    land in the disk-backed tempfile default instead."""
    if srun._SCRATCH_ROOT is None:
        return  # no tmpfs on this host — the fallback IS the default path
    monkeypatch.setattr(srun, "_MIN_FREE_BYTES", 2**62)  # bound nothing can meet
    d = srun.scratch_dir(prefix="scratch_test_low_")
    try:
        assert not d.startswith(srun._SCRATCH_ROOT + os.sep)
        assert d.startswith(tempfile.gettempdir())
        assert os.path.isdir(d)
    finally:
        _release(d)
    assert not os.path.exists(d)


def test_scratch_dir_uses_tmpfs_when_space_available():
    if srun._SCRATCH_ROOT is None:
        return
    st = os.statvfs(srun._SCRATCH_ROOT)
    if st.f_bavail * st.f_frsize < srun._MIN_FREE_BYTES:
        return  # host tmpfs genuinely low — nothing to assert
    d = srun.scratch_dir(prefix="scratch_test_hi_")
    try:
        assert d.startswith(srun._SCRATCH_ROOT + os.sep)
    finally:
        _release(d)


def test_min_free_bound_falls_back_on_malformed_env(monkeypatch):
    """A size with a unit suffix is not a byte count: the bound falls back to
    the 4 GiB default instead of raising at import."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_MIN_FREE", "4g")
    assert srun._min_free_bytes() == 4 * 1024**3
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_MIN_FREE", "1048576")
    assert srun._min_free_bytes() == 1048576
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_MIN_FREE")
    assert srun._min_free_bytes() == 4 * 1024**3
