"""Streaming scratch-dir lifecycle: tmpfs free-space bound and
end-of-process cleanup (streaming/run.py scratch_dir), and the pruning of
stale staged-cache roots (streaming/source.py), plus the host-sized
driver heap (session.py).

Each test removes only the dirs it allocated: the global cleanup would also
delete dirs that DataFrames built earlier in the session still read lazily.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from flink_1_12_0_src_spark import session
from flink_1_12_0_src_spark.streaming import run as srun, source


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


def test_driver_heap_follows_physical_memory(monkeypatch):
    """The default heap is 40% of physical memory in whole GiB, clamped to
    1g..48g, so a 15 GiB host gets 6g and big hosts keep 48g."""
    page = 4096

    def heap_for(gib: float) -> str:
        pages = int(gib * 2**30) // page
        monkeypatch.setattr(
            session.os, "sysconf",
            lambda name: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[name],
        )
        return session._default_driver_memory()

    assert heap_for(15.7) == "6g"
    assert heap_for(32) == "12g"
    assert heap_for(2) == "1g"  # 0.8 GiB rounds down to 0, floor is 1g
    assert heap_for(120) == "48g"
    assert heap_for(1024) == "48g"


def test_upsert_query_table_is_cleaned_scratch(spark, sf_dir):
    """cdc_foreachbatch_upsert's maintained table lives in a scratch dir that
    is removed at exit, not in an untracked mkdtemp under the temp root."""
    from flink_1_12_0_src_spark.queries import load_all

    pattern = os.path.join(tempfile.gettempdir(), "upsert_tbl_*")
    before = set(glob.glob(pattern))
    load_all()["cdc_foreachbatch_upsert"].spark(spark, sf_dir).collect()
    tracked = set(srun._ALLOCATED)
    assert set(glob.glob(pattern)) - before <= tracked
    assert any(os.path.basename(d).startswith("upsert_tbl_") for d in tracked)


def test_bucketed_join_leaves_no_warehouse_entry(spark, sf_dir):
    """join_bucketed_coloc writes its two bucketed tables into scratch dirs
    that are removed at exit: nothing new appears under the session's
    warehouse dir."""
    from urllib.parse import urlparse

    from flink_1_12_0_src_spark.queries import load_all

    for t in spark.catalog.listTables():
        if "_bucketed_" in t.name and not t.isTemporary:
            spark.sql(f"DROP TABLE {t.name}")  # so the query writes them anew
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def entries() -> set[str]:
        return set(os.listdir(warehouse)) if os.path.isdir(warehouse) else set()

    before = entries()
    load_all()["join_bucketed_coloc"].spark(spark, sf_dir).collect()
    assert entries() <= before
    assert sum(os.path.basename(d).startswith("bucketed_") for d in srun._ALLOCATED) >= 2


def test_stale_cache_roots_are_pruned(tmp_path, monkeypatch):
    """Older versioned roots and the dead CDC replay dirs go; the current and
    newer roots, and the rest of the files cache, stay."""
    monkeypatch.setattr(
        source, "_CACHE_ROOT", str(tmp_path / "flink_1_12_0_src_spark_streams_v6")
    )
    planted = {
        "flink_1_12_0_src_spark_streams_v4": False,
        "flink_1_12_0_src_spark_streams_v5": False,
        "flink_1_12_0_src_spark_streams_v6": True,
        "flink_1_12_0_src_spark_streams_v10": True,
        "flink_1_12_0_src_spark_files/sf_cdc_retract_changelog": False,
        "flink_1_12_0_src_spark_files/sf_cdc_upsert_stream": False,
        "flink_1_12_0_src_spark_files/sf_events_json": True,
    }
    for rel in planted:
        (tmp_path / rel / "k").mkdir(parents=True)
    source._prune_stale_caches.cache_clear()
    try:
        source._prune_stale_caches()
    finally:
        source._prune_stale_caches.cache_clear()
    assert {rel: (tmp_path / rel).exists() for rel in planted} == planted
