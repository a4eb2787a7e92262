"""The Python worker daemon (``_pydaemon``): a worker task's
``importlib.invalidate_caches()`` re-reads a zip directory only when the
archive changed on disk."""

from __future__ import annotations

import sys
import zipfile
import zipimport

import pytest

from flink_1_12_0_src_spark import _pydaemon

_EAGER_ZIP_INVALIDATE = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimporter.invalidate_caches reads lazily from CPython 3.12 (gh-103200)",
)


@_EAGER_ZIP_INVALIDATE
def test_invalidate_caches_rereads_only_a_changed_archive(spark, tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"

    def write(**modules):
        with zipfile.ZipFile(archive, "w") as z:
            for name, body in modules.items():
                z.writestr(f"{name}.py", body)

    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or stock_read(p))
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(_pydaemon, "_stamps", {})

    write(m="x = 1\n")
    imp = zipimport.zipimporter(str(archive))
    _pydaemon._install()
    reads.clear()

    # unchanged archive: no read, the cached directory is kept
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert reads == []
    assert imp._files is zipimport._zip_directory_cache[str(archive)]

    # rewritten with other content: read once, then stamped again
    write(m="x = 2\n", n="y = 3\n")
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert reads == [str(archive)]
    assert imp.find_spec("n") is not None

    # deleted: the stock behaviour, an empty directory and no exception
    archive.unlink()
    imp.invalidate_caches()
    assert imp._files == {}
    assert str(archive) not in zipimport._zip_directory_cache
    assert str(archive) not in _pydaemon._stamps

    # only the worker daemon installs it; the driver's zipimport is stock
    monkeypatch.undo()
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_worker_task_does_not_reread_zip_directories(spark):
    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == "flink_1_12_0_src_spark._pydaemon"
    )

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        reads = []
        stock_read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or stock_read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        zipimporters = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame(
            {"reads": [len(reads)], "zipimporters": [zipimporters], "minor": [sys.version_info[1]]}
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "reads long, zipimporters long, minor long")
        .first()
    )
    if row.minor >= 12 or row.zipimporters == 0:
        pytest.skip(f"worker on 3.{row.minor} holds {row.zipimporters} zipimporters")
    assert row.reads == 0, f"{row.reads} zip directory reads over {row.zipimporters} zipimporters"
