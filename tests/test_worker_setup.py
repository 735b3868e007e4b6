"""Stat-checked zip invalidation in Spark Python workers (``_worker.py``).

Contracts:
- an unchanged archive is not re-read by ``importlib.invalidate_caches()``;
- a rewritten archive is re-read once and its new modules import;
- a deleted archive clears the importer's files, as the original does;
- the patch is installed in Spark Python workers only, never on the driver,
  and an unchanged archive is not re-read there either.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from aether_elasticsearch_consumer_spark import _worker


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A one-module zip on ``sys.path``, and a counter of its directory
    reads. The patch is undone on teardown."""
    path = tmp_path / "mods.zip"
    _write_zip(path, "_zipinv_first")
    monkeypatch.syspath_prepend(str(path))
    for name in ("_zipinv_first", "_zipinv_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    reads = []
    real = zipimport._read_directory

    def counted(archive):
        if archive == str(path):
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(_worker, "_original", None)
    monkeypatch.setattr(_worker, "rereads", 0)
    return path, reads


def _write_zip(path, *modules):
    with zipfile.ZipFile(path, "w") as z:
        for m in modules:
            z.writestr(f"{m}.py", f"NAME = {m!r}\n")


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    _worker.install()
    assert importlib.import_module("_zipinv_first").NAME == "_zipinv_first"
    reads.clear()
    importlib.invalidate_caches()  # no stamp yet: one read
    assert len(reads) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_rewritten_archive_is_reread_once(archive):
    path, reads = archive
    _worker.install()
    importlib.import_module("_zipinv_first")
    importlib.invalidate_caches()
    _write_zip(path, "_zipinv_first", "_zipinv_second")  # same inode
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("_zipinv_second").NAME == "_zipinv_second"


def test_deleted_archive_clears_files(archive):
    path, reads = archive
    _worker.install()
    importlib.import_module("_zipinv_first")
    importlib.invalidate_caches()
    path.unlink()
    importlib.invalidate_caches()
    imp = sys.path_importer_cache[str(path)]
    assert isinstance(imp, zipimport.zipimporter) and imp._files == {}
    assert str(path) not in zipimport._zip_directory_cache


def test_install_stamps_cached_importers_once(archive):
    path, reads = archive
    importlib.import_module("_zipinv_first")  # importer made before install
    original = zipimport.zipimporter.invalidate_caches
    _worker.install()
    _worker.install()
    assert _worker._original is original
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_reused_spark_worker_rereads_nothing(spark):
    """Two jobs of a package mapInArrow. In the second, each task makes
    one ``importlib.invalidate_caches()`` call (which reads, once, any
    importer created since its worker's last read: pyspark subpackages
    imported by earlier tasks), then reports how many archives a second
    call re-read."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        from aether_elasticsearch_consumer_spark import _worker

        for _ in batches:
            pass
        importlib.invalidate_caches()
        before = _worker.rereads
        importlib.invalidate_caches()
        zips = sum(
            isinstance(i, zipimport.zipimporter)
            for i in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict(
            {
                "installed": [
                    zipimport.zipimporter.invalidate_caches
                    is _worker._invalidate_caches
                ],
                "zips": [zips],
                "rereads": [_worker.rereads - before],
            }
        )

    schema = "installed boolean, zips long, rereads long"
    df = spark.range(0, 8, numPartitions=4).mapInArrow(probe, schema)
    df.collect()
    rows = df.collect()
    assert len(rows) == 4
    assert all(r["installed"] for r in rows)
    assert all(r["zips"] > 0 for r in rows)
    assert [r["rereads"] for r in rows] == [0, 0, 0, 0]
    assert zipimport.zipimporter.invalidate_caches is not _worker._invalidate_caches
