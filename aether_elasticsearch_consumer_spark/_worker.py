"""Stat-checked zip invalidation for reused Spark Python workers.

pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task, and that makes
each of the worker's ``zipimporter``s re-read its archive's directory
(pyspark.zip and its subpackages, py4j, the spark-core jar): ~200 ms of every
Python task. Imported from the package ``__init__``, so it runs in every
worker that unpickles package code, this module replaces
``zipimporter.invalidate_caches`` there, and only there (never on the
driver), with a version that re-reads an archive only when its
``(st_ino, st_mtime_ns, st_size)`` stamp is missing or changed. A replaced
``addPyFile`` archive is still re-read; a missing one still clears the
importer's files, as the original does.
"""

from __future__ import annotations

import os
import sys
import zipimport

rereads = 0  # calls through to the original since install
_original = None


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def _invalidate_caches(self) -> None:
    global rereads
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_zip_stamp", None):
        rereads += 1
        _original(self)
        self._zip_stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` once per process. Importers
    already cached are stamped now: the package is first imported inside a
    task, right after that task's own full re-read."""
    global _original
    if _original is not None:
        return
    _original = zipimport.zipimporter.invalidate_caches
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            imp._zip_stamp = _stamp(imp.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


_files = sys.modules.get("pyspark.core.files")
if _files is not None and _files.SparkFiles._is_running_on_worker:
    install()
