"""Python worker daemon: pyspark's daemon, with CPython 3.12's lazy
zipimport invalidation on older interpreters.

pyspark's worker calls ``importlib.invalidate_caches()`` once per task
(``worker_util.setup_spark_files``) so that files added with
``addPyFile`` become importable. Before 3.12, each cached
``zipimporter`` answers that call by re-reading its archive's central
directory at once, and a reused worker caches one importer per imported
subpackage of pyspark.zip, the py4j zip and the spark-core jar on its
PYTHONPATH: 0.1-0.3 s of CPU per task. CPython 3.12
(https://github.com/python/cpython/issues/103200) only drops the
cached directory and re-reads it on the next lookup through that
archive. Spark runs this module with ``python -m`` through
``spark.python.daemon.module`` (see ``session.get_spark``); the workers
it forks inherit the backport.
"""

from __future__ import annotations

import sys
import zipimport


def _files(self):
    """The archive's directory: cached, or re-read after an invalidation
    (an unreadable archive imports nothing until it is readable again)."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _invalidate_caches(self):
    zipimport._zip_directory_cache.pop(self.archive, None)


def backport_lazy_zip_invalidation():
    """Give ``zipimport.zipimporter`` the 3.12 ``invalidate_caches``.
    ``_files`` becomes a class-level data descriptor, so it also shadows
    the directory that importers made before this call keep in their
    instance dict; ``__init__`` has already cached what it assigns."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter._files = property(_files, lambda self, files: None)
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    backport_lazy_zip_invalidation()
    from pyspark import daemon

    daemon.manager()
