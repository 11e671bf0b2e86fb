"""Spark's Python daemon, with zip-import directories re-read lazily.

``session.get_spark`` selects this module as ``spark.python.daemon.module``.
Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  Before Python 3.13, that makes each
``zipimport.zipimporter`` re-read its archive's central directory on the
spot.  The worker's path starts with ``pyspark.zip`` (1328 entries) and the
``spark-core`` jar (5359 entries, no Python in it), reached through 16
importers, so each task paid 230-390 ms before its kernel ran (local[4],
Python 3.11).

Run as the daemon, this module first gives ``zipimporter`` the semantics
CPython 3.13 adopted (``make_zipimport_lazy``): ``invalidate_caches()`` only
drops the archive's directory, and the next lookup reads it again, once per
archive.  The invalidation is deferred, not skipped, so a zip rewritten or
added mid-session is still seen.  The daemon forks its workers after the
patch, so they inherit it.  Interpreters whose ``zipimport`` is lazy already
(``_get_files``) or lacks the private names used here run the stock daemon
unchanged.
"""

import zipimport


class _Directories(dict):
    """``zipimport._zip_directory_cache`` that reads a missing archive's
    directory on first lookup (``ZipImportError`` if it cannot), so that
    readers of the cache outside ``zipimporter`` (``pkgutil``) see an
    invalidated archive again too."""

    def __missing__(self, archive):
        files = self[archive] = zipimport._read_directory(archive)
        return files


def _files(importer):
    try:
        return zipimport._zip_directory_cache[importer.archive]
    except zipimport.ZipImportError:  # the archive is gone or unreadable
        return {}


def _invalidate_caches(importer):
    zipimport._zip_directory_cache.pop(importer.archive, None)


def make_zipimport_lazy() -> bool:
    """Patch this process's ``zipimport``; False if it is left as it was."""
    zi = zipimport.zipimporter
    if hasattr(zi, "_get_files") or not all(
        hasattr(zipimport, name) for name in ("_zip_directory_cache", "_read_directory")
    ):
        return False
    zipimport._zip_directory_cache = _Directories(zipimport._zip_directory_cache)
    # ``zipimporter.__init__`` has stored the directory in the cache before it
    # assigns ``_files``; every later read goes through the cache
    zi._files = property(_files, lambda importer, files: None)
    zi.invalidate_caches = _invalidate_caches
    return True


if __name__ == "__main__":
    from pyspark.daemon import manager

    make_zipimport_lazy()
    manager()
