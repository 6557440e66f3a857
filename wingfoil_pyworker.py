"""PySpark worker daemon that keeps zip archives from being re-read per task.

``wingfoil_spark.session.get_spark`` selects this module through Spark's
``spark.python.daemon.module`` conf, so every Python worker the engine forks
(pandas UDFs, ``mapInPandas``, ``applyInPandasWithState``) starts from it.

Why: before each task a PySpark worker runs ``setup_spark_files``, which
ends in ``importlib.invalidate_caches()``. On CPython 3.10-3.12 that makes
every ``zipimport.zipimporter`` re-parse its whole archive in pure Python.
A worker holds about a dozen importers into the 1,328-entry ``pyspark.zip``
(one per imported subpackage), so each task paid 0.06-0.15 s in a quiet
process on a 4-vCPU host, and more with four workers busy, before its
first row.

What: after importing ``pyspark.daemon`` and before any fork,
:func:`install` wraps ``zipimport.zipimporter.invalidate_caches`` so that
it re-reads an archive only when the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the
stat taken when its directory was last read, or when the cached directory
is gone. Otherwise the importer just picks up the cached directory. Zips
added by ``addPyFile`` and zips rewritten in place are still read;
``FileFinder`` caches are left alone. Then the stock
``pyspark.daemon.manager()`` runs unchanged.

Limit: this module may import only the standard library and
``pyspark.daemon``. Everything it imports is loaded before the daemon forks
its workers; importing ``wingfoil_spark`` here would pull pandas and pyarrow
into the daemon's start-up and delay the first Python task by seconds. That
is also why it lives at the top level, beside the package, and not inside
it. Deployments must ship it next to ``wingfoil_spark``, which workers
already import to unpickle UDF closures.
"""

from __future__ import annotations

import os
import zipimport


def _signature(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` for this process.

    Archives already cached are recorded with their current stat: they were
    read moments earlier by the imports that started this process."""
    original = zipimport.zipimporter.invalidate_caches
    cache = zipimport._zip_directory_cache
    # archive path -> (stat signature, directory dict) as of its last read
    read_at: dict[str, tuple[tuple[int, int, int], dict]] = {}
    for path, files in cache.items():
        try:
            read_at[path] = (_signature(path), files)
        except OSError:
            pass

    def invalidate_caches(self):
        path = self.archive
        try:
            sig = _signature(path)
        except OSError:
            sig = None
        seen = read_at.get(path)
        if seen is not None and seen[0] == sig and cache.get(path) is seen[1]:
            self._files = seen[1]
            return
        read_at.pop(path, None)
        original(self)
        if sig is not None and path in cache:
            read_at[path] = (sig, cache[path])

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
