"""The engine's Python-worker daemon: PySpark's daemon, minus a per-task
re-read of every zip archive on the worker's ``sys.path``.

Every ``build_session`` session starts its Python workers through this
module (``spark.python.daemon.module`` in ``session._DEFAULTS``).

**Cause.**  PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task.  Before
CPython 3.13, ``zipimport.zipimporter.invalidate_caches`` reads its
archive's whole central directory again, and a worker's ``sys.path``
holds one zipimporter per package prefix of ``pyspark.zip``, the py4j zip
and the ``spark-core`` jar (on the path through
``PythonUtils.sparkPythonPath``; it holds no ``.py`` file).  One task read
16 directories holding 26,672 entries: 240–320 ms of each of 4 concurrent
tasks at ``local[4]``, before the task's function ran.

**Guard.**  :func:`install` wraps ``zipimport._read_directory`` so each
read records the archive's ``(st_mtime_ns, st_size, st_ino)``, and
replaces ``zipimporter.invalidate_caches`` with one that stats the archive
and reads it again only when that key differs from this process's last
read (or the archive has no cached directory).  Otherwise it rebinds
``self._files`` to the shared ``zipimport._zip_directory_cache`` entry.
A zip rewritten in place (an ``addPyFile`` archive replaced under the same
name) changes the key, so it is still read again and its new modules
import: the invalidation contract holds.  The daemon installs the guard
and reads each archive once before ``pyspark.daemon.manager()`` forks its
workers, so every forked (and reused) worker starts with the keys.  No
worker or UDF code changes.

**Python 3.13+.**  There ``invalidate_caches`` only drops the archive's
cache entry, so :func:`install` does nothing and this module is just
PySpark's daemon.

**Importability.**  Spark starts the daemon as ``python -m
dataengineer_spark.pyworker`` with the worker's ``PYTHONPATH`` (Spark's
archives, then the ``PYTHONPATH`` the driver ran with) in the driver's
working directory, so ``dataengineer_spark`` must import there — as it
already must for the engine's pandas UDFs, whose functions pickle by
reference to this package.  Where it does not (a driver that only puts the
repo on its own ``sys.path`` and runs from another directory, or a cluster
whose executors lack the package), every Python task fails and its job
aborts with a ``SparkException`` reading "Error from python worker: ...
Error while finding module specification for
'dataengineer_spark.pyworker' (ModuleNotFoundError: No module named
'dataengineer_spark')", then the worker's ``PYTHONPATH`` and "EOFException
occurred while reading the port number".  SQL-only jobs are unaffected.
Put the repo on ``PYTHONPATH`` (as ``perfbench`` does) or install the
package on the executors.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

#: archive path -> its (st_mtime_ns, st_size, st_ino) at this process's
#: last read of its directory
_read_at: dict[str, tuple[int, int, int]] = {}
_stock_read_directory = zipimport._read_directory
_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _stat_key(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _read_directory(archive):
    """``zipimport._read_directory`` that records the archive's key, taken
    before the read so a rewrite during the read is read again later."""
    key = _stat_key(archive)
    _read_at.pop(archive, None)
    files = _stock_read_directory(archive)
    if key is not None:
        _read_at[archive] = key
    return files


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    files = zipimport._zip_directory_cache.get(self.archive)
    key = _stat_key(self.archive)
    if files is not None and key is not None and _read_at.get(self.archive) == key:
        self._files = files
    else:
        _stock_invalidate_caches(self)


def install() -> bool:
    """Install the guard in this process (idempotent); False on Python
    3.13+, whose ``invalidate_caches`` reads nothing."""
    if sys.version_info >= (3, 13):
        return False
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


def main() -> None:
    if install():
        # archives read before install() have no key yet: read each once
        # here, so the forked workers inherit both directory and key
        importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # run the package's copy of this module, not ``__main__``'s, so the
    # guard and its keys live in ``dataengineer_spark.pyworker``
    from dataengineer_spark import pyworker

    pyworker.main()
