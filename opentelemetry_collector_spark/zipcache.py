"""Stat-checked zip import caches for Spark's Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, ``setup_spark_files``). On
CPython before 3.13 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-parse its archive's whole central
directory in pure Python. A local-mode worker that has run a parse
holds 18 of them, over the spark-core jar (5,359 entries),
``pyspark.zip`` (1,328 entries), py4j and this package's zip; timed
inside such workers, the call took 55-80 ms of CPU per task, against
0.1 ms with ``invalidate_if_changed``.

``install()`` replaces ``zipimporter.invalidate_caches`` with
``invalidate_if_changed``, which re-reads an archive only when its size
or mtime has changed since it was last read: in effect CPython 3.13's
lazy invalidation. A changed or newly added zip is still read. It acts
only inside a Spark task on CPython < 3.13, so the driver's import
system is left alone.

Importing this module installs it. Every Python worker that runs a
package UDF imports it (the Arrow parse UDF references it, and
by-reference UDFs reach it through the package ``__init__``), so it
imports nothing heavy: a worker pays for whatever is imported here.
"""

import os
import sys
import zipimport

from pyspark import TaskContext

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> (size, mtime_ns) of the file when its directory was last read
_read_at: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that keeps the cached directory
    of an archive unchanged since it was last read. Several importers
    share one archive (one per package directory inside it), so the
    first to see a change re-reads it and the rest pick up that read."""
    stamp = _stamp(self.archive)  # before the read: a change during it re-reads next time
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
        self._files = files
        return
    _stdlib_invalidate_caches(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read_at[self.archive] = stamp
    else:  # gone or unreadable: the stdlib call dropped it
        _read_at.pop(self.archive, None)


def install() -> bool:
    """Install ``invalidate_if_changed`` if this process is running a
    Spark task on CPython < 3.13; idempotent. Returns whether it is
    installed."""
    if sys.version_info < (3, 13) and TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    return zipimport.zipimporter.invalidate_caches is invalidate_if_changed


install()
