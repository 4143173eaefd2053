"""Python-worker fix: re-read a zip archive's directory only when it changed.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the start
of EVERY task (``pyspark.worker_util.setup_spark_files``). On CPython >=
3.10 that calls ``zipimport.zipimporter.invalidate_caches`` on every
cached zip importer, and each call re-reads its archive's whole central
directory. The worker holds one importer per imported pyspark subpackage
(16 of them over ``$SPARK_HOME/python/lib/pyspark.zip``, 26,672 directory
entries each read), so every task — even on a reused worker — paid
~0.2 s before running a line of engine code. That was most of the
"Python worker stage launch" share of the query latency floor.

The guard keeps the original semantics where they matter: an archive is
re-read when its (mtime, size) differs from the last read (a new
``--py-files`` zip, an ``addPyFile`` that rewrote one), and otherwise the
importer re-attaches to the shared, already-read directory. It is
installed once per worker process when the package is first imported
inside a task — that is, by the first engine UDF a worker runs — and
never on the driver. No config, no custom daemon module: a
``spark.python.daemon.module`` cannot import the package under
``--py-files``, because the zip is not on the daemon's path when it starts.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (mtime_ns, size) at its last directory read
_SEEN: dict[str, tuple[int, int] | None] = {}
_ORIGINAL = None


def _stat_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _guarded_invalidate(self) -> None:
    key = _stat_key(self.archive)
    if key is not None and _SEEN.get(self.archive) == key:
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None:
            self._files = files  # another importer already re-read it
            return
    # stat BEFORE the read: a rewrite racing the read leaves a key that
    # no longer matches, so the next call reads again
    _ORIGINAL(self)
    _SEEN[self.archive] = key


def installed() -> bool:
    """True when the guard is active in this process."""
    return getattr(zipimport.zipimporter, "invalidate_caches", None) \
        is _guarded_invalidate


def install() -> None:
    """Install the guard in this process (idempotent; no-op before 3.10,
    where ``zipimporter`` has no ``invalidate_caches``)."""
    global _ORIGINAL
    if sys.version_info < (3, 10) or installed():
        return
    _ORIGINAL = zipimport.zipimporter.invalidate_caches
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate


def install_on_worker() -> None:
    """Install the guard only inside a Spark task (a Python worker);
    the driver's importers are left untouched."""
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        install()
