"""Python-worker daemon for qs_spark sessions: ``pyspark.daemon`` plus a
stat-guarded zip directory cache.

Why: Spark workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``,
and every task runs ``importlib.invalidate_caches()`` while it sets up its
files (``pyspark.worker_util.setup_spark_files``).  On Python 3.10/3.11
``zipimporter.invalidate_caches`` eagerly re-parses the archive's central
directory (1,328 entries for pyspark 4.1), once per zipimporter, and a worker
holds one zipimporter per imported pyspark package directory (14-16).  That
was ~0.12-0.18 s of CPU per Python task, on every stage that runs Python
(extract kernels, dedup sketches, Jaccard verify, ...), against an archive
that never changes while the worker lives.

``install()`` wraps ``zipimporter.invalidate_caches`` so that it reads the
directory only when the archive's ``(st_mtime_ns, st_size, st_ino)`` differs
from the stat taken at the last read of that archive; otherwise the importer
adopts that read's directory, which is what a re-read would return.  A
rewritten or replaced archive is still re-read, so the stdlib contract holds.

``get_spark`` selects this module with ``spark.python.daemon.module``.  The
daemon forks every worker, so each worker inherits the patch before its
first task.  Run as ``python -m qs_spark.pydaemon``.
"""

from __future__ import annotations

import functools
import os
import zipimport


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def guard(original):
    """Wrap a ``zipimporter.invalidate_caches`` implementation so that it
    runs only when the importer's archive changed since its last read."""
    # archive path -> (stat signature before the read, directory it produced)
    reads: dict[str, tuple[tuple[int, int, int], dict]] = {}

    @functools.wraps(original)
    def invalidate_caches(self):
        sig = _signature(self.archive)
        seen = reads.get(self.archive)
        if sig is not None and seen is not None and seen[0] == sig:
            self._files = seen[1]
            return
        original(self)
        if sig is not None and self.archive in zipimport._zip_directory_cache:
            reads[self.archive] = (sig, self._files)

    return invalidate_caches


def installed() -> bool:
    """True when this process's zipimporters use the guarded method."""
    return hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` in this process.  Idempotent.
    A no-op (returns False) on interpreters whose zipimporter has no eager
    ``invalidate_caches`` (before 3.10; 3.12+ re-reads lazily instead)."""
    cls = zipimport.zipimporter
    if installed():
        return True
    if "invalidate_caches" not in vars(cls) or hasattr(cls, "_get_files"):
        return False
    cls.invalidate_caches = guard(cls.invalidate_caches)
    return True


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
