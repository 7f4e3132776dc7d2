"""The engine's Python-worker daemon (``spark.python.daemon.module``).

PySpark forks every Python worker from one daemon process, and on every
task the worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Before CPython 3.13 that
makes each ``zipimport.zipimporter`` on ``sys.path`` re-read its archive's
central directory: ``pyspark.zip`` and its sub-packages, the py4j zip and
the Spark jars, 0.13-0.25 s per task (CPython 3.11, 4-vCPU VM) before a
UDF sees a row.

Before handing over to PySpark's own daemon loop, this module:

* replaces ``zipimporter.invalidate_caches`` with a stat-guarded one: an
  importer re-reads its archive only when the archive's
  ``(st_mtime_ns, st_size, st_ino)`` differs from the one recorded at that
  importer's last read, so a rewritten or replaced zip is still picked up;
* runs one ``importlib.invalidate_caches()``, so the importers that forked
  workers inherit already carry a signature.

It imports nothing beyond what ``pyspark.daemon`` imports (no pandas or
pyarrow before the fork); the package ``__init__`` resolves its
re-exports lazily for this reason.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _archive_signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive only if it changed since this importer read it.
    The stat comes first: an archive rewritten during the read leaves the
    older signature, so the next call reads it again."""
    sig = _archive_signature(self.archive)
    if sig is not None and sig == getattr(self, "_read_signature", None):
        return
    _reread(self)
    self._read_signature = sig


def install() -> None:
    """Guard every zipimporter's re-read and record each archive's
    signature on the importers that exist now."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
