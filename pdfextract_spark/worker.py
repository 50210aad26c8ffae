"""Per-process set-up for the package's Python stages.

A reused pyspark worker repeats two costs on every task that have
nothing to do with the task's data:

- ``setup_spark_files`` (pyspark/worker_util.py) calls
  ``importlib.invalidate_caches()``.  Before CPython 3.13 that makes
  every ``zipimporter`` re-read its archive's central directory, and a
  worker that imported pyspark from ``pyspark.zip`` (1,328 entries)
  holds one importer per imported sub-package: 14 directory reads
  after the extraction imports, 153 ms per call on a 4-vCPU VM while
  a Spark job ran beside it.
- the daemon runs ``gc.collect()`` after every task
  (pyspark/daemon.py), walking every object the imports created.

``settle_worker()`` removes both, once per process: it makes a
zipimporter re-read its archive only when the archive's
``(st_mtime_ns, st_size)`` changed since that importer last read it,
and it moves everything alive at that point (the imported modules)
into the permanent GC generation.  Every function the package hands to
``mapInArrow`` / ``mapInPandas`` / ``applyInPandasWithState`` calls it
as its first statement (tests/test_worker.py checks this).
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

_settled = False


def settle_worker() -> None:
    """Install the stat-checked zip invalidation and freeze the heap;
    a no-op after the first call in a process (the state is the
    process's: a reused worker settles once, a fresh one again)."""
    global _settled
    if _settled:
        return
    _settled = True
    install_zip_stat_check()
    gc.freeze()


def install_zip_stat_check() -> None:
    """Make ``zipimporter.invalidate_caches`` skip the directory
    re-read while the archive is unchanged.  Idempotent.

    CPython 3.13 already drops the cached directory and re-reads it
    lazily on the next lookup, so there it changes nothing."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_stat_checked", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        # stat BEFORE the read: an archive rewritten in between leaves
        # the older key, so the next call reads it again
        if key is None or self.__dict__.get("_stat_key") != key:
            reread(self)
            self._stat_key = key

    invalidate_caches._stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
