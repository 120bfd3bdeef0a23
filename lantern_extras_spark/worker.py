"""Per-process set-up for the PySpark Python workers that run this package's
kernels.

PySpark calls `importlib.invalidate_caches()` at the start of every task
(`pyspark/worker_util.py`). On CPython below 3.13 that makes every
`zipimporter` on `sys.path_importer_cache` re-read its archive's whole
directory at once. A warm worker holds a dozen or more of them over
pyspark.zip and the Spark jars, which costs 0.1-0.2 s of CPU per task.
CPython 3.13 made the re-read lazy. `prepare()` installs the equivalent for
older interpreters: an archive is re-read only when its
`(mtime_ns, size, inode)` changed since this process last read it.

The package's `__init__` calls `prepare()`, so any kernel whose pickled
closure refers to package code installs it when the worker unpickles it.
A kernel that refers to none (only numpy, pandas and its own locals) calls
`prepare()` itself.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install_zip_refresh() -> bool:
    """Make `zipimporter.invalidate_caches` skip unchanged archives.

    Idempotent. Returns whether the stat-checked refresh is in place; on
    CPython 3.13+ nothing is installed and the result is False."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13):
        return False
    if getattr(cls.invalidate_caches, "_stat_checked", False):
        return True
    reread = cls.invalidate_caches
    read_at: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and read_at.get(self.archive) == key and files is not None:
            # unchanged since the last read: share that read's directory
            self._files = files
            return
        reread(self)
        read_at[self.archive] = key

    invalidate_caches._stat_checked = True
    cls.invalidate_caches = invalidate_caches
    return True


def prepare() -> None:
    """Install the worker-side fixes when running inside a PySpark worker;
    a no-op on the driver. Kernels call it once, when they start."""
    from pyspark import SparkFiles

    if getattr(SparkFiles, "_is_running_on_worker", False):
        install_zip_refresh()
