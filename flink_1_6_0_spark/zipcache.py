"""Stop Python workers re-reading their zip archives on every task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``worker_util.setup_spark_files``), so that a file shipped with
``addPyFile`` becomes importable. Before Python 3.12 that call makes every
``zipimport.zipimporter`` on ``sys.path`` re-read its archive's whole central
directory at once: ``pyspark.zip`` (about 1 300 entries) through each of its
subpackage importers, plus the py4j zip and the spark-core jar. That is
0.12-0.23 s of every Python task on a 4-vCPU host. CPython 3.12 made the
re-read lazy (gh-103200).

``install()`` makes ``zipimporter.invalidate_caches`` re-read an archive only
when its ``(st_mtime_ns, st_size)`` changed since the last read, and
otherwise take the directory already in zipimport's shared cache. A rewritten
archive is still re-read, so ``addPyFile`` keeps working. The engine package
calls it on import, which every worker running an engine UDF does.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) at its last read
_STAMPS: dict[str, tuple[int, int] | None] = {}


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` once per process (Python <
    3.12 only)."""
    read = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or getattr(read, "_stamped", False):
        return

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = st.st_mtime_ns, st.st_size
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _STAMPS.get(self.archive) == stamp:
            # another importer of this archive may have re-read it
            self._files = files
            return
        read(self)
        _STAMPS[self.archive] = stamp

    invalidate_caches._stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
