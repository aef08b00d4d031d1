"""Keep zipimport's directory cache across ``importlib.invalidate_caches()``
while the archive on disk is unchanged.

PySpark's Python worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). Before CPython 3.13, every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` then eagerly re-reads
its archive's whole central directory. A reused worker holds about 16
importers into the 1,328-entry ``pyspark.zip``, so every task of every pandas
/ Arrow UDF paid 0.16-0.25 s (4-vCPU host) before its first line ran, and a
no-op ``mapInArrow`` job took 0.40 s instead of 0.17 s. CPython 3.13 made the
re-read lazy (gh-103200); on older interpreters :func:`install` wraps
``zipimporter.invalidate_caches`` so it re-reads only when the archive's
``(st_mtime_ns, st_size)`` differs from the last read, and keeps the cached
directory otherwise. A rewritten archive is still re-read, as
``invalidate_caches`` promises.

``baum_welch_spark/__init__.py`` installs it, so every worker that unpickles
a package UDF gets it from its next task on.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches

#: archive path -> (st_mtime_ns, st_size) taken just before its directory
#: was last read through the wrapper. Process-wide, keyed like
#: ``zipimport._zip_directory_cache``: importers of one archive share it, so
#: the archive is read once per change, not once per importer.
_read_stat: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_stat.pop(self.archive, None)
        _original_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_stat.get(self.archive) == stamp:
        self._files = files
        return
    # stat before the read: a rewrite racing the read shows as a change
    # on the next call, never as a stale directory kept
    _original_invalidate(self)
    _read_stat[self.archive] = stamp


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` on CPython < 3.13
    (idempotent); on 3.13+ the stock method is already lazy."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
