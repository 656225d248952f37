"""Spark's Python worker daemon, with zip-import directories kept across tasks.

Every PySpark task starts with ``importlib.invalidate_caches()``; before
Python 3.12 that makes each ``zipimporter`` re-read its archive's whole
directory (~16 importers of pyspark.zip, ~13 ms each: 0.15-0.2 s a task).
``session.get_spark`` runs this module as the daemon (``python -m``): it
installs ``invalidate_caches`` below, then runs pyspark's own daemon, whose
forked workers inherit the rule. On 3.12+ the stdlib is already lazy.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_ino, st_size, st_mtime_ns) its cached directory was read at
_read_at: dict[str, tuple[int, int, int]] = {}


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's directory
    only when its stat differs from the last read; every importer of the
    archive shares that one read through ``zipimport._zip_directory_cache``."""
    archive = importer.archive
    cache = zipimport._zip_directory_cache
    try:
        st = os.stat(archive)
    except OSError:
        stamp = None
    else:
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    if stamp is not None and stamp == _read_at.get(archive) and archive in cache:
        importer._files = cache[archive]
        return
    # stat before the read: a change racing the read shows at the next call
    _stdlib_invalidate(importer)
    if stamp is not None and archive in cache:
        _read_at[archive] = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        import importlib

        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()  # one read per archive, before the forks
    from pyspark import daemon

    daemon.manager()
