"""Stat-checked ``zipimporter.invalidate_caches`` for Python < 3.13.

Every Python task a Spark worker runs starts with
``worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. Before CPython 3.13 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory at once. A worker holds one importer per package
directory it has imported from ``pyspark.zip`` (14–18 of them), and the
archive has 1328 entries, so each task pays 0.1–0.6 s before it reads a
row. The stateful trip sessionizer runs two such tasks per partition per
micro-batch, so this fixed cost dominates its batch time.

Here an importer re-reads its archive only when the archive's
``(mtime_ns, size, inode)`` differs from the last time this importer
read it, so a new or rewritten archive is still seen. CPython 3.13 made
the re-read lazy itself; there this module changes nothing.

The package ``__init__`` imports this module, so a worker installs it
the first time it unpickles an engine function; every later task in
that reused worker benefits.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """Re-read the archive only if it changed since this importer read it."""
    key = _stat_key(self.archive)
    if key is not None and key == getattr(self, "_read_key", None):
        return
    # stat before reading: a rewrite that races the read leaves the old
    # key behind, so the next call reads again
    _reread(self)
    self._read_key = key


def install() -> None:
    """Replace the method on Python < 3.13; idempotent."""
    global _reread
    current = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or current is invalidate_caches:
        return
    _reread = current
    zipimport.zipimporter.invalidate_caches = invalidate_caches


install()
