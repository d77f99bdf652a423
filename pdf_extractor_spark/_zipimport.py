"""Lazy ``zipimporter.invalidate_caches`` for Python < 3.12.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its whole
archive directory, although nothing changed: a worker holds ~16 of them
(the spark-core jar's 5k entries, ``pyspark.zip``, the py4j zip and their
sub-package paths), 155–286 ms of CPU per task at ``local[4]`` on a 4-core
Xeon host. CPython 3.12 made the invalidation lazy (gh-103200).

This backport re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from the stamp taken before its last read — the rule the stdlib
``FileFinder`` applies to directories. Otherwise the importer is re-pointed
at the directory already in ``zipimport._zip_directory_cache``. An archive
not read since the backport was installed, one missing from that cache
(its last read failed) or one whose ``stat`` fails takes the stdlib path.
On 3.12 and later nothing is installed.

Any Spark stage that unpickles a function of this package imports the
package in its worker, so the worker's later tasks skip the re-reads.
Delete this module once the oldest supported interpreter is 3.12.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before its last read
_stamps: dict[str, tuple[int, int]] = {}
_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    """Reload the archive's file data only if the archive changed."""
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        _stdlib_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _stamps.get(archive) == stamp:
        self._files = files
    else:
        # stamped before the read: a write racing the read changes the
        # stamp the next call sees, so that call re-reads
        _stdlib_invalidate(self)
        _stamps[archive] = stamp


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` on Python < 3.12;
    idempotent."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
