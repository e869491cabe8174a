"""Per-task start-up cost of a reused PySpark Python worker.

Before every task a reused worker runs ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. On CPython < 3.12 that makes
every ``zipimport.zipimporter`` on ``sys.path_importer_cache`` re-read its
whole archive directory at once. A serving worker holds 16 of them, one for
each archive on the worker's ``PYTHONPATH`` and one for each package imported
from one: ``pyspark.zip`` (1,328 entries), the py4j zip and the
``spark-core`` jar (5,359 entries). With PySpark 4.1.2 on CPython 3.11 that
measured 110-190 ms of CPU before every task on a 4-core host, most of a
single-query task's worker CPU (CPython 3.12 made the invalidation lazy).

``install()`` makes the re-read conditional: an archive is read again only
when its ``(st_mtime_ns, st_size)`` differs from the stamp taken just before
its last read, or when it has left ``zipimport._zip_directory_cache``. The
stamp is taken *before* the read, so an archive that changes while it is
read carries a stale stamp and is read again next time. A changed archive is
therefore still re-read, exactly as the eager version would.

The package ``__init__`` installs it, and every engine kernel references the
package, so each worker installs it on the first task it unpickles.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before its last read;
# process-wide, like the zipimport._zip_directory_cache entries it vouches for
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _stamped_invalidate(reread):
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _stamps[self.archive] = stamp
        else:
            _stamps.pop(self.archive, None)

    invalidate_caches._afspark_reread = reread
    return invalidate_caches


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` on interpreters that re-read
    eagerly; idempotent, and a no-op on CPython >= 3.12."""
    if sys.version_info >= (3, 12):
        return
    current = zipimport.zipimporter.invalidate_caches
    if hasattr(current, "_afspark_reread"):
        return
    zipimport.zipimporter.invalidate_caches = _stamped_invalidate(current)
