"""Per-task start-up cost of a reused PySpark Python worker, and the daemon
that forks workers with it already paid.

A reused worker pays two costs on every task that have nothing to do with
the task.

**The zip re-read.** Before every task the worker runs
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On CPython < 3.12 that makes every
``zipimport.zipimporter`` on ``sys.path_importer_cache`` re-read its whole
archive directory at once. A serving worker holds 16 of them, one for each
archive on the worker's ``PYTHONPATH`` and one for each package imported from
one: ``pyspark.zip`` (1,328 entries), the py4j zip and the ``spark-core`` jar
(5,359 entries). With PySpark 4.1.2 on CPython 3.11 that measured 110-190 ms
of CPU before every task on a 4-core host (CPython 3.12 made the invalidation
lazy). ``install()`` makes the re-read conditional: an archive is read again
only when its ``(st_mtime_ns, st_size)`` differs from the stamp taken just
before its last read, or when it has left ``zipimport._zip_directory_cache``.
The stamp is taken *before* the read, so an archive that changes while it is
read carries a stale stamp and is read again next time. A changed archive is
therefore still re-read, exactly as the eager version would. The package
``__init__`` installs it, so every process that imports the package has it.

**The heap walk.** After every task PySpark's daemon calls ``gc.collect()``
in the reused worker. A worker that has run an engine kernel tracks ~76k
objects (numpy, pyarrow, pandas, pyspark and this package), and a full
collection walks all of them: 20-35 ms of CPU per task on a 4-core host,
for a task's few hundred objects of garbage.

**The daemon.** ``get_spark`` sets ``spark.python.daemon.module`` to
``plans/daemon.py``, which imports this package (installing the zip patch),
calls ``freeze_imports`` and then starts PySpark's own daemon.
``freeze_imports`` imports what the engine's worker-side kernels import and
moves that import-time heap into the permanent generation. Every worker the
daemon forks starts with those modules imported and frozen, so its first
task skips the imports and the per-task collection walks only task garbage.
The freeze runs before any fork or task, so it holds only module-level
objects, which live as long as the process anyway. The imports add one
thread to those PySpark's own daemon already forks with (it imports
``pyspark.worker``, and with it numpy and its BLAS threads): the background
thread of the jemalloc that pyarrow brings, which holds its locks across
``fork`` through its own fork handlers.
"""

from __future__ import annotations

import gc
import importlib
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


# what a worker imports while it runs build, serve and registry kernels;
# entry_queries pulls in the indexer, wand, tokenize and segments modules,
# and wand imports phrase only inside its serving task
_WORKER_IMPORTS = (
    "numpy",
    "pandas",
    "pyarrow.compute",
    "pyarrow.dataset",
    "pyarrow.parquet",
    "pyspark.worker",
    "audioflux_spark.entry_queries",
    "audioflux_spark.operators.phrase",
)


def freeze_imports() -> None:
    """Import the worker-side modules (import only: no compute) and move
    every object alive afterwards into the permanent generation, which no
    later collection walks."""
    for name in _WORKER_IMPORTS:
        importlib.import_module(name)
    gc.collect()
    gc.freeze()
