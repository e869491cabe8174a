"""PySpark's Python daemon with the engine's import-time heap frozen.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so Spark
starts it as ``python -m audioflux_spark.plans.daemon pyspark.worker``. It
imports the engine's worker-side modules and freezes them
(``pyworker.freeze_imports``), then hands over to ``pyspark.daemon`` exactly
as ``python -m pyspark.daemon`` would; every worker it forks inherits the
frozen heap. The package ``__init__`` imports ``pyworker``, so this entry
lives apart from it: ``python -m`` of a module its package already imported
runs it twice and warns.

A worker must be able to import this package: an ``ImportError`` stops the
daemon, and every Python task of the session with it.
"""

import runpy

from audioflux_spark.plans import pyworker

if __name__ == "__main__":
    pyworker.freeze_imports()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
