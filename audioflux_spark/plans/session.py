"""SparkSession construction with scale-oriented defaults.

One place to own the physical knobs (the reference centralizes its thread
heuristic in one spot too — /root/reference/src/stft_algorithm.c:96-104).
AQE on for runtime coalesce + skew-join; Arrow on for all pandas UDF
exchanges; shuffle partitions sized to cores locally (on a real cluster this
would be ~2-3x total cores and AQE coalesces down).

Python workers are forked from ``plans/daemon.py``, set here as PySpark's
daemon (``spark.python.daemon.module``). It imports the engine's worker-side
modules once and freezes that heap before any fork, so a reused worker's
per-task ``gc.collect()`` walks only the task's own garbage instead of ~76k
import-time objects (see ``plans/pyworker.py``). Workers must therefore be
able to import this package; sessions not built here keep PySpark's daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "audioflux_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "32m")
        # scan-parallelism floor (scale-parameterised: = this session's core
        # count): an under-split source otherwise forces the index build
        # into its repartition fallback — a full wide shuffle of the raw
        # text — where finer scan splits give the same parallelism with
        # ZERO wide ops before the blob merge (guide §6)
        .config("spark.sql.files.minPartitionNum", str(cores))
        # zstd: ~35% smaller parquet than snappy for text-heavy columns; the
        # node's disk is the one serial resource, CPU is the abundant one
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", "audioflux_spark.plans.daemon")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
