"""SparkSession factory.

Defaults tuned for the staged KG pipeline: AQE on (runtime re-planning +
skew-join splitting for hot conversations), Arrow on (the extraction and
scoring stages are Arrow-batched pandas UDFs), and shuffle partitions
sized to the local core count — on a real cluster these come from
spark-submit conf instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "delm-spark",
    cores: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # ~2x cores keeps all slots busy without tiny-partition overhead at
    # local scale; at 100 TB this is set per-job through `extra_conf` (or
    # left to AQE coalescing from a high initial value).
    shuffle_partitions = max(cores * 2, 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local corpora are small; the 128m default would yield fewer scan
        # splits than cores and cap the map-phase parallelism. At real
        # cluster scale set this back up via SPARK_FILES_MAX_PARTITION.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_FILES_MAX_PARTITION", "16m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # InferFiltersFromGenerate injects `size(e) > 0` below explodes,
        # DUPLICATING the generator's input expression into a Filter. In
        # this engine every explode sits directly on the projection that
        # builds its (expensive) array — n-gram chains, the native
        # extraction — so the inferred filter re-evaluates that whole
        # expression per row for zero pruning benefit (the adjacent
        # Generate skips empties just as fast). Measured 13.3 s -> 7.6 s
        # on the KG pipeline at sf1.0; scale-independent (plan shape, not
        # a local[32] constant).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # explicit (it is the Spark default): Python workers persist across
        # tasks — worker startup is part of the measured unparallelized
        # residual (BENCH/BASELINE.md), so never let this regress silently
        .config("spark.python.worker.reuse", "true")
        # F9: the reference zstd-compresses every persisted value
        # (semantic_cache.py); here EVERY persisted artifact (stage
        # checkpoints, cache table, sinks) is parquet+zstd — real zstd,
        # better ratio than the snappy default at similar scan speed
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        # ContextCleaner unpersists dead RDD/shuffle/checkpoint blocks only
        # on driver GC; the 30min default periodic GC outlives whole jobs,
        # so long sessions accumulate every stage's localCheckpoint blocks
        # (measured 5x slowdown across a 29-min run of mixed jobs). 2min
        # bounds the leak at negligible GC cost.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4 otherwise captures the Python call site (a stack walk,
        # getActiveSession and several py4j round-trips) on EVERY Column
        # operation, so building a DataFrame costs a multiple of its
        # expression-node count in py4j calls — about half the build time
        # of the simhash builder. Cost: analysis errors no longer carry the
        # Python file:line of the failing expression in their DataFrame
        # context (the JVM message and the Python traceback are
        # unchanged). PySpark reads it once per process, at the first
        # Column operation after a session exists.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # GC / JVM tuning seam (local mode = driver JVM is the executor): on a
    # real cluster these land in spark.executor.extraJavaOptions instead
    java_opts = os.environ.get("SPARK_DRIVER_JAVA_OPTS")
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
