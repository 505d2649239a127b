"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Spark settings every engine session carries, whatever launches it
# (get_spark here, tools/run_linkage_job.py under spark-submit).
ENGINE_CONF = {
    # AQE: runtime re-planning + skew-join splitting, the first line of
    # defense for hot block keys
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # the scorer is an Arrow-batched pandas UDF
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 2048, not the 10k default: with multi-KB text columns, 10k-row
    # Arrow batches (~30 MB) collapse JVM->worker feed throughput at
    # 32-way concurrency (measured 5-20x degradation, worsening per
    # run); ~6 MB batches pipeline smoothly.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # AQE sizes stages by SHUFFLE bytes, but the linkage stages join
    # skinny (id_a, id_b) rows to multi-KB texts and feed an Arrow UDF
    # (output ~100x input); the 1m default once coalesced the sf0.1
    # scorer to 4 tasks (11 s vs 3.5 s).  score_pairs now repartitions
    # its own input, so this floor protects the stages around the
    # scorer; retests at link scale put its effect within run-to-run
    # spread (docs/SCALE.md §AQE).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "128k",
    # PySpark 4 defaults this to true: every F.* call and Column
    # operator on the driver then walks the Python stack and makes JVM
    # calls to set and clear PySparkCurrentOrigin.  Measured: F.col
    # 13 -> 3-4 py4j commands, building run_linkage's plan 1,414 -> 624
    # (BENCH/LINK_PASS.md).  The only loss is the Python call-site
    # section of Spark's error context.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(app_name: str = "edlib-spark", master: str | None = None,
              shuffle_partitions: int | None = None, **extra) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the linkage pipeline.

    ``ENGINE_CONF`` plus shuffle partitions sized to the parallelism
    at hand.
    """
    # Warm the cffi kernel's on-disk compile cache from THIS process
    # before any executor exists: _native is imported lazily inside the
    # scoring UDFs, so on a cold cache (every source change) the first
    # kernel query would otherwise trigger up to 32 simultaneous g++
    # compiles in the Python workers — several seconds of compile storm
    # charged to whatever query ran first (the r4 bench's unexplained
    # cold-time regression; see BENCH/BASELINE.md).
    from . import _native  # noqa: F401

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[6:-1]
            shuffle_partitions = 32 if inner == "*" else max(8, int(inner))
        else:
            shuffle_partitions = 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=ENGINE_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in extra.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
