"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "edlib-spark", master: str | None = None,
              shuffle_partitions: int | None = None, **extra) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the linkage pipeline.

    Defaults chosen for scale-out behavior, not just local mode:
      * AQE on (runtime re-planning + skew-join splitting — first line of
        defense for hot block keys),
      * Arrow on (the scorer is an Arrow-batched pandas UDF),
      * shuffle partitions sized to the parallelism at hand.
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
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2048, not the 10k default: with multi-KB text columns, 10k-row
        # Arrow batches (~30 MB) collapse JVM->worker feed throughput at
        # 32-way concurrency (measured 5-20x degradation, worsening per
        # run); ~6 MB batches pipeline smoothly.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_ARROW_BATCH", "2048"))
        # AQE sizes stages by SHUFFLE bytes, but our pair-scoring stages
        # join skinny (id_a, id_b) shuffle rows to multi-KB texts and
        # feed an Arrow UDF — output bytes ~100x input bytes.  With the
        # default 1m floor AQE coalesced the sf0.1 scorer to 4 tasks
        # (11s); a 128k floor keeps the full parallelism (3.5s).  At
        # cluster scale the same reasoning holds per-executor: stages
        # feeding the kernel must be sized by their amplified output.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                os.environ.get("SPARK_MIN_PARTITION_SIZE", "128k"))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in extra.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
