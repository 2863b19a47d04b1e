"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the same config block is what we'd
pass to ``spark-submit --py-files`` on a multi-executor cluster. AQE is
always on (runtime re-planning: partition coalescing + skew-join
splitting), Arrow is always on (every heavy kernel in this engine is a
pandas/Arrow UDF). The generated-code cache holds 1000 classes, not
Spark's 100, so the engine's ~380-class working set is compiled once.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sparktiles",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cpus: parallelism for local mode; defaults to $SPARK_GRAFT_CPUS or 32.
    shuffle_partitions: defaults to 4x cpus (AQE coalesces down as needed).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)
    b = SparkSession.builder.appName(app_name)
    # Under spark-submit the JVM gateway already exists (PythonRunner
    # exports PYSPARK_GATEWAY_PORT) and carries the --master / cluster
    # deploy conf; forcing local[N] here would silently turn a cluster
    # job into a driver-local one. Only self-managed sessions pick a
    # local master.
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        b = b.master(f"local[{cpus}]")
    b = (
        b
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE: the AQE byte advisory stays at its 64 MB default.
        # Globally lowering it to 8 MB was measured ~11% slower at 32
        # cores (it fragments every byte-bound exchange; grid in
        # BENCH.md).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Spark's generated-code cache holds 100 classes by default. The
        # 16 perfbench curation legs use ~380 distinct classes and one
        # perfbench tiles op ~185, so at 100 every sweep recompiled (and
        # the JVM re-loaded and re-JITted) ~490 classes it had just
        # evicted. 1000 is 2.6x the largest measured working set and
        # still bounds the classes a session keeps alive. The cache is
        # JVM-global and sized from this conf when it is first used: it
        # must be in the builder before the first query, and it has no
        # effect on a JVM whose session already exists.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # shuffle/broadcast IO codec: zstd moves ~31% fewer bytes than
        # lz4 on the tile-spine shuffle at equal wall time (measured
        # 153.8 -> 106.3 MB, same encode seconds at 8 cores) — on a
        # cluster that is NIC/bus headroom for free. Overridable for
        # latency-sensitive tiny-shuffle local runs.
        .config("spark.io.compression.codec",
                os.environ.get("SPARK_GRAFT_IO_CODEC", "zstd"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in the driver JVM so
    far (a process-wide counter; local-mode executors share the JVM)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
