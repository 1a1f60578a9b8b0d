"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "torscrapper_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults follow the scale posture in SURVEY.md §4: AQE on (runtime
    re-plan + skew-join splitting), Arrow on (every pandas UDF crosses
    the JVM↔Python boundary in columnar batches), UTC session timezone
    (DuckDB-oracle parity), shuffle partitions sized to cores rather
    than the 200 default.
    """
    # this sandbox VM services first-touch page faults very slowly;
    # keep glibc from returning large freed buffers to the OS so numpy/
    # Arrow churn in the Python workers (which inherit this env in
    # local mode) does not re-fault the same pages every batch
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "268435456")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")
    master = master or os.environ.get("SPARK_MASTER", "local[4]")
    cores = _master_cores(master)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores * 2)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # engine rows are compute-heavy (image decode, URL kernels in
        # pandas UDFs), so the default 64 MB advisory size would coalesce
        # a whole wave into 1-2 partitions and serialize the Python
        # stages; 2 MB keeps UDF stages as wide as the cluster
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # rows can carry ~25 KB of image payload; the 10k default would
        # put ~250 MB per in-flight task into Arrow batches and thrash
        # memory at high parallelism
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # one crawl wave + revocation runs a few hundred distinct
        # generated classes; the default 100-entry codegen cache evicted
        # them, so every wave recompiled ~100 classes with Janino
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _master_cores(master: str) -> int:
    if master == "local":
        return 1  # bare 'local' is single-threaded
    if master.startswith("local["):
        # 'local[N]', 'local[*]', and the task-retry form 'local[N,F]'
        # (whose thread count is still N — int('N,F') must not fall
        # back to 4 and halve the shuffle sizing)
        inner = master[len("local["):-1].split(",", 1)[0].strip()
        if inner == "*":
            return os.cpu_count() or 4
        try:
            return int(inner)
        except ValueError:
            return 4
    return 16
