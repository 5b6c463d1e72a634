"""SparkSession construction with scale-appropriate defaults.

Local testing uses local[N]; on a real cluster the same settings apply via
spark-submit --py-files (see README). AQE is enabled for runtime re-planning
and skew-join splitting; Arrow is enabled for the pandas-UDF stages.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "wikiprep-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """One task slot per core (``spark.task.cpus`` stays at Spark's
    default of 1).  Each python-heavy stage keeps ONE python worker hot
    per task — the fused transform parses and runs the markup kernel in
    a single mapInPandas — so one worker per core is the kernel's
    parallelism.  ``SPARK_GRAFT_CPUS`` sizes ``local[k]`` (default: all
    cores); ``SPARK_GRAFT_DRIVER_MEM`` sets the driver memory."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # big page texts: keep Arrow batches modest so executor memory is
        # bounded by batch_size * max_page_size, not partition size
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # python-heavy scans (markup transform) want small, even input
        # splits: 32 MB of page text ~ a few seconds of kernel work per
        # task, so wave quantization can't starve a level and the task
        # graph is identical at every cluster size (default 128 MB packs
        # a whole stage into a handful of tasks)
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # page text compresses ~10x in parquet, so a byte-packed partition
        # hides an order of magnitude more python-kernel work than its file
        # size suggests; a high open-cost stops the scan from packing many
        # small text files into one giant python task
        .config("spark.sql.files.openCostInBytes", "16777216")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-Dlog4j2.level=error")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
