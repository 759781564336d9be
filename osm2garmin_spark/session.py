"""SparkSession factory tuned for the tiling engine.

Local mode runs ``local[SPARK_GRAFT_CPUS]`` (32 when unset) with as many
shuffle partitions, AQE on and Arrow on. On a real cluster only
master/memory change — the shuffle/AQE settings are the scale story
(SURVEY.md §4): AQE coalesces the density groupBy's tiny post-shuffle
partitions and splits skewed tile-assignment partitions (dense metro
cells) at runtime.

PySpark's DataFrame-debugging call-site capture is off. With it on (the
4.1 default) every Column operator walks the Python stack and sets the
JVM's origin before and after the call: about 10 py4j round trips per
operator instead of 1-3 (1.48 ms vs 0.23 ms on a 4-vCPU VM), and the first
operator imports IPython into the driver (+26 MB resident, +0.47 s).
Building one range join took 1,831 round trips with it and 1,031 without.
Error messages keep their text; they only lose the captured call-site
fragment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "osm2garmin_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if master.startswith("local") else "200"
        shuffle_partitions = int(n) if str(n).isdigit() else 32
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # split small single-row-group files across tasks: the sf tables
        # arrive as one parquet file each, and 128 MB maxPartitionBytes
        # planned them as ONE task — compute-heavy scalar chains (map-unit
        # codec, derived coords) then ran single-core. 16 MB keeps scans
        # wide locally; on a real cluster the inputs are many files anyway.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # call-site capture per Column operator (module docstring): the
        # Python side's stack walk + JVM origin calls, and the JVM side's
        # query-context fragment they feed
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.dataFrameQueryContext.enabled", "false")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
