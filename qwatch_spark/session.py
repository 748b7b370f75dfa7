"""SparkSession factory with scale-aware defaults.

The reference's "boot" wires a hardcoded goroutine topology
(/root/reference/server/server.go:21-112); ours is a SparkSession plus a
declared pipeline (Spark's DAG *is* the plan). Defaults chosen for the
100 TB target: AQE on (runtime re-plan, skew-join mitigation), shuffle
partitions sized to parallelism, Arrow on for the pandas-UDF slow path,
UTC session TZ so results compare bit-stable against external oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "qwatch_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("QWATCH_SPARK_MASTER") or "local[{}]".format(
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = os.cpu_count() or 32 if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200  # cluster: let AQE coalesce
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # INT64 micros, not the legacy INT96 default: INT96 chunks carry
        # NO min/max statistics, which disables (a) row-group skipping on
        # warc_ts predicates and (b) the delta commit's footer stats read
        # (apply.py::_delta_footer_stats), which then falls back to a
        # per-epoch Spark aggregate job
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # local mode = single JVM: the driver heap IS the executor memory;
        # size it to the host or 32-way task concurrency GC-thrashes
        .config("spark.driver.memory", os.environ.get("QWATCH_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
