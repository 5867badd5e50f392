"""SparkSession construction with engine-tuned defaults.

Scale posture (SURVEY §4): AQE on (skew-join splitting + partition
coalescing), Arrow batches pinned so per-document UDF memory is
bounded, shuffle partitions sized to cores locally (cluster deploys
override via spark-submit conf).

PySpark's DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``,
on by default in Spark 4) is switched off: with it, every
``pyspark.sql.functions`` call captures its Python call site (a stack
walk and several py4j round trips), about 1 ms per Column, which made
building the hybrid extraction plan a sizeable share of a pass. The
cost of the default: an analysis error no longer names the Python line
that built the failing expression. Pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
to get the call sites back while debugging.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(app_name: str = "jsonld_js_spark", *, cores: int | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
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
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
