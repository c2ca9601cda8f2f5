"""SparkSession factory tuned for the BDE workload.

Local testing runs ``local[N]``; the settings below are the ones that
matter at cluster scale too (AQE, skew handling, partition sizing,
Arrow for the few Pandas-UDF operators).

It also turns off PySpark's per-call origin capture
(``spark.python.sql.dataFrameDebugging.enabled``, a static conf that
is on by default in Spark 4.1). With it on, every ``Column`` and
``DataFrame`` call walks the Python stack and sends the call site to
the JVM, which roughly doubles the py4j round trips of a plan build;
the upload builds a few plans per table, so that is a fixed driver
cost per load. The trade-off: an analysis error raised in a session
from ``get_spark`` no longer names the Python line that built the
failing expression (the error itself and its SQL context are
unchanged). This is a fixed setting, not an option.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "linz-bde-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SQL_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing of shuffle partitions, skew-join
        # splitting, and dynamic broadcast conversion — the knobs that
        # keep the CDC merge plans healthy at 100 TB.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for Pandas UDF operators (multimodal, embedding paths);
        # batch size bounds executor memory for fat binary payloads
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS); read as long and
        # convert explicitly (see plans.tables.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # no Python call-site capture per Column/DataFrame call (see
        # the module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()
