"""SparkSession factory tuned for the CDC engine.

Local-mode testing uses ``local[N]``; the same configs are what we would
ship in spark-defaults on a multi-executor cluster (AQE on, shuffle
partitions sized to cores, Arrow enabled for pandas UDFs).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def get_spark(
    app_name: str = "replicator_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores=None → ``local[*]``. On a real cluster this builder is a no-op
    passthrough (master comes from spark-submit); nothing here is
    local-mode-specific except the master URL.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        ncores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(ncores, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # PySpark otherwise wraps every DataFrame/Column call in a
        # call-site capture, at several JVM round trips per call. The
        # cost of turning it off: Spark errors from any caller (CLI,
        # streams, ops) no longer name the Python line that built the
        # failing expression (no DataFrameQueryContext); ``extra_conf``
        # may turn it back on when debugging
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """An empty DataFrame of ``schema`` that the optimizer folds to an
    empty local relation, so collecting it launches no Spark job (as
    ``createDataFrame([], schema)``, a Python RDD, does)."""
    return spark.range(1).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    ).limit(0)
