"""SparkSession factory.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]``; production would
target a cluster master. All scale-sensitive knobs (AQE, shuffle partitions,
Arrow) are set here once so every operator inherits them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEF_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "cicevse2024-tfm-spark") -> SparkSession:
    """Create (or fetch) the session.

    - AQE on: runtime coalescing + skew-join mitigation matter at 100 TB.
    - shuffle.partitions sized to cores locally; a cluster deployment
      overrides via spark-defaults (AQE coalesces down anyway).
    - UTC session timezone: required for DuckDB-oracle comparability and
      sane cross-cluster semantics.
    - Arrow on: every pandas_udf / mapInPandas edge is Arrow-batched.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.driver.host", "127.0.0.1")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_SHUFFLE_PARTITIONS", _DEF_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
