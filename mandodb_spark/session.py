"""SparkSession construction with the engine's required configuration.

Two confs are semantic requirements, not tuning:
- ``spark.sql.session.timeZone=UTC`` — timestamps must map to unix seconds
  identically everywhere (the reference's ts is tz-less unix seconds,
  tsdb.go:146).
- Arrow execution for the pandas-UDF extension operators.

The rest is scale posture: AQE on (runtime re-planning, skew-join
handling), shuffle partitions sized to the local core count — on a real
cluster these come from the deployment, not the code.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mandodb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        # coalesce post-shuffle partitions by size, not parallelism: a
        # 100 KB shuffle should be 1 task, not <cores> tasks — at cluster
        # scale the advisory size governs either way, locally this removes
        # the per-query floor of 32 near-empty tasks per exchange
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
