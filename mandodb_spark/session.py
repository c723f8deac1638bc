"""SparkSession construction with the engine's required configuration.

Two confs are semantic requirements, not tuning:
- ``spark.sql.session.timeZone=UTC`` — timestamps must map to unix seconds
  identically everywhere (the reference's ts is tz-less unix seconds,
  tsdb.go:146).
- Arrow execution for the pandas-UDF extension operators.

The rest is scale posture: AQE on (runtime re-planning, skew-join
handling), shuffle partitions sized to the local core count — on a real
cluster these come from the deployment, not the code.

:func:`checkpoint` and :func:`release` are the engine's one way to free a
``localCheckpoint`` once nothing reads it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


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


def checkpoint(df: DataFrame) -> tuple[DataFrame, list[int]]:
    """Eager ``localCheckpoint`` of ``df`` plus the ids of the persistent
    RDDs it created.  ``Dataset.unpersist()`` does not free a
    localCheckpoint (checkpointing persists the internal RDD directly, not
    through the cache manager), so hand the ids to :func:`release` once
    nothing reads the checkpoint any more; until then its blocks stay in
    executor storage memory."""
    registry = df.sparkSession.sparkContext._jsc.getPersistentRDDs
    before = set(registry().keySet().toArray())
    out = df.localCheckpoint(eager=True)
    return out, [rid for rid in registry().keySet().toArray() if rid not in before]


def release(spark: SparkSession, rdd_ids) -> int:
    """Unpersist the RDDs :func:`checkpoint` reported; returns how many
    were still held.  A released checkpoint cannot be read again."""
    registry = spark.sparkContext._jsc.getPersistentRDDs()
    released = 0
    for rid in rdd_ids:
        rdd = registry.get(rid)
        if rdd is not None:
            rdd.unpersist(False)
            released += 1
    return released
