"""SparkSession factory tuned for both local testing and cluster scale.

Local runs are `local[N]` single-JVM; the settings below are chosen so
the same code deploys unchanged to a 1000-executor cluster:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast conversion) — the main lever that makes one static
  plan survive a 100x scale-up.
- shuffle.partitions sized to cores locally; on a real cluster AQE's
  coalescePartitions makes the initial number mostly irrelevant.
- UTC session timezone so results compare bit-for-bit with the DuckDB
  oracle (duckdb timestamps are UTC-naive).
- Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "map_reduce_sf_crime_spark") -> SparkSession:
    n = cpu_count()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # NB: runtime bloom-filter join reduction and dynamic partition
        # pruning are on by default in this Spark line (verified via
        # conf probe); parquet aggregate pushdown is NOT enabled
        # because it is DSv2-only and parquet reads here use the v1
        # FileScan path (empirically: no PushedAggregation in plans) —
        # flipping useV1SourceList would change bucketed-join behavior
        # the lakehouse layer depends on.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    # Cluster-deployment checkpoint plumbing (r12, VERDICT item 9):
    # SPARK_GRAFT_CHECKPOINT_DIR points reliable checkpoints
    # (functions/caching.plan_checkpoint(reliable=True), or the
    # global SPARK_GRAFT_RELIABLE_CHECKPOINT=1 switch) at durable
    # storage. Unset locally — localCheckpoint stays the default, and
    # plan_checkpoint refuses reliable mode loudly without a dir.
    cp_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if cp_dir:
        spark.sparkContext.setCheckpointDir(cp_dir)
    return spark
