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
- Driver G1 regions pinned at 4 MiB and broadcast pieces at 1 MiB, so
  Spark's 1 MiB serialization chunks and its broadcast pieces are young
  objects, not humongous ones, at any heap size (see
  ``_DRIVER_GC_OPTIONS``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


#: G1 allocates an object of half a region or more as "humongous":
#: straight into old-generation regions, and each such allocation can
#: start a concurrent cycle. G1 sizes regions from the heap: 1 MiB up
#: to a 2 GiB heap, 4 MiB at 8 GiB (the engine's default driver heap).
#: Spark serializes every stage's task binary and every collected
#: result into 1 MiB chunks, and cuts every broadcast into pieces of
#: ``spark.broadcast.blockSize`` (4 MiB by default). On a 1 GiB driver
#: heap all of those were humongous, and they started about half the
#: young GCs of a report_chain run at sf0.01. G1 grows the heap
#: by the share of time spent in GC pauses, so the committed heap then
#: ranged over 500-670 MB with the host's load. With 4 MiB regions and
#: 1 MiB pieces none of those buffers is humongous, at any heap size.
_DRIVER_GC_OPTIONS = "-XX:G1HeapRegionSize=4m"
_BROADCAST_BLOCK_SIZE = "1m"


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
        # JVM flags only take effect when this call launches the JVM;
        # defaultJavaOptions leaves extraJavaOptions to the caller
        .config("spark.driver.defaultJavaOptions", _DRIVER_GC_OPTIONS)
        .config("spark.broadcast.blockSize", _BROADCAST_BLOCK_SIZE)
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
