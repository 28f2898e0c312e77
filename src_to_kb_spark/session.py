"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster; every conf
here is chosen for the 100 TB case and merely *also* works locally:

* AQE on (runtime coalesce, skew-join splitting) — the link-scoring
  join against the entity dictionary is skewed by construction.
* Arrow on — all per-row logic rides pandas/Arrow UDF batches; there is
  no row-at-a-time Python anywhere in the engine.
* shuffle partitions sized to cores locally; on a real cluster this is
  overridden by AQE coalescing from a high initial partition count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "src_to_kb_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # 4× cores: tasks small enough for work-packing (a stage whose
        # partition count equals the core count has zero slack — the
        # slowest task IS the stage time), AQE coalesces upward-sized
        # remains
        shuffle_partitions = max(cpus * 4, 32)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep parallelism when coalescing: default advisory size
        # (64 MB) collapses our narrow mid-pipeline shuffles to a
        # handful of partitions, capping JVM stages at ~20% CPU
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
