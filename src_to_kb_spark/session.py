"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster.  Every conf
here but one is chosen for the 100 TB case and merely *also* works
locally; the exception is the driver JVM's flags
(``DRIVER_JAVA_OPTIONS``), which are for the ``local[n]`` session this
factory always builds:

* AQE on (runtime coalesce, skew-join splitting) — the link-scoring
  join against the entity dictionary is skewed by construction.
* Arrow on — all per-row logic rides pandas/Arrow UDF batches; there is
  no row-at-a-time Python anywhere in the engine.
* shuffle partitions start at ``max(4 × cores, 32)``; AQE coalesces
  each shuffle to its bytes, aiming at ``total / defaultParallelism``
  per partition clamped to [1 MB, 8 MB].  A sub-MB shuffle becomes one
  partition, so a small input runs its Python UDF stages as one task
  each instead of paying a worker task per core; up to
  ``defaultParallelism`` MB a shuffle gets at most about one partition
  per MB.
* the driver JVM runs C1 only (``-XX:TieredStopAtLevel=1``, no C2
  JIT).  A ``local[n]`` session's driver is also its only executor,
  and it lives for one job, so it pays C2's compile cost (C2 compiler
  threads took 11-15 CPU-s of a first build over a 600-page corpus)
  and never runs long enough to earn it back.  Measured on a 4-core
  VM over perfbench's 600-page corpus (medians of 10 runs per side):
  set-up CPU falls by 41-44% and a build's CPU by 40-49%, but
  ``neardup``'s build, whose verify is JVM-heavy, takes 13% more
  wall time on C1 code (5.5 → 6.2 s; ``unique``'s falls, 4.0 → 3.6
  s).  A ``spark-submit`` JVM never sees this conf: pass the same
  flags with ``--driver-java-options`` (README).  Executor JVMs on a
  real cluster run long enough for C2 and get no flag here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the flags of the local session's JVM, see the module docstring
DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"


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
        .config("spark.driver.extraJavaOptions", DRIVER_JAVA_OPTIONS)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
