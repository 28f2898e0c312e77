"""Stage checkpointing, resume, and per-partition lineage metrics
(SURVEY.md §7.2 stage 8; north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

Every pipeline stage writes to its own table; a ``_metrics`` sidecar
records per-partition row counts and wall time, and a ``_committed``
marker makes the write atomic-observable.  Restart = anti-join the
committed keys.

A parquet stage is written once, zstd-compressed, and never read back:
the lineage counts come from the row counts in the footers of the files
the write added (read in-process, no Spark job), keyed by the writing
task's index in each ``part-NNNNN`` file name.  A partitioned write
(triples by ``pred``, the ANN table by bucket/list) is rebalanced on its
partition columns first, so each partition directory gets a few files
rather than one per upstream task, and AQE still splits a hot one.
A stage is read with the schema Spark stored in its files' footers
(:func:`read_parquet`), so a read plans without the one-task Spark job
that parquet schema inference runs.

The PHYSICAL table layer is pluggable (:class:`ParquetFormat` /
:class:`IcebergFormat`, ``--table-format`` on the pipeline job).  The
default writes bare parquet directories under ``out_dir``.  On an
Iceberg deployment the same stages go through
``df.writeTo(catalog.ns.stage)`` / ``spark.read.table(...)`` — writes
are snapshot-atomic in the catalog — and the ``_committed_<stage>``
marker CONTENT becomes the committed snapshot id, so "resumes from the
last committed Iceberg snapshot checkpoint" (BASELINE.json north_star)
is literally the marker contract: the control flow (markers, params
sidecars, ``_delta_pending`` crash recovery) is identical across
formats, only the bytes under the table ident change.

The reference analog is the run-stats object + summary sink
(kb-generator.js:36-41, :487-509) and the API's background-generation
status map (api-server.js:259-296) — re-expressed as durable,
partition-grained artifacts instead of in-process state.
"""

from __future__ import annotations

import json
import os
import re
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Per write, not session-wide: the pages input and every other parquet
# write keep their codec.  Snappy barely compresses this text-heavy KB.
CODEC = "zstd"

# Spark names each output file part-<task index>-<job uuid>…
_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")


def _part_files(path: str) -> set[str]:
    """Every data file under a (possibly hive-partitioned) parquet dir."""
    out = set()
    for d, dirs, files in os.walk(path):
        # what Spark's reader skips, e.g. a crashed write's _temporary
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out.update(os.path.join(d, f) for f in files if _PART_FILE.match(f))
    return out


def _footer_rows(path: str) -> int:
    return pq.read_metadata(path).num_rows


# Spark stores the schema of the rows it writes in each file's footer
_SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the one-task Spark job its
    schema inference runs: the schema comes from the footer of one data
    file, read in-process, as inference itself reads one.  Partition
    columns are still discovered from the directory names.  A table no
    Spark wrote carries no such schema and is inferred as usual."""
    schema = None
    files = sorted(_part_files(path))
    if files:
        meta = pq.read_metadata(files[0]).metadata or {}
        if _SPARK_SCHEMA in meta:
            schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA]))
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _lineage(files: set[str]) -> list[dict]:
    """Per-writing-task row counts of ``files``, from their footers."""
    per_task: dict[int, int] = {}
    for p in files:
        task = int(_PART_FILE.match(os.path.basename(p)).group(1))
        per_task[task] = per_task.get(task, 0) + _footer_rows(p)
    return [
        {"partition_id": t, "n_rows": n}
        for t, n in sorted(per_task.items())
        if n
    ]


class ParquetFormat:
    """Default physical layer: one parquet directory per stage under
    ``out_dir``.  ``commit_ref`` has no catalog snapshot to point at,
    so the marker carries the write timestamp (pre-round-5 behavior,
    byte-compatible with existing KBs)."""

    name = "parquet"

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def _path(self, stage: str) -> str:
        return os.path.join(self.out_dir, stage)

    def write(
        self,
        df: DataFrame,
        stage: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> tuple[str | None, list[dict]]:
        """→ (commit ref, per-partition row counts of the files this
        write added).  An append lists the table before and after, so
        only its own files count."""
        path = self._path(stage)
        before = _part_files(path) if mode == "append" else set()
        if partition_by:
            df = df.hint("rebalance", *partition_by)
        writer = df.write.mode(mode).option("compression", CODEC)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        return None, _lineage(_part_files(path) - before)

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return read_parquet(spark, self._path(stage))

    def count(self, spark: SparkSession, stage: str) -> int:
        return sum(_footer_rows(p) for p in _part_files(self._path(stage)))


class IcebergFormat:
    """Iceberg physical layer: stages are tables
    ``<table_prefix>.<stage>`` in a configured Spark catalog; every
    write commits a snapshot and :func:`write_stage` records that
    snapshot id in the ``_committed_<stage>`` marker.

    Requires the Iceberg Spark runtime on the classpath and a catalog
    conf, e.g.::

        spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \\
          --conf spark.sql.catalog.kb=org.apache.iceberg.spark.SparkCatalog \\
          --conf spark.sql.catalog.kb.type=hadoop \\
          --conf spark.sql.catalog.kb.warehouse=/data/warehouse \\
          jobs/run_kg_pipeline.py --table-format iceberg --table-prefix kb.crawl ...

    Fails fast at construction when the catalog is not configured (the
    sandbox ships no Iceberg jar — ``tests/test_runtime.py`` pins the
    error message and skips the live path when the jar is absent)."""

    name = "iceberg"

    def __init__(self, spark: SparkSession, table_prefix: str):
        catalog = table_prefix.split(".", 1)[0]
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if not impl:
            raise RuntimeError(
                f"--table-format iceberg needs a configured Spark "
                f"catalog: set spark.sql.catalog.{catalog} (e.g. "
                "org.apache.iceberg.spark.SparkCatalog) plus its "
                "type/warehouse confs, and ship the "
                "iceberg-spark-runtime jar via --packages"
            )
        self.table_prefix = table_prefix

    def _ident(self, stage: str) -> str:
        return f"{self.table_prefix}.{stage}"

    def write(
        self,
        df: DataFrame,
        stage: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> tuple[str | None, list[dict]]:
        ident = self._ident(stage)
        spark = df.sparkSession
        w = df.writeTo(ident)
        if mode == "append" and spark.catalog.tableExists(ident):
            w.append()
        else:
            if partition_by:
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
        # The table's CURRENT snapshot (the `main` branch head in the
        # `refs` metadata table), not `snapshots ORDER BY committed_at`:
        # committed_at has millisecond granularity, so a timestamp sort
        # is ambiguous even in the single-writer case.  Each stage
        # table has ONE writer (this job) by design, so the branch head
        # read here IS this write's commit; under an out-of-contract
        # concurrent writer the head could advance between commit and
        # read — a far narrower window than the timestamp sort, and
        # "the last committed snapshot checkpoint" (the resume
        # contract) is still what the marker records.
        row = spark.sql(
            f"SELECT snapshot_id FROM {ident}.refs WHERE name = 'main'"
        ).first()
        # lineage: an overwrite reads the written table back, an append
        # counts the delta (re-reading the table would make every
        # per-document delta append O(corpus))
        counted = df if mode == "append" else self.read(spark, stage)
        per_part = (
            counted.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("n_rows"))
            .collect()
        )
        return f"snapshot={row[0]}" if row else None, sorted(
            (r.asDict() for r in per_part), key=lambda d: d["partition_id"]
        )

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.table(self._ident(stage))

    def count(self, spark: SparkSession, stage: str) -> int:
        return self.read(spark, stage).count()


def write_stage(
    df: DataFrame,
    out_dir: str,
    stage: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    fmt: ParquetFormat | IcebergFormat | None = None,
) -> dict:
    """Write a stage output + per-partition lineage metrics.

    Returns the metrics dict: {stage, wall_sec, n_rows, partitions:
    [{partition_id, n_rows}, ...]}.

    The counts describe THIS write: the whole table for
    ``mode='overwrite'``, only the appended rows for ``mode='append'``
    (the resume path's delta writes — the sidecar then holds the
    lineage of the increment, not of the cumulative table).  A parquet
    stage takes them from the written files' footers, so counting adds
    no Spark job; ``partition_id`` is the writing task's index.
    """
    fmt = fmt or ParquetFormat(out_dir)
    t0 = time.time()
    commit_ref, parts = fmt.write(
        df, stage, mode=mode, partition_by=partition_by
    )
    metrics = {
        "stage": stage,
        "mode": mode,
        "format": fmt.name,
        "wall_sec": round(time.time() - t0, 3),
        "n_rows": sum(p["n_rows"] for p in parts),
        "partitions": parts,
    }
    with open(os.path.join(out_dir, f"_metrics_{stage}.json"), "w") as f:
        json.dump(metrics, f, indent=1)
    with open(os.path.join(out_dir, f"_committed_{stage}"), "w") as f:
        # parquet: commit wall time; iceberg: the committed snapshot id
        # — the marker IS the "last committed snapshot checkpoint"
        f.write(commit_ref or str(int(time.time())))
    return metrics


def is_committed(out_dir: str, stage: str) -> bool:
    return os.path.exists(os.path.join(out_dir, f"_committed_{stage}"))


def read_stage(
    spark: SparkSession, out_dir: str, stage: str,
    fmt: ParquetFormat | IcebergFormat | None = None,
) -> DataFrame:
    return (fmt or ParquetFormat(out_dir)).read(spark, stage)


def resume_delta(
    inputs: DataFrame, spark: SparkSession, out_dir: str, stage: str,
    key: str = "url",
    fmt: ParquetFormat | IcebergFormat | None = None,
) -> DataFrame:
    """Rows of ``inputs`` not yet present in the committed stage output
    — the restart anti-join (left_anti keeps the big side map-local
    when the committed key set is broadcastable; at scale this is a
    shuffled anti-join on the key, which is exactly what we want)."""
    if not is_committed(out_dir, stage):
        return inputs
    done = read_stage(spark, out_dir, stage, fmt=fmt).select(key).distinct()
    return inputs.join(done, on=key, how="left_anti")


def run_metrics(out_dir: str) -> list[dict]:
    out = []
    for fn in sorted(os.listdir(out_dir)):
        if fn.startswith("_metrics_") and fn.endswith(".json"):
            with open(os.path.join(out_dir, fn)) as f:
                out.append(json.load(f))
    return out
