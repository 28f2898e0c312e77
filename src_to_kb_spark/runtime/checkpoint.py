"""Stage checkpointing, resume, and per-partition lineage metrics
(SURVEY.md §7.2 stage 8; north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

Every pipeline stage writes its own parquet directory under the output
dir; a ``_metrics`` sidecar records per-partition row counts and wall
time, and a ``_committed`` marker (its content the commit timestamp)
makes the write atomic-observable.  Restart = anti-join the committed
keys.

A stage is written once, zstd-compressed, and never read back:
the lineage counts come from the row counts in the footers of the files
the write added (read in-process, no Spark job), keyed by the writing
task's index in each ``part-NNNNN`` file name.  A partitioned write
(the ANN table by bucket/list) is rebalanced on its partition columns
first, so each partition directory gets a few files rather than one
per upstream task, and AQE still splits a hot one.
A stage is read with the schema Spark stored in its files' footers
(:func:`read_parquet`), so a read plans without the one-task Spark job
that parquet schema inference runs.

A stage stores only what it cannot recompute.  :data:`DERIVED`
declares, per stage, the columns that are pure functions of others
(the document and chunk ids, linked's ``score`` and a chunk's
``content``), each with its operator's expression and the column it
precedes.  :func:`write_stage` drops them (Spark then prunes them from
the write plan, so the extract write never evaluates ``sha2(url)`` and
the chunk write never cuts content), and :func:`read_stage` drops any
stored copy and derives each again in place, so a reader sees the
columns the operator produced, also from a KB, or a table, whose older
files store them, whichever file's footer supplies the schema.
A chunk's ``content`` is its document's text between the chunk's
stored line boundaries: a ``chunks`` read looks up the same KB's
committed ``documents`` row by ``url`` in a correlated scalar
subquery (one split of the text per document), which Spark prunes
when ``content`` is not selected and otherwise plans as a single join
with no aggregate; a url with two document rows, or none, raises when
its content is read, and :func:`write_stage` raises before writing
``chunks`` into an output with no committed ``documents``.
``documents.checksum`` and ``lines`` stay stored (they would need a
scan of the text), as do linked's gazetteer columns (they would tie an
old KB to the current gazetteer).
:data:`VIEWS` applies the rule to whole tables: ``triples`` is a
function of other committed stages and is never written by the job;
:func:`read_stage` computes it from them, ignoring any stored copy,
and selects no chunk ``content``, so the read is join-free.

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
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.chunker import chunk_content, chunk_id, chunk_lines
from ..operators.extract import doc_uid
from ..operators.linking import link_score
from ..operators.triples import kb_triples

# Per write, not session-wide: the pages input and every other parquet
# write keep their codec.  Snappy barely compresses this text-heavy KB.
CODEC = "zstd"

# Spark names each output file part-<task index>-<job uuid>…
_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")


@dataclass(frozen=True)
class Derived:
    """A stage column that is a pure function of the stored columns
    ``inputs`` of its row (and, when ``document``, of its document's
    row, as :data:`_DOC_ROW`): not stored, derived on read as the SQL
    expression ``expr`` and placed before column ``before`` (last when
    None)."""

    name: str
    inputs: tuple[str, ...]
    expr: str
    before: str | None = None
    document: bool = False


# What a derived column may read of its document's row: the committed
# ``documents`` of the same KB, looked up by ``url`` as these columns.
_DOC_ROW = ("url AS _doc_url", f"{chunk_lines('text')} AS _doc_lines")

_DOC_UID = Derived("doc_uid", ("url",), doc_uid("url"), before="url")

DERIVED: dict[str, tuple[Derived, ...]] = {
    "documents": (_DOC_UID,),
    "chunks": (
        _DOC_UID,
        Derived("chunk_id", ("url", "chunk_index"),
                chunk_id(doc_uid("url"), "chunk_index"),
                before="chunk_index"),
        Derived("content", ("url", "chunk_index", "start_line", "end_line"),
                "if(_doc_lines IS NULL, raise_error(concat("
                "'chunks: no committed documents row for url ', url)), "
                + chunk_content("_doc_lines", "chunk_index", "start_line",
                                "end_line") + ")",
                before="start_line", document=True),
    ),
    "linked": (
        Derived("score", ("prior", "n_mentions"),
                link_score("prior", "n_mentions")),
    ),
}


# stage -> (its function, the committed stages it reads)
VIEWS = {"triples": (kb_triples, ("documents", "linked", "components",
                                  "chunks"))}


def _stored(df: DataFrame, stage: str, out_dir: str) -> DataFrame:
    """``df`` without its derived columns.  Raises when a derived column
    could not be derived back from what is stored (e.g. ``chunk_id``
    without ``url``, or ``content`` without a committed ``documents``
    in ``out_dir``): dropping it would lose the ids or the text."""
    derived = [d for d in DERIVED.get(stage, ()) if d.name in df.columns]
    stored = set(df.columns) - {d.name for d in derived}
    for d in derived:
        missing = sorted(set(d.inputs) - stored)
        if missing:
            raise ValueError(
                f"stage {stage!r}: column {d.name!r} is derived on read "
                f"from {list(d.inputs)}, but {missing} would not be stored"
            )
    for d in derived:
        if d.document and not is_committed(out_dir, "documents"):
            raise ValueError(
                f"stage {stage!r}: column {d.name!r} is derived on read "
                f"from its document's row, but {out_dir!r} has no "
                "committed 'documents'"
            )
    return df.drop(*(d.name for d in derived)) if derived else df


def _broadcastable(df: DataFrame) -> bool:
    """Whether Spark's planner would broadcast ``df`` as a join side:
    its estimated size is within ``spark.sql.autoBroadcastJoinThreshold``
    (Spark's own test, on the same estimate)."""
    limit = df.sparkSession._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return 0 <= size <= limit


def _with_derived(df: DataFrame, stage: str,
                  documents: DataFrame | None) -> DataFrame:
    """``df`` with each derived column of ``stage`` whose inputs it has
    computed again (replacing any stored copy) at its declared place,
    with its row of ``documents`` when one reads its document's row.  One
    ``selectExpr`` of SQL strings: every Column built on the Python
    side would cost a round trip to the JVM."""
    derived = [d for d in DERIVED.get(stage, ())
               if set(d.inputs) <= set(df.columns)]
    if not derived:
        return df
    names = {d.name for d in derived}
    kept = [c for c in df.columns if c not in names]
    if any(d.document for d in derived):
        # a correlated scalar subquery, not a join: Spark prunes it when
        # no derived column that reads it is selected, and otherwise
        # plans a single join (raising when a url has two document rows)
        # with no aggregate to make the documents side unique
        doc = documents.selectExpr(*_DOC_ROW)
        if not _broadcastable(doc):
            # a single join Spark does not broadcast plans as a nested
            # loop; hash the documents side after a shuffle instead
            doc = doc.hint("shuffle_hash")
        lines = (doc.where(F.col("_doc_url") == F.col("_chunk.url").outer())
                 .select("_doc_lines").scalar())
        df = df.alias("_chunk").select("*", lines.alias("_doc_lines"))
    exprs = []
    for c in kept + [None]:
        exprs += [f"{d.expr} AS `{d.name}`" for d in derived
                  if (d.before if d.before in kept else None) == c]
        if c is not None:
            exprs.append(f"`{c}`")
    return df.selectExpr(*exprs)


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


def write_stage(
    df: DataFrame,
    out_dir: str,
    stage: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> dict:
    """Write a stage output as a parquet directory under ``out_dir`` +
    per-partition lineage metrics.

    Returns the metrics dict: {stage, wall_sec, n_rows, partitions:
    [{partition_id, n_rows}, ...]}.

    The counts describe THIS write: the whole table for
    ``mode='overwrite'``, only the appended rows for ``mode='append'``
    (the resume path's delta writes — the sidecar then holds the
    lineage of the increment, not of the cumulative table).  They come
    from the footers of the files the write added (an append lists the
    table before and after), so counting adds no Spark job;
    ``partition_id`` is the writing task's index.

    The stage's :data:`DERIVED` columns are not written.  Raises
    ``ValueError``, before writing anything, when one could not be
    derived back on read.
    """
    t0 = time.time()
    df = _stored(df, stage, out_dir)
    path = os.path.join(out_dir, stage)
    before = _part_files(path) if mode == "append" else set()
    if partition_by:
        df = df.hint("rebalance", *partition_by)
    writer = df.write.mode(mode).option("compression", CODEC)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    parts = _lineage(_part_files(path) - before)
    metrics = {
        "stage": stage,
        "mode": mode,
        "wall_sec": round(time.time() - t0, 3),
        "n_rows": sum(p["n_rows"] for p in parts),
        "partitions": parts,
    }
    with open(os.path.join(out_dir, f"_metrics_{stage}.json"), "w") as f:
        json.dump(metrics, f, indent=1)
    with open(os.path.join(out_dir, f"_committed_{stage}"), "w") as f:
        f.write(str(int(time.time())))
    return metrics


def is_committed(out_dir: str, stage: str) -> bool:
    return os.path.exists(os.path.join(out_dir, f"_committed_{stage}"))


def stage_rows(out_dir: str, stage: str) -> int:
    """Rows of a committed stage table, summed from its files' footers
    (no Spark job)."""
    return sum(_footer_rows(p)
               for p in _part_files(os.path.join(out_dir, stage)))


def read_stage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    """A committed stage table with its :data:`DERIVED` columns, or a
    :data:`VIEWS` stage computed from its committed inputs."""
    if stage in VIEWS:
        fn, inputs = VIEWS[stage]
        return fn(*(read_stage(spark, out_dir, s) for s in inputs))
    documents = (read_parquet(spark, os.path.join(out_dir, "documents"))
                 if any(d.document for d in DERIVED.get(stage, ())) else None)
    return _with_derived(read_parquet(spark, os.path.join(out_dir, stage)),
                         stage, documents)


def resume_delta(
    inputs: DataFrame, spark: SparkSession, out_dir: str, stage: str,
) -> DataFrame:
    """Rows of ``inputs`` whose ``url`` is not yet present in the
    committed stage output — the restart anti-join (left_anti keeps the
    big side map-local when the committed key set is broadcastable; at
    scale this is a shuffled anti-join on the key, which is exactly
    what we want)."""
    if not is_committed(out_dir, stage):
        return inputs
    done = read_stage(spark, out_dir, stage).select("url").distinct()
    return inputs.join(done, on="url", how="left_anti")


def run_metrics(out_dir: str) -> list[dict]:
    out = []
    for fn in sorted(os.listdir(out_dir)):
        if fn.startswith("_metrics_") and fn.endswith(".json"):
            with open(os.path.join(out_dir, fn)) as f:
                out.append(json.load(f))
    return out
