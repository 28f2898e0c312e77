"""Checkpoint writes: zstd stage tables, lineage from parquet footers.

The per-partition lineage in ``_metrics_<stage>.json`` and the job's
``summary.json`` counts are read from the written files, so they must
match what Spark reads back, describe only the files a write added, and
cost no Spark job.  Reading a stage back takes its schema from the
footers too, so it costs no Spark job either.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from jobs.run_kg_pipeline import main as job_main
from src_to_kb_spark.operators.extract import extract_pages
from src_to_kb_spark.runtime.checkpoint import (
    read_parquet,
    read_stage,
    write_stage,
)
from src_to_kb_spark.sources.pages import PAGES_COLUMNS, load_pages, synthetic_pages

from .conftest import SF_SMOKE

STAGES = ("documents", "chunks", "linked", "neardup_pairs", "components",
          "triples")


def _jobs_in_group(spark, group: str, action) -> int:
    """Spark jobs launched by ``action`` under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _data_files(path: str) -> list[str]:
    return [f for _, _, files in os.walk(path) for f in files
            if f.startswith("part-")]


def test_write_stage_lineage_costs_no_spark_job(spark, tmp_path):
    docs = extract_pages(synthetic_pages(spark, n=40)).localCheckpoint()
    out = str(tmp_path / "kb")
    os.makedirs(out)
    staged = _jobs_in_group(
        spark, "ckpt-write-stage", lambda: write_stage(docs, out, "documents")
    )
    plain = _jobs_in_group(
        spark, "ckpt-plain-write",
        lambda: docs.write.parquet(str(tmp_path / "plain")),
    )
    assert plain >= 1
    assert staged == plain


def test_stage_tables_are_zstd(spark, tmp_path):
    out = str(tmp_path / "kb")
    os.makedirs(out)
    write_stage(extract_pages(synthetic_pages(spark, n=20)), out, "documents")
    files = _data_files(os.path.join(out, "documents"))
    assert files and all(f.endswith(".zstd.parquet") for f in files)


def _triples(docs):
    return docs.select(
        F.col("url").alias("subj"), F.lit("has_type").alias("pred"),
        F.col("type").alias("obj"),
    ).unionByName(docs.select(
        F.col("url").alias("subj"), F.lit("has_language").alias("pred"),
        F.col("lang").alias("obj"),
    ))


def test_partitioned_append_counts_only_the_delta(spark, tmp_path):
    out = str(tmp_path / "kb")
    os.makedirs(out)
    docs = extract_pages(synthetic_pages(spark, n=60))
    old = F.crc32("url") % 3 != 0
    base = _triples(docs.filter(old)).localCheckpoint()
    delta = _triples(docs.filter(~old)).localCheckpoint()
    n_base, n_delta = base.count(), delta.count()
    assert n_base > 0 and n_delta > 0

    m1 = write_stage(base, out, "triples", partition_by=["pred"])
    assert m1["n_rows"] == n_base
    m2 = write_stage(delta, out, "triples", mode="append",
                     partition_by=["pred"])
    assert m2["mode"] == "append"
    assert m2["n_rows"] == n_delta
    assert sum(p["n_rows"] for p in m2["partitions"]) == n_delta
    assert all(p["n_rows"] > 0 for p in m2["partitions"])
    assert read_stage(spark, out, "triples").count() == n_base + n_delta
    # rebalanced on pred: a few files per predicate, not one per task
    for pred in ("has_type", "has_language"):
        assert len(_data_files(os.path.join(out, "triples",
                                            f"pred={pred}"))) <= 4


def test_append_to_snappy_table_reads_whole(spark, tmp_path):
    """A KB built before stage tables were zstd holds snappy files; a
    resume appends zstd files next to them."""
    out = str(tmp_path / "kb")
    os.makedirs(out)
    docs = extract_pages(synthetic_pages(spark, n=50)).localCheckpoint()
    old = docs.filter(F.crc32("url") % 3 != 0)
    old.write.option("compression", "snappy").parquet(
        os.path.join(out, "documents")
    )
    delta = docs.join(old.select("url"), "url", "left_anti")
    n_old, n_delta = old.count(), delta.count()
    assert n_old > 0 and n_delta > 0

    m = write_stage(delta, out, "documents", mode="append")
    files = _data_files(os.path.join(out, "documents"))
    assert any(f.endswith(".snappy.parquet") for f in files)
    assert any(f.endswith(".zstd.parquet") for f in files)
    assert m["n_rows"] == n_delta
    assert sum(p["n_rows"] for p in m["partitions"]) == n_delta
    back = read_stage(spark, out, "documents")
    assert back.count() == n_old + n_delta
    assert back.select("url").distinct().count() == n_old + n_delta
    assert back.exceptAll(docs.select(*back.columns)).count() == 0


def test_job_summary_counts_match_tables_after_resume(spark, tmp_path):
    src = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = str(tmp_path / "kb")
    base = str(tmp_path / "base")
    grown = str(tmp_path / "grown")
    src.filter("doc_id < 150").write.parquet(f"{base}/documents.parquet")
    src.filter("doc_id < 200").write.parquet(f"{grown}/documents.parquet")
    job_main(["--input", base, "--output", out])
    summary = job_main(["--input", grown, "--output", out])
    with open(os.path.join(out, "_metrics_documents.json")) as f:
        assert json.load(f)["mode"] == "append"
    with open(os.path.join(out, "summary.json")) as f:
        assert {n: v for n, v in json.load(f).items() if n in STAGES} == {
            n: summary[n] for n in STAGES}
    for stage in STAGES:
        assert summary[stage] == read_stage(spark, out, stage).count(), stage


def test_read_stage_costs_no_spark_job(spark, tmp_path):
    """Schema inference runs a one-task Spark job per read; a stage read
    takes the schema from its footers instead and gets the same frame,
    the partitioned triples table's discovered ``pred`` column too."""
    out = str(tmp_path / "kb")
    job_main(["--input", SF_SMOKE, "--output", out])
    for stage in STAGES:
        path = os.path.join(out, stage)
        assert _jobs_in_group(spark, f"infer-{stage}",
                              lambda: spark.read.parquet(path)) >= 1, stage
        read = []
        assert _jobs_in_group(
            spark, f"read-{stage}",
            lambda: read.append(read_stage(spark, out, stage)),
        ) == 0, stage
        inferred = spark.read.parquet(path)
        assert read[0].schema == inferred.schema, stage
        assert read[0].exceptAll(inferred).count() == 0, stage
        assert inferred.exceptAll(read[0]).count() == 0, stage


def test_real_pages_table_loads_without_spark_job(spark, tmp_path):
    path = str(tmp_path / "pages")
    synthetic_pages(spark, n=20).write.parquet(path)
    pages = []
    assert _jobs_in_group(
        spark, "load-pages",
        lambda: pages.append(load_pages(spark, path, keep_keys=False)),
    ) == 0
    assert tuple(pages[0].columns) == PAGES_COLUMNS
    assert pages[0].count() == 20


def test_read_parquet_infers_a_table_spark_did_not_write(spark, tmp_path):
    path = tmp_path / "t"
    path.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([2, 1], pa.int32()), "v": ["b", None]}),
        path / "part-00000-a.parquet",
    )
    df = read_parquet(spark, str(path))
    assert df.schema == spark.read.parquet(str(path)).schema
    assert [tuple(r) for r in df.orderBy("k").collect()] == [(1, None), (2, "b")]
