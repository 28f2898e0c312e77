"""Partitions sized to the data, and no Python tasks for driver tables.

A Python UDF task costs a fixed worker setup however few rows it gets,
so the job's small per-document stages should run as one task and
write one file for a sub-MB corpus, while the sizing still follows
bytes.  Tables built on the driver (the gazetteer, driver-labelled
components) must be local relations the JVM scans itself, not Python
RDDs whose every scan launches Python workers.
"""

from __future__ import annotations

import json
import os

from jobs.run_kg_pipeline import main
from src_to_kb_spark.operators import canonicalize
from src_to_kb_spark.operators.canonicalize import connected_components
from src_to_kb_spark.operators.extract import extract_pages
from src_to_kb_spark.operators.linking import link_mentions
from src_to_kb_spark.operators.mentions import detect_mentions
from src_to_kb_spark.sources.gazetteer import GAZ_ROWS, gazetteer_df
from src_to_kb_spark.sources.pages import load_pages

from .conftest import SF_SMOKE

PER_DOC = ("documents", "chunks", "linked", "bands")
MIN_PARTITION = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
ARROW = "spark.sql.execution.arrow.pyspark.enabled"


def _scans_python_rdd(df) -> bool:
    # every plan: parsed, analyzed, optimized and physical
    plans = df._jdf.queryExecution().toString()
    return "LogicalRDD" in plans or "ExistingRDD" in plans


def _part_files(path: str) -> list[str]:
    return [f for _, _, files in os.walk(path) for f in files
            if f.startswith("part-") and f.endswith(".parquet")]


def test_gazetteer_is_a_local_relation(spark):
    gaz = gazetteer_df(spark)
    assert not _scans_python_rdd(gaz)
    assert sorted(tuple(r) for r in gaz.collect()) == sorted(GAZ_ROWS)


def test_empty_components_are_a_local_relation(spark):
    edges = spark.createDataFrame([], "key_a string, key_b string")
    cc = connected_components(edges)
    assert not _scans_python_rdd(cc)
    assert cc.collect() == []
    assert cc.schema.simpleString() == "struct<key:string,canon_id:string>"


def test_driver_components_are_one_partition(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "key_a string, key_b string"
    )
    cc = connected_components(edges)
    assert not _scans_python_rdd(cc)
    assert cc.rdd.getNumPartitions() == 1
    assert sorted(tuple(r) for r in cc.collect()) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")]


def test_driver_components_partitions_follow_label_count(spark, monkeypatch):
    """A large driver-labelled table keeps writer parallelism: one
    partition per ``_LABELS_PER_PARTITION`` labels."""
    monkeypatch.setattr(canonicalize, "_LABELS_PER_PARTITION", 2)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "key_a string, key_b string"
    )
    cc = connected_components(edges)
    assert cc.rdd.getNumPartitions() == 3  # 5 labels
    assert cc.count() == 5


def test_driver_tables_do_not_depend_on_arrow_conf(spark):
    """Arrow tables become local relations with the session's Arrow
    conversion off too, where a pandas frame falls back to a Python RDD."""
    prev = spark.conf.get(ARROW)
    spark.conf.set(ARROW, "false")
    try:
        gaz = gazetteer_df(spark)
        empty = connected_components(
            spark.createDataFrame([], "key_a string, key_b string"))
        assert not _scans_python_rdd(gaz)
        assert not _scans_python_rdd(empty)
        assert gaz.count() == len(GAZ_ROWS)
    finally:
        spark.conf.set(ARROW, prev)


def test_linking_scans_no_python_rdd(spark):
    docs = extract_pages(load_pages(spark, SF_SMOKE))
    gaz = gazetteer_df(spark)
    assert not _scans_python_rdd(link_mentions(detect_mentions(docs, gaz), gaz))


def test_job_writes_small_stages_as_one_file(spark, tmp_path):
    out = str(tmp_path / "kb")
    s = main(["--input", SF_SMOKE, "--output", out])
    assert s["components"] > 0  # the driver-labelled path, not empty
    for stage in PER_DOC + ("components",):
        assert len(_part_files(os.path.join(out, stage))) == 1, stage
        with open(os.path.join(out, f"_metrics_{stage}.json")) as f:
            assert len(json.load(f)["partitions"]) == 1, stage


def test_job_partitions_follow_bytes(spark, tmp_path):
    """With a few-KB minimum partition size the same corpus fans out:
    the count comes from AQE's byte sizing, not a fixed 1."""
    prev = spark.conf.get(MIN_PARTITION)
    spark.conf.set(MIN_PARTITION, "8k")
    try:
        out = str(tmp_path / "kb")
        s = main(["--input", SF_SMOKE, "--output", out])
    finally:
        spark.conf.set(MIN_PARTITION, prev)
    assert s["documents"] == 500
    assert len(_part_files(os.path.join(out, "documents"))) > 1
