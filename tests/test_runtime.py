"""Resume/checkpoint + streaming ingest tests."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from src_to_kb_spark import pipeline
from src_to_kb_spark.operators.chunker import chunk_documents
from src_to_kb_spark.operators.extract import extract_pages
from src_to_kb_spark.runtime.checkpoint import (
    is_committed,
    read_stage,
    resume_delta,
    run_metrics,
    write_stage,
)
from src_to_kb_spark.sources.pages import synthetic_pages
from src_to_kb_spark.streaming.ingest import stream_documents, stream_pages


def test_write_stage_metrics_and_resume(spark, tmp_path):
    out = str(tmp_path / "kb")
    os.makedirs(out, exist_ok=True)
    pages = synthetic_pages(spark, n=60)
    docs = extract_pages(pages)

    m = write_stage(docs, out, "documents")
    assert is_committed(out, "documents")
    assert m["n_rows"] == 60
    assert sum(p["n_rows"] for p in m["partitions"]) == 60
    assert all(p["n_rows"] > 0 for p in m["partitions"])

    # resume: committed keys are excluded from the delta
    delta = resume_delta(pages, spark, out, "documents")
    assert delta.count() == 0

    more = synthetic_pages(spark, n=80)  # 20 new urls beyond the first 60
    delta2 = resume_delta(more, spark, out, "documents")
    assert delta2.count() == 20

    assert [x["stage"] for x in run_metrics(out)] == ["documents"]
    assert read_stage(spark, out, "documents").count() == 60


def _drain(frame, path, checkpoint):
    """Drain a streaming frame's backlog (availableNow) into a parquet
    sink with exactly-once checkpointing."""
    frame.writeStream.format("parquet").option("path", path).option(
        "checkpointLocation", checkpoint
    ).trigger(availableNow=True).start().awaitTermination()


def test_streaming_ingest_matches_batch(spark, tmp_path):
    """The stateless extract and chunk stages lift to streaming
    unchanged: draining the page stream gives the batch documents and
    chunks, and a restart on the same checkpoint ingests nothing."""
    pages = synthetic_pages(spark, n=50)
    in_dir = str(tmp_path / "pages_in")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")
    pages.write.parquet(in_dir)

    def run_ingest_once():
        docs = stream_documents(stream_pages(spark, in_dir))
        _drain(docs, f"{out_dir}/documents", f"{ck_dir}/documents")
        _drain(chunk_documents(docs), f"{out_dir}/chunks", f"{ck_dir}/chunks")

    run_ingest_once()

    stream_docs = spark.read.parquet(f"{out_dir}/documents")
    batch_docs = extract_pages(spark.read.parquet(in_dir))
    assert stream_docs.count() == 50
    a = {(r["url"], r["checksum"]) for r in stream_docs.collect()}
    b = {(r["url"], r["checksum"]) for r in batch_docs.collect()}
    assert a == b

    stream_chunks = spark.read.parquet(f"{out_dir}/chunks")
    batch_chunks = chunk_documents(batch_docs)
    assert stream_chunks.count() == batch_chunks.count()
    sa = {(r["chunk_id"], r["content"]) for r in stream_chunks.collect()}
    sb = {(r["chunk_id"], r["content"]) for r in batch_chunks.collect()}
    assert sa == sb

    # idempotent restart: re-running with same checkpoint ingests nothing new
    run_ingest_once()
    assert spark.read.parquet(f"{out_dir}/documents").count() == 50


def test_streaming_stateful_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState exact-dedup: each distinct content is
    emitted once ACROSS micro-batch drains — the checkpointed state
    store carries seen-checksums over a restart."""
    from pyspark.sql import functions as F

    from src_to_kb_spark.streaming.dedup import run_dedup_once

    pages = synthetic_pages(spark, n=40)
    in_dir = str(tmp_path / "pages_in")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")
    pages.write.parquet(in_dir)

    run_dedup_once(spark, in_dir, out_dir, ck_dir)
    uniq = spark.read.parquet(f"{out_dir}/unique_documents")
    n_distinct = extract_pages(pages).select("checksum").distinct().count()
    assert uniq.count() == n_distinct
    assert uniq.select("checksum").distinct().count() == n_distinct

    # second drain: re-crawl of the SAME pages under new urls plus 10
    # genuinely new pages -> only the new contents are emitted
    recrawl = pages.withColumn(
        "url", F.concat(F.lit("https://mirror.example.com/"), F.col("url"))
    )
    fresh = synthetic_pages(spark, n=50).where(
        ~F.col("url").isin([r["url"] for r in pages.select("url").collect()])
    )
    recrawl.union(fresh).write.mode("append").parquet(in_dir)

    run_dedup_once(spark, in_dir, out_dir, ck_dir)
    uniq2 = spark.read.parquet(f"{out_dir}/unique_documents")
    n_distinct_all = (
        extract_pages(pages).select("checksum")
        .union(extract_pages(fresh).select("checksum"))
        .distinct().count()
    )
    assert uniq2.select("checksum").distinct().count() == n_distinct_all
    assert uniq2.count() == n_distinct_all  # duplicates never re-emitted


def test_stage_is_a_parquet_dir_with_a_timestamp_marker(spark, tmp_path):
    """A stage is a bare parquet directory under the output dir, and its
    commit marker holds the commit timestamp."""
    out = str(tmp_path / "kb")
    os.makedirs(out, exist_ok=True)
    docs = extract_pages(synthetic_pages(spark, n=20))
    write_stage(docs, out, "documents")
    assert os.path.isdir(os.path.join(out, "documents"))
    with open(os.path.join(out, "_committed_documents")) as f:
        assert f.read().isdigit()


STAGES = [st.name for st in pipeline.STAGES]


def _mark(out, *stages):
    """Sentinel marker content: a resume leaves it in place, a rebuild
    rewrites the marker with its commit timestamp."""
    for st in stages:
        with open(os.path.join(out, f"_committed_{st}"), "w") as f:
            f.write(f"sentinel-{st}")


def _rewritten(out):
    """The stages whose marker no longer holds its sentinel."""
    def marker(st):
        with open(os.path.join(out, f"_committed_{st}")) as f:
            return f.read()
    return {st for st in STAGES if marker(st) != f"sentinel-{st}"}


def test_job_resumes_a_kb_whose_sidecar_names_its_table_layer(spark,
                                                                tmp_path):
    """An older job also recorded its table layer (``table_format``,
    ``table_prefix``) in ``_scheme_params``.  Only the stage parameters
    are the resume identity, so such a KB resumes untouched, and the
    re-run rewrites the sidecar with the stage parameters alone."""
    import json

    from jobs.run_kg_pipeline import main as job_main

    from .conftest import SF_SMOKE

    src = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter(
        "doc_id < 40"
    )
    inp = str(tmp_path / "in")
    src.write.parquet(f"{inp}/documents.parquet")
    out = str(tmp_path / "kb")
    job_main(["--input", inp, "--output", out])

    params_path = os.path.join(out, "_scheme_params")
    with open(params_path) as f:
        params = json.load(f)
    assert sorted(params) == ["chunk_size", "neardup_threshold", "overlap"]
    with open(params_path, "w") as f:
        json.dump({**params, "table_format": "parquet",
                   "table_prefix": "kb.main"}, f)
    _mark(out, *STAGES)

    job_main(["--input", inp, "--output", out])
    assert _rewritten(out) == set()
    with open(params_path) as f:
        assert json.load(f) == params


def test_job_chunk_parameters_rebuild_only_chunks(spark, tmp_path):
    """``--chunk-size`` and ``--overlap`` are resume identity: a re-run
    that changes them rewrites only ``chunks``, and it and the triples
    view over it equal a fresh build at the new parameters."""
    from jobs.run_kg_pipeline import main as job_main

    from .conftest import SF_SMOKE

    new = ["--chunk-size", "300", "--overlap", "50"]
    out = str(tmp_path / "kb")
    job_main(["--input", SF_SMOKE, "--output", out])
    _mark(out, *STAGES)
    job_main(["--input", SF_SMOKE, "--output", out, *new])
    assert _rewritten(out) == {"chunks"}

    fresh = str(tmp_path / "fresh")
    job_main(["--input", SF_SMOKE, "--output", fresh, *new])
    for st in ("chunks", "triples"):
        got, want = (read_stage(spark, d, st) for d in (out, fresh))
        assert got.exceptAll(want).count() == 0, st
        assert want.exceptAll(got).count() == 0, st


def test_job_removes_the_triples_table_an_older_job_stored(spark, tmp_path):
    """An older job stored the triples as a ``pred``-partitioned table
    with a marker and a metrics sidecar.  A re-run removes all three,
    rewrites no stage, and counts the triples a fresh build counts."""
    from jobs.run_kg_pipeline import main as job_main

    from .conftest import SF_SMOKE

    src = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter(
        "doc_id < 40"
    )
    inp = str(tmp_path / "in")
    src.write.parquet(f"{inp}/documents.parquet")
    out = str(tmp_path / "kb")
    job_main(["--input", inp, "--output", out])
    write_stage(read_stage(spark, out, "triples"), out, "triples",
                partition_by=["pred"])
    _mark(out, *STAGES)
    stored = [os.path.join(out, f) for f in
              ("triples", "_committed_triples", "_metrics_triples.json")]
    assert all(os.path.exists(f) for f in stored)

    s = job_main(["--input", inp, "--output", out])
    assert _rewritten(out) == set()
    assert not any(os.path.exists(f) for f in stored)
    assert "triples" not in {m["stage"] for m in s["stages"]}
    fresh = job_main(["--input", inp, "--output", str(tmp_path / "fresh")])
    assert s["triples"] == fresh["triples"]
