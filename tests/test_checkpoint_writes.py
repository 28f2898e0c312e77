"""Checkpoint writes: zstd stage tables, lineage from parquet footers.

The per-partition lineage in ``_metrics_<stage>.json`` and the job's
``summary.json`` counts are read from the written files, so they must
match what Spark reads back, describe only the files a write added, and
cost no Spark job.  Reading a stage back takes its schema from the
footers too, so it costs no Spark job either.  The ids and link scores
that are pure functions of their row are not stored; a read derives
them again, from tables written with or without them.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from jobs.run_kg_pipeline import main as job_main
from src_to_kb_spark.operators.chunker import chunk_documents
from src_to_kb_spark.operators.extract import extract_pages
from src_to_kb_spark.operators.linking import link_mentions
from src_to_kb_spark.operators.mentions import detect_mentions
from src_to_kb_spark.runtime import checkpoint
from src_to_kb_spark.runtime.checkpoint import (
    is_committed,
    read_parquet,
    read_stage,
    write_stage,
)
from src_to_kb_spark.sources.gazetteer import gazetteer_df
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


def _derived(stage: str) -> dict:
    """The columns a stage read derives, spelled out independently of
    the operators: name → expression over the stored columns and, for
    ``content``, the ``_doc_text`` that :func:`_with_document` joins."""
    doc_uid = F.concat(F.lit("doc_"), F.sha2(F.col("url"), 256))
    # after an overlap carry start_line is one past the first line
    first = F.col("start_line") - F.when(F.col("chunk_index") > 0, 1).otherwise(0)
    return {
        "documents": {"doc_uid": doc_uid},
        "chunks": {
            "doc_uid": doc_uid,
            "chunk_id": F.concat(doc_uid, F.lit("_chunk_"),
                                 F.col("chunk_index").cast("string")),
            "content": F.array_join(
                F.slice(F.split(F.col("_doc_text"), "\n", -1), first + 1,
                        F.col("end_line") - first + 1), "\n"),
        },
        "linked": {"score": F.col("prior") * F.col("n_mentions")},
    }.get(stage, {})


def _with_document(spark, kb: str, stage: str, df):
    """``df`` of ``stage``, with a chunk's committed document text as
    ``_doc_text`` for :func:`_derived`'s ``content``."""
    if stage != "chunks":
        return df
    doc = read_stage(spark, kb, "documents").select(
        F.col("url").alias("_doc_url"), F.col("text").alias("_doc_text"))
    return df.join(doc, F.col("url") == F.col("_doc_url"), "left")


def _footer_columns(path: str) -> set[str]:
    """Column names in the footer of every data file under ``path``."""
    return {
        n
        for d, _, files in os.walk(path)
        for f in files if f.startswith("part-")
        for n in pq.read_schema(os.path.join(d, f)).names
    }


def _same_frame(got, want) -> None:
    assert got.columns == want.columns
    assert got.dtypes == want.dtypes
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


@pytest.fixture(scope="module")
def stage_frames(spark):
    """In-memory documents, chunks and linked frames of 30 pages."""
    docs = extract_pages(synthetic_pages(spark, n=30)).localCheckpoint()
    gaz = gazetteer_df(spark)
    return {
        "documents": docs,
        "chunks": chunk_documents(docs).localCheckpoint(),
        "linked": link_mentions(detect_mentions(docs, gaz),
                                gaz).localCheckpoint(),
    }


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

    # a stage name no view shadows: read_stage reads what was written
    m1 = write_stage(base, out, "edges", partition_by=["pred"])
    assert m1["n_rows"] == n_base
    m2 = write_stage(delta, out, "edges", mode="append",
                     partition_by=["pred"])
    assert m2["mode"] == "append"
    assert m2["n_rows"] == n_delta
    assert sum(p["n_rows"] for p in m2["partitions"]) == n_delta
    assert all(p["n_rows"] > 0 for p in m2["partitions"])
    assert read_stage(spark, out, "edges").count() == n_base + n_delta
    # rebalanced on pred: a few files per predicate, not one per task
    for pred in ("has_type", "has_language"):
        assert len(_data_files(os.path.join(out, "edges",
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
    takes the schema from its footers instead and gets the same frame.
    The triples view reads four such tables, so it costs none either."""
    out = str(tmp_path / "kb")
    job_main(["--input", SF_SMOKE, "--output", out])
    assert _jobs_in_group(spark, "read-triples",
                          lambda: read_stage(spark, out, "triples")) == 0
    for stage in (s for s in STAGES if s != "triples"):
        path = os.path.join(out, stage)
        assert _jobs_in_group(spark, f"infer-{stage}",
                              lambda: spark.read.parquet(path)) >= 1, stage
        read = []
        assert _jobs_in_group(
            spark, f"read-{stage}",
            lambda: read.append(read_stage(spark, out, stage)),
        ) == 0, stage
        inferred = spark.read.parquet(path)
        stored = read[0].select(*inferred.columns)
        assert stored.schema == inferred.schema, stage
        assert stored.exceptAll(inferred).count() == 0, stage
        assert inferred.exceptAll(stored).count() == 0, stage
        for name, expr in _derived(stage).items():
            assert name in read[0].columns, (stage, name)
            assert _with_document(spark, out, stage, read[0]).filter(
                ~F.col(name).eqNullSafe(expr)).count() == 0, (stage, name)


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


def test_derived_columns_are_not_stored_but_read_back(spark, tmp_path,
                                                      stage_frames):
    out = str(tmp_path / "kb")
    os.makedirs(out)
    for stage, df in stage_frames.items():
        write_stage(df, out, stage)
        stored = _footer_columns(os.path.join(out, stage))
        assert stored and not stored & set(_derived(stage)), stage
        assert stored == set(df.columns) - set(_derived(stage)), stage
        _same_frame(read_stage(spark, out, stage), df)


def _rename_parts(path: str, prefix: str) -> None:
    """Rename the data files under ``path`` to ``prefix<i>-…``, which
    decides where they sort among the table's files."""
    for i, f in enumerate(sorted(_data_files(path))):
        os.rename(os.path.join(path, f),
                  os.path.join(path, f"{prefix}{i}-{f}"))


@pytest.mark.parametrize("parent_first", [True, False])
def test_stored_ids_plus_append_read_back_derived(spark, tmp_path,
                                                  stage_frames, parent_first):
    """A table written with its ids stored (a KB from before they were
    derived) plus an appended delta without them reads back with the
    right ids on every row, whichever file's footer gives the schema."""
    out = str(tmp_path / "kb")
    os.makedirs(out)
    for stage, df in stage_frames.items():
        path = os.path.join(out, stage)
        old = F.crc32(df.columns[0] if stage == "linked" else "url") % 3 != 0
        df.filter(old).write.parquet(path)
        # the old files sort before ("part-0000-" < "part-00000-") or
        # after every file the append writes
        _rename_parts(path, "part-0000-" if parent_first else "part-99999-")
        write_stage(df.filter(~old), out, stage, mode="append")
        first = os.path.join(path, sorted(_data_files(path))[0])
        ids_in_first = set(_derived(stage)) <= set(pq.read_schema(first).names)
        assert ids_in_first == parent_first, stage
        back = read_stage(spark, out, stage)
        _same_frame(back, df)
        for name, expr in _derived(stage).items():
            assert _with_document(spark, out, stage, back).filter(
                ~F.col(name).eqNullSafe(expr)).count() == 0


def test_write_stage_raises_on_ids_it_could_not_derive(spark, tmp_path,
                                                       stage_frames):
    out = str(tmp_path / "kb")
    os.makedirs(out)
    chunks = stage_frames["chunks"]
    with pytest.raises(ValueError, match="chunk_id"):
        write_stage(chunks.drop("url", "doc_uid"), out, "chunks")
    with pytest.raises(ValueError, match="url"):
        write_stage(chunks.drop("url"), out, "chunks")
    assert not is_committed(out, "chunks")
    assert not os.path.exists(os.path.join(out, "chunks"))


def _rows(spark, kb: str, stage: str) -> set:
    return {tuple(r) for r in read_stage(spark, kb, stage).collect()}


def test_resume_over_stored_ids_kb_matches_fresh_build(spark, tmp_path,
                                                       monkeypatch):
    """A KB whose tables store their ids (as written before ids were
    derived) resumes into the same KB as a fresh build."""
    src = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    base, grown = str(tmp_path / "base"), str(tmp_path / "grown")
    src.filter("doc_id < 150").write.parquet(f"{base}/documents.parquet")
    src.filter("doc_id < 200").write.parquet(f"{grown}/documents.parquet")
    out, ref = str(tmp_path / "kb"), str(tmp_path / "ref")

    with monkeypatch.context() as m:
        m.setattr(checkpoint, "DERIVED", {})
        job_main(["--input", base, "--output", out])
    for stage in ("documents", "chunks", "linked"):
        assert set(_derived(stage)) <= _footer_columns(
            os.path.join(out, stage)), stage

    job_main(["--input", grown, "--output", out])
    with open(os.path.join(out, "_metrics_documents.json")) as f:
        assert json.load(f)["mode"] == "append"
    job_main(["--input", grown, "--output", ref])
    for stage in ("triples", "components", "documents", "chunks", "linked"):
        assert _rows(spark, out, stage) == _rows(spark, ref, stage), stage


def _kb_with_chunks(tmp_path, stage_frames, docs=None) -> str:
    """A KB holding ``docs`` (default: all) of the 30 pages as
    ``documents`` and all their chunks."""
    out = str(tmp_path / "kb")
    os.makedirs(out)
    write_stage(stage_frames["documents"] if docs is None else docs, out,
                "documents")
    write_stage(stage_frames["chunks"], out, "chunks")
    return out


def _random_text(rng) -> str | None:
    """Texts that stress the line slicing: empty and newline-only texts,
    trailing newlines, lines longer than any chunk budget, carriage
    returns, tabs and non-ASCII characters."""
    kind = rng.randrange(12)
    if kind == 0:
        return rng.choice(["", "\n", "\n\n", None])
    alphabet = "abc xyz\t\ré中\U0001f600 ."
    lines = []
    for _ in range(rng.randrange(1, 60)):
        n = rng.choice([0, rng.randrange(1, 40), rng.randrange(40, 200),
                        rng.randrange(1000, 1300)])
        lines.append("".join(rng.choice(alphabet) for _ in range(n)))
    return "\n".join(lines) + ("\n" if kind == 1 else "")


@pytest.mark.parametrize("chunk_size,overlap", [
    (1000, 200), (1000, 0), (100, 99), (50, 10), (1000, 999), (10, 5)])
def test_read_back_content_equals_create_chunks(spark, tmp_path,
                                                chunk_size, overlap):
    """``content`` is not stored; the content a read derives from the
    committed document text is ``create_chunks``'s, chunk for chunk."""
    import random

    from src_to_kb_spark.core.textproc import create_chunks

    rng = random.Random(chunk_size * 1000 + overlap)
    texts = {f"https://t/{i}": _random_text(rng) for i in range(150)}
    docs = spark.createDataFrame(
        [(u, "en", t) for u, t in texts.items()],
        "url string, lang string, text string",
    ).withColumn("doc_uid", F.concat(F.lit("doc_"), F.sha2("url", 256)))
    out = str(tmp_path / "kb")
    os.makedirs(out)
    write_stage(docs, out, "documents")
    write_stage(chunk_documents(docs, chunk_size, overlap), out, "chunks")
    assert "content" not in _footer_columns(os.path.join(out, "chunks"))

    got = {(r.url, r.chunk_index): r.content for r in
           read_stage(spark, out, "chunks")
           .select("url", "chunk_index", "content").collect()}
    want = {(u, c["index"]): c["content"] for u, t in texts.items()
            for c in create_chunks(t or "", chunk_size, overlap)}
    assert len(want) > len(texts)
    assert got == want


def test_chunk_ids_read_without_the_documents_join(spark, tmp_path,
                                                   stage_frames):
    """Only ``content`` reads the document row: a read that does not
    select it plans the bare chunks scan, one that does scans
    ``documents`` too."""
    from .test_plans import _plan

    out = _kb_with_chunks(tmp_path, stage_frames)
    chunks = read_stage(spark, out, "chunks")
    ids = _plan(chunks.select("url", "chunk_id"))
    assert "Join" not in ids
    assert ids.count("FileScan") == 1 and "text:string" not in ids
    full = _plan(chunks.select("url", "content"))
    assert "Join" in full
    assert full.count("FileScan") == 2 and "text:string" in full
    # the documents side is not aggregated to make it unique on url
    assert "Aggregate" not in full and "Exchange hashpartitioning" not in full


def test_content_read_past_broadcast_limit_hashes_documents(spark, tmp_path,
                                                          stage_frames):
    """A documents side Spark does not broadcast is joined by a hash
    join after a shuffle, never by a nested loop over every pair."""
    from .test_plans import _plan

    out = _kb_with_chunks(tmp_path, stage_frames)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        chunks = read_stage(spark, out, "chunks")
        plan = _plan(chunks.select("url", "content"))
        assert "ShuffledHashJoin" in plan and "NestedLoop" not in plan
        _same_frame(chunks, chunk_documents(read_stage(spark, out,
                                                       "documents")))
    finally:
        spark.conf.set(key, prev)


def test_chunk_with_two_document_rows_raises_on_content(spark, tmp_path,
                                                        stage_frames):
    docs = stage_frames["documents"]
    twice = docs.unionByName(docs.orderBy("url").limit(1))
    out = _kb_with_chunks(tmp_path, stage_frames, docs=twice)
    chunks = read_stage(spark, out, "chunks")
    assert chunks.select("chunk_id").count() == stage_frames["chunks"].count()
    with pytest.raises(Exception, match="SCALAR_SUBQUERY_TOO_MANY_ROWS"):
        chunks.select("content").collect()


def test_chunk_without_document_row_raises_on_content(spark, tmp_path,
                                                      stage_frames):
    docs = stage_frames["documents"]
    gone = docs.orderBy("url").first()["url"]
    out = _kb_with_chunks(tmp_path, stage_frames,
                          docs=docs.filter(F.col("url") != gone))
    orphan = read_stage(spark, out, "chunks").filter(F.col("url") == gone)
    assert orphan.select("chunk_id").count() > 0
    with pytest.raises(Exception, match="no committed documents row"):
        orphan.select("content").collect()


def test_write_chunks_without_committed_documents_raises(spark, tmp_path,
                                                         stage_frames):
    out = str(tmp_path / "kb")
    os.makedirs(out)
    with pytest.raises(ValueError, match="documents"):
        write_stage(stage_frames["chunks"], out, "chunks")
    assert os.listdir(out) == []


def test_job_kb_chunks_store_no_content(spark, tmp_path):
    """A job KB's chunk footers hold no text; the content it reads back
    is the chunker's over its committed documents."""
    out = str(tmp_path / "kb")
    job_main(["--input", SF_SMOKE, "--output", out])
    stored = _footer_columns(os.path.join(out, "chunks"))
    assert stored and "content" not in stored
    _same_frame(read_stage(spark, out, "chunks"),
                chunk_documents(read_stage(spark, out, "documents")))


def test_resume_over_stored_content_kb_matches_fresh_build(spark, tmp_path,
                                                           monkeypatch):
    """A KB whose chunks store their content but not their ids (as
    written before the content was derived) resumes into the same KB as
    a fresh build."""
    src = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    base, grown = str(tmp_path / "base"), str(tmp_path / "grown")
    src.filter("doc_id < 150").write.parquet(f"{base}/documents.parquet")
    src.filter("doc_id < 200").write.parquet(f"{grown}/documents.parquet")
    out, ref = str(tmp_path / "kb"), str(tmp_path / "ref")

    with monkeypatch.context() as m:
        m.setitem(checkpoint.DERIVED, "chunks", tuple(
            d for d in checkpoint.DERIVED["chunks"] if d.name != "content"))
        job_main(["--input", base, "--output", out])
    stored = _footer_columns(os.path.join(out, "chunks"))
    assert "content" in stored and "chunk_id" not in stored

    job_main(["--input", grown, "--output", out])
    job_main(["--input", grown, "--output", ref])
    assert "content" not in _footer_columns(os.path.join(ref, "chunks"))
    for stage in ("triples", "documents", "chunks"):
        assert _rows(spark, out, stage) == _rows(spark, ref, stage), stage
