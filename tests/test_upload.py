"""The uploader's sendable-set decision (upload.js:128-204) and the
completeness check, over ``kbio.embedding_coverage`` — the per-document
chunk and missing-embedding counts the contract's ``upload_sendable``
and ``upload_completeness`` queries read."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jobs.run_kg_pipeline import main as job_main
from src_to_kb_spark.operators.chunker import chunk_documents
from src_to_kb_spark.operators.extract import extract_pages
from src_to_kb_spark.operators.kbio import (
    embedding_coverage,
    reconstruct_content,
    verify_upload_completeness,
)
from src_to_kb_spark.runtime.checkpoint import read_stage
from src_to_kb_spark.sources.pages import load_pages, synthetic_pages

from .conftest import SF_SMOKE


def decide(docs, chunks, embeddings=None):
    """{doc_uid: (n_chunks, skipped)} as the uploader decides it:
    chunks-only (no embeddings) skips documents with no chunks; with
    embeddings, also documents with any embedding-less chunk
    (upload.js:141-173)."""
    cov = docs.select("doc_uid").join(
        embedding_coverage(
            chunks, chunks if embeddings is None else embeddings
        ),
        "doc_uid",
        "left",
    ).collect()
    out = {
        r["doc_uid"]: (
            r["n_chunks"] or 0,
            r["n_chunks"] is None
            or (embeddings is not None and r["n_missing"] > 0),
        )
        for r in cov
    }
    assert len(out) == len(cov) == docs.count()  # one row per document
    return out


def chunk_counts(chunks):
    return {
        r["doc_uid"]: r["count"] for r in chunks.groupBy("doc_uid").count().collect()
    }


@pytest.fixture()
def kb(spark):
    docs = extract_pages(synthetic_pages(spark, n=12)).cache()
    chunks = chunk_documents(docs).cache()
    # embeddings for every chunk EXCEPT those of one victim doc (one
    # missing vector → partial → skip) and one doc with zero vectors
    some_doc = chunks.select("doc_uid").distinct().orderBy("doc_uid")
    victims = [r["doc_uid"] for r in some_doc.limit(2).collect()]
    emb = (
        chunks.filter(~F.col("doc_uid").isin(victims))
        .select("chunk_id", F.array(F.lit(0.1), F.lit(0.2)).alias("embedding"))
    )
    partial = (
        chunks.filter(F.col("doc_uid") == victims[0])
        .orderBy("chunk_index").limit(1)
        .select("chunk_id", F.array(F.lit(0.3)).alias("embedding"))
    )
    return docs, chunks, emb.union(partial), victims


def test_upload_with_embeddings_merges_and_skips(spark, kb):
    docs, chunks, emb, victims = kb
    got = decide(docs, chunks, emb)
    want = chunk_counts(chunks)
    assert {d: n for d, (n, _) in got.items()} == want
    skipped = {d for d, (_, s) in got.items() if s}
    # the zero-vector victim always skips; the partial one skips when
    # it has more chunks than its single vector covers
    assert victims[1] in skipped
    assert (victims[0] in skipped) == (want[victims[0]] > 1)
    assert skipped <= set(victims)
    missing = {
        r["doc_uid"]: r["n_missing"]
        for r in embedding_coverage(chunks, emb).collect()
    }
    assert missing[victims[1]] == want[victims[1]]
    assert missing[victims[0]] == want[victims[0]] - 1
    assert all(missing[d] == 0 for d in want if d not in victims)


def test_upload_chunks_only_skips_chunkless(spark, kb):
    docs, chunks, _, _ = kb
    one = chunks.select("doc_uid").distinct().orderBy("doc_uid").limit(1)
    gone = one.first()["doc_uid"]
    chunkless = chunks.join(one, "doc_uid", "left_anti")
    got = decide(docs, chunkless)
    assert got[gone] == (0, True)
    assert [d for d, (_, s) in got.items() if s] == [gone]
    assert {d: n for d, (n, _) in got.items() if d != gone} == chunk_counts(
        chunkless
    )


def test_upload_duplicate_embedding_rows_collapse(spark, kb):
    """upload.js:146-150 builds a Map, so duplicate chunk_id embedding
    rows collapse to ONE entry per chunk — a bare join would instead
    multiply the chunk rows inside the document and its counts."""
    docs, chunks, emb, _ = kb
    dup = emb.withColumn("embedding", F.array(F.lit(0.05)))
    assert decide(docs, chunks, emb.union(dup)) == decide(docs, chunks, emb)


def test_duplicate_embedding_rows_count_a_chunk_once(spark):
    """A chunk with two embedding rows is still one chunk to the
    completeness check: n_chunks counts chunks, not join rows."""
    chunks = spark.createDataFrame(
        [("c1", "d1"), ("c2", "d1"), ("c3", "d1")],
        "chunk_id string, doc_uid string",
    )
    emb = spark.createDataFrame(
        [("c1", [0.1]), ("c1", [0.2]), ("c2", [0.3])],
        "chunk_id string, embedding array<double>",
    )
    got = [tuple(r) for r in verify_upload_completeness(chunks, emb).collect()]
    assert got == [("d1", 3, 1)]


def test_upload_kb_of_job_built_kb_matches_in_memory(spark, tmp_path):
    """Over the job's committed tables, whose document and chunk ids
    are derived on read, the decision sees the same documents, chunk
    counts and reconstructed content as over the in-memory extract and
    chunk frames."""
    kb = str(tmp_path / "kb")
    job_main(["--input", SF_SMOKE, "--output", kb])
    docs = extract_pages(load_pages(spark, SF_SMOKE))
    chunks = chunk_documents(docs)
    kb_docs = read_stage(spark, kb, "documents")
    kb_chunks = read_stage(spark, kb, "chunks")
    got, want = (decide(d, c) for d, c in ((kb_docs, kb_chunks), (docs, chunks)))
    assert len(got) == docs.count()
    assert got == want
    got, want = (
        sorted(map(tuple, reconstruct_content(c).collect()))
        for c in (kb_chunks, chunks)
    )
    assert got == want
