"""The uploader's sendable-set decision (upload.js:128-204): embedding
merge, completeness skip, index-ordered chunk arrays and raw-content
reconstruction, over ``merge_embeddings_into_chunks`` and
``_docs_with_chunks`` — the plan the contract's ``upload_sendable``
query runs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jobs.run_kg_pipeline import main as job_main
from src_to_kb_spark.operators.chunker import chunk_documents
from src_to_kb_spark.operators.extract import extract_pages
from src_to_kb_spark.operators.kbio import reconstruct_content
from src_to_kb_spark.runtime.checkpoint import read_stage
from src_to_kb_spark.sinks.upload import (
    _docs_with_chunks,
    merge_embeddings_into_chunks,
)
from src_to_kb_spark.sources.pages import load_pages, synthetic_pages

from .conftest import SF_SMOKE

DOC_COLS = ("doc_uid", "url", "size", "language_ext", "type", "text")


def decide(docs, chunks, embeddings=None):
    """(sendable rows, number skipped) as the uploader decides them:
    chunks-only skips documents with no chunks; with embeddings, also
    documents with any embedding-less chunk (upload.js:141-173)."""
    with_embedding = embeddings is not None
    src = (
        merge_embeddings_into_chunks(chunks, embeddings)
        if with_embedding else chunks
    )
    joined = _docs_with_chunks(
        docs.select(*DOC_COLS), src, with_embedding=with_embedding
    )
    bad = F.col("chunks").isNull()
    if with_embedding:
        bad = bad | (F.col("n_missing") > 0)
    rows = joined.collect()
    assert len(rows) == docs.count()  # one row per document
    sendable = joined.filter(~bad).collect()
    return sendable, len(rows) - len(sendable), joined


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
    sendable, skipped, joined = decide(docs, chunks, emb)
    # both victims skip: one has a partially-embedded chunk set (if it
    # has >1 chunk) or IS fully embedded with its single partial vector
    assert skipped >= 1
    assert len(sendable) == 12 - skipped
    assert victims[1] not in {r["doc_uid"] for r in sendable}
    # well-formed KB: the max-vector dedup policy never fires
    assert joined.agg(F.coalesce(F.sum("n_dup"), F.lit(0))).first()[0] == 0
    # merged rows: every chunk of every sendable doc carries its vector
    for r in sendable:
        assert r["chunks"], r["doc_uid"]
        assert all(c["embedding"] is not None for c in r["chunks"])
        assert [c["index"] for c in r["chunks"]] == sorted(
            c["index"] for c in r["chunks"]
        )


def test_upload_raw_content_reconstructs_from_chunks(spark, kb):
    """Raw-content mode sends the chunk contents joined '\\n\\n' in
    index order (upload.js:187-190): the per-document chunk array joins
    to exactly what ``reconstruct_content`` rebuilds."""
    docs, chunks, _, _ = kb
    _, _, joined = decide(docs, chunks)
    recon = {
        r["doc_uid"]: r["content"]
        for r in reconstruct_content(chunks).collect()
    }
    rows = joined.select(
        "doc_uid",
        F.array_join(
            F.transform(F.col("chunks"), lambda c: c["content"]), "\n\n"
        ).alias("content"),
    ).collect()
    assert len(rows) == 12
    for r in rows:
        assert r["content"] == recon[r["doc_uid"]]


def test_upload_chunks_only_skips_chunkless(spark, kb):
    docs, chunks, _, _ = kb
    one = chunks.select("doc_uid").distinct().orderBy("doc_uid").limit(1)
    chunkless = chunks.join(one, "doc_uid", "left_anti")
    sendable, skipped, _ = decide(docs, chunkless)
    assert skipped == 1
    assert len(sendable) == 11
    assert all(r["chunks"] for r in sendable)


def test_upload_duplicate_embedding_rows_collapse(spark, kb):
    """upload.js:146-150 builds a Map, so duplicate chunk_id embedding
    rows collapse to ONE vector per chunk — a bare join would instead
    multiply the chunk rows inside the document.  Survivor is the
    deterministic lexicographic max (no file order on a distributed
    table), and ``n_dup`` counts the duplicated chunk_ids so the
    divergence from the reference's last-write rule is observable."""
    docs, chunks, emb, _ = kb
    dup = emb.withColumn(
        "embedding", F.array(F.lit(0.05))  # lexicographically smaller
    )
    sendable, _, joined = decide(docs, chunks, emb.union(dup))
    # every chunk_id in emb now has two vectors → all of them count
    assert joined.agg(F.coalesce(F.sum("n_dup"), F.lit(0))).first()[0] == (
        emb.select("chunk_id").distinct().count()
    )
    n_chunks = {
        r["doc_uid"]: r["n"]
        for r in chunks.groupBy("doc_uid").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert len(sendable) > 0
    for r in sendable:
        # exactly one entry per chunk, carrying the max survivor
        assert len(r["chunks"]) == n_chunks[r["doc_uid"]]
        assert all(c["embedding"] == [0.1, 0.2] for c in r["chunks"])


def test_upload_kb_of_job_built_kb_matches_in_memory(spark, tmp_path):
    """Over the job's committed tables, whose document and chunk ids
    are derived on read, the decision sees the same documents, chunk
    arrays (ids included) and reconstructed content as over the
    in-memory extract and chunk frames."""
    kb = str(tmp_path / "kb")
    job_main(["--input", SF_SMOKE, "--output", kb])
    docs = extract_pages(load_pages(spark, SF_SMOKE))
    chunks = chunk_documents(docs)
    kb_docs = read_stage(spark, kb, "documents")
    kb_chunks = read_stage(spark, kb, "chunks")
    got, want = (
        sorted(decide(d, c)[0], key=lambda r: r["doc_uid"])
        for d, c in ((kb_docs, kb_chunks), (docs, chunks))
    )
    assert len(got) == docs.count()
    assert got == want
    got, want = (
        sorted(map(tuple, reconstruct_content(c).collect()))
        for c in (kb_chunks, chunks)
    )
    assert got == want
