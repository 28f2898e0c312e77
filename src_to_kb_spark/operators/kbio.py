"""KB table round-trip operators: the per-document summary projection,
content reconstruction and embedding coverage (SURVEY.md §2.1
S10/S14/S15 and §3.3).

The reference triplicates KB loading across search/upload/mcp
(search.js:51-80, upload.js:44-97, mcp-server.mjs:36-61); here the
"catalog" is just `spark.read` of the stage tables.  The uploader's
join-and-verify (upload.js:146-158) is one plan,
:func:`embedding_coverage`: chunks left-joined to the distinct
embedded chunk ids, counted per document.  The completeness check and
the contract's sendable-set decision (``upload_sendable``) both read
it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kb_summary_documents(docs: DataFrame, chunks: DataFrame) -> DataFrame:
    """The per-document projection of summary.json as a DataFrame —
    (id, path, size, chunks, language, type) — so the summary scales:
    at 10^9 docs this is a table write, never a driver list."""
    counts = chunks.groupBy("doc_uid").agg(F.count("*").alias("chunks"))
    return (
        docs.select("doc_uid", "url", "size", "language_ext", "type")
        .join(counts, "doc_uid", "left")
        .select(
            F.col("doc_uid").alias("id"),
            F.col("url").alias("path"),
            "size",
            F.coalesce("chunks", F.lit(0)).alias("chunks"),
            F.col("language_ext").alias("language"),
            F.col("type").alias("type"),
        )
    )


def reconstruct_content(chunks: DataFrame) -> DataFrame:
    """S15 — rebuild document content as chunk contents joined with
    '\\n\\n' in index order (upload.js:187-190).  Lossy vs the original
    (overlap regions duplicated), exactly like the reference."""
    return chunks.groupBy("doc_uid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_index", "content"))
                ),
                lambda s: s["content"],
            ),
            "\n\n",
        ).alias("content")
    )


def embedding_coverage(chunks: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Per document with chunks: (doc_uid, n_chunks, n_missing), where
    n_missing counts the chunks with no embedding row.  The reference
    keys its embeddings by chunk id in a Map (upload.js:146-150), so a
    chunk with several embedding rows still counts once: chunks are
    left-joined to the DISTINCT embedded chunk ids."""
    embedded = embeddings.select("chunk_id", F.lit(1).alias("has_emb"))
    return (
        chunks.join(embedded.distinct(), "chunk_id", "left")
        .groupBy("doc_uid")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("has_emb").isNull(), 1).otherwise(0)).alias(
                "n_missing"
            ),
        )
    )


def verify_upload_completeness(
    chunks: DataFrame, embeddings: DataFrame
) -> DataFrame:
    """Upload-time completeness check (upload.js:146-158): documents
    whose chunks lack embeddings → (doc_uid, n_chunks, n_missing).
    Incomplete docs are skipped-with-warning by the reference; we
    return them for the caller to decide."""
    return embedding_coverage(chunks, embeddings).filter(
        F.col("n_missing") > 0
    )
