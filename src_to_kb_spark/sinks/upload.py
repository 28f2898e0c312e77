"""The uploader's sendable-set decision (upload.js:128-204): which
documents `node upload.js [--with-embeddings | --chunks-only]` would
send, and with how many chunks.

Re-expressed Spark-first: the reference's driver loop over documents
becomes a join-shaped plan — chunks grouped per doc and embeddings
merged by chunk_id.  The driver contract's ``upload_sendable`` query
derives the skip set from it: chunks_only skips documents with no
chunks, chunks_with_embeddings also skips documents with any
embedding-less chunk.  Sending is out of scope: the engine has no
REST sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_embeddings_into_chunks(
    chunks: DataFrame, embeddings: DataFrame
) -> DataFrame:
    """upload.js:146-150 — `embeddingMap.get(chunk.id)` as a left
    equi-join on chunk_id; chunks without a vector keep embedding=null
    (the completeness check downstream decides the doc's fate).

    The reference's Map collapses duplicate chunk_id rows to ONE
    vector (last file-order write wins); a bare join would instead
    multiply the chunk rows.  There is no "file order" on a
    distributed table, so the survivor is the deterministic max
    (arrays compare lexicographically) — one well-defined vector per
    chunk_id regardless of partitioning.  This is a documented
    divergence on a malformed KB (the pipeline never emits duplicate
    chunk_ids); :func:`_docs_with_chunks` counts the duplicated chunk_ids
    per document (``n_dup``), so the divergence is observable rather
    than silent.

    ``_n_emb`` (vectors seen per chunk_id) rides the SAME groupBy so
    the dup count costs no extra scan of ``embeddings``."""
    return chunks.join(
        embeddings.groupBy("chunk_id").agg(
            F.max("embedding").alias("embedding"),
            F.count("*").alias("_n_emb"),
        ),
        "chunk_id",
        "left",
    )


def _docs_with_chunks(
    docs: DataFrame, chunks: DataFrame, with_embedding: bool
) -> DataFrame:
    """(doc columns…, chunks: array<struct>, n_chunks, n_missing) —
    chunks index-ordered per doc; n_missing counts embedding-less
    chunks (0 when not merging embeddings)."""
    fields = [
        F.col("chunk_id").alias("id"),
        F.col("chunk_index").alias("index"),
        F.col("content"),
        F.col("start_line").alias("startLine"),
        F.col("end_line").alias("endLine"),
    ]
    if with_embedding:
        fields.append(F.col("embedding"))
    per_doc = chunks.groupBy("doc_uid").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("chunk_index").alias("_i"),
                                        F.struct(*fields).alias("_c")))
            ),
            lambda s: s["_c"],
        ).alias("chunks"),
        F.count("*").alias("n_chunks"),
        (
            F.sum(
                F.when(F.col("embedding").isNull(), 1).otherwise(0)
            ) if with_embedding else F.lit(0)
        ).alias("n_missing"),
        # DISTINCT chunk_ids whose merge saw >1 vector (the max policy
        # fired) — distinct so duplicate chunk rows in a malformed
        # chunks table don't fan the count out; rides the existing
        # per-doc aggregation (see merge_embeddings_into_chunks).
        # Scope: chunks attached to a known document, i.e. exactly the
        # rows where the policy can affect what gets SENT — dup
        # vectors for orphaned chunk_ids never reach a payload.
        (
            F.size(
                F.array_distinct(
                    F.collect_list(
                        F.when(F.col("_n_emb") > 1, F.col("chunk_id"))
                    )
                )
            ) if with_embedding else F.lit(0)
        ).alias("n_dup"),
    )
    return docs.join(per_doc, "doc_uid", "left")
