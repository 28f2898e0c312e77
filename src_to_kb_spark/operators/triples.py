"""Triple materialization: documents + linked mentions + same_as
groups → (subj, pred, obj) edge table (SURVEY.md §7.2 stage 6).

Predicates (content-addressed, fully deterministic — the P/R harness
depends on it):

* doc-level   — (url, has_language, lang), (url, has_type, type),
                (url, has_checksum, sha256(text))
* mention     — (url, mentions, norm)
* link        — (url, linked_to, canonical_name)
* chunk       — (url, has_chunk, chunk_id)      [chunker-derived]
* same_as     — (url, same_as, canon_id)        [canonicalization]

The pipeline commits the table partitioned by ``pred`` (predicate-
selective scans), rebalanced on ``pred`` first so each predicate
directory holds a few files; it is not bucketed.  Here we return the
union DataFrame and let callers sink it.  All unions are map-only over
already-computed inputs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _t(df: DataFrame, subj, pred: str, obj) -> DataFrame:
    return df.select(
        subj.alias("subj"), F.lit(pred).alias("pred"), obj.cast("string").alias("obj")
    )


def doc_triples(docs: DataFrame) -> DataFrame:
    u = F.col("url")
    parts = [
        _t(docs, u, "has_language", F.col("lang")),
        _t(docs, u, "has_type", F.col("type")),
        _t(docs, u, "has_checksum", F.col("checksum")),
    ]
    return reduce(DataFrame.unionAll, parts)


def mention_triples(linked: DataFrame) -> DataFrame:
    # (key, mentions, norm) is unique by construction (one linked row
    # per (key, norm)); (key, linked_to, canonical) is NOT — two
    # aliases of the same entity in one document collapse — so only
    # that part pays a dedup shuffle, over narrow rows.
    return _t(linked, F.col("key"), "mentions", F.col("norm")).unionAll(
        _t(linked, F.col("key"), "linked_to", F.col("canonical_name"))
        .dropDuplicates(["subj", "obj"])
    )


def chunk_triples(chunks: DataFrame) -> DataFrame:
    return _t(chunks, F.col("url"), "has_chunk", F.col("chunk_id"))


def same_as_triples(components: DataFrame) -> DataFrame:
    """(key, canon_id) → same_as edges for non-self labels only."""
    return _t(
        components.filter(F.col("key") != F.col("canon_id")),
        F.col("key"),
        "same_as",
        F.col("canon_id"),
    )


def build_triples(*parts: DataFrame) -> DataFrame:
    """Union triple parts — map-only.

    Every part above is (subj, pred, obj)-unique by construction for
    unique input urls (mention_triples dedups its one non-unique
    piece; the job enforces unique urls at ingest), and predicates
    never collide across parts, so the union needs NO global distinct
    — which would shuffle the entire edge table.
    """
    return reduce(DataFrame.unionAll, parts)
