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

The edge table is not stored: :func:`kb_triples` computes it from the
four stage tables it reads, in memory (``run_pipeline``) and on every
read of a KB (``read_stage(…, "triples")``).  Each predicate comes from
one source table, so a filter on ``pred`` scans only that table.  All
unions are map-only over already-computed inputs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


def _t(df: DataFrame, subj: str, pred: str, obj: str) -> DataFrame:
    # one selectExpr of SQL strings: each Column built on the Python
    # side would cost a round trip to the JVM
    return df.selectExpr(f"{subj} AS subj", f"'{pred}' AS pred",
                         f"CAST({obj} AS STRING) AS obj")


def doc_triples(docs: DataFrame) -> DataFrame:
    parts = [
        _t(docs, "url", "has_language", "lang"),
        _t(docs, "url", "has_type", "type"),
        _t(docs, "url", "has_checksum", "checksum"),
    ]
    return reduce(DataFrame.unionAll, parts)


def mention_triples(linked: DataFrame) -> DataFrame:
    # (key, mentions, norm) is unique by construction (one linked row
    # per (key, norm)); (key, linked_to, canonical) is NOT — two
    # aliases of the same entity in one document collapse — so only
    # that part pays a dedup shuffle, over narrow rows.  The dedup sits
    # below the literal ``pred``, so a filter on ``pred`` prunes it.
    return _t(linked, "key", "mentions", "norm").unionAll(
        _t(linked.select("key", "canonical_name").dropDuplicates(),
           "key", "linked_to", "canonical_name"))


def chunk_triples(chunks: DataFrame) -> DataFrame:
    return _t(chunks, "url", "has_chunk", "chunk_id")


def same_as_triples(components: DataFrame) -> DataFrame:
    """(key, canon_id) → same_as edges for non-self labels only."""
    return _t(components.where("key != canon_id"), "key", "same_as",
              "canon_id")


def build_triples(*parts: DataFrame) -> DataFrame:
    """Union triple parts — map-only, with NO global distinct (it would
    shuffle the whole edge table): every part above is (subj, pred,
    obj)-unique for unique input urls (the job enforces them at
    ingest), and predicates never collide across parts."""
    return reduce(DataFrame.unionAll, parts)


def kb_triples(documents: DataFrame, linked: DataFrame,
               components: DataFrame, chunks: DataFrame) -> DataFrame:
    """The KG's edge table over its four stage tables."""
    return build_triples(doc_triples(documents), mention_triples(linked),
                         same_as_triples(components), chunk_triples(chunks))
