"""Entity linking: ``mentions`` × gazetteer → best candidate per
mention (SURVEY.md §7.2 stage 4).

Candidate generation is a **broadcast** join on the normalized alias
(the gazetteer is dictionary-sized at any corpus scale), scoring is a
pure Catalyst expression (``prior × n_mentions``), and candidate
selection is a ``row_number() = 1`` window per (document, alias) with
a deterministic tiebreak — no Python anywhere.

Skew note (north_rule): high-frequency aliases make the *gazetteer*
side hot, but because it is broadcast there is no shuffle by alias at
all — the only exchange is the window's (key, norm) partitioning,
whose keys include the document and are therefore well-spread.  AQE
skew-join handles the residual case where one host dominates.

``score`` is a pure function of its row (:func:`link_score`), so the
committed ``linked`` table does not store it: the checkpoint layer
drops it on write and derives it again on read
(``runtime/checkpoint.py`` ``DERIVED``).  The gazetteer columns
(entity, name, prior) are stored, so an old KB does not change when
the gazetteer does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def link_score(prior: str, n_mentions: str) -> str:
    """A candidate's score for a mention, ``prior × n_mentions``, as a
    SQL expression over the columns ``prior`` and ``n_mentions``."""
    return f"{prior} * {n_mentions}"


def link_mentions(mentions: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """→ linked(key, norm, n_mentions, entity_id, canonical_name, prior, score).

    ZERO-SHUFFLE formulation: the score factorizes as
    ``g(candidate) × f(mention)`` (prior × n_mentions) with
    f(mention) > 0, so the argmax over a (key, norm) group's candidates
    does not depend on the mention at all — the winner is simply the
    max-prior (tie: min entity_id) entity PER NORM.  That reduction
    runs over the dictionary-sized gazetteer (driver-trivial window),
    and linking becomes one broadcast join: map-only, no candidate
    shuffle, no window over the corpus.  The corpus-side window
    variant (:func:`link_mentions_windowed`) is kept as the semantics
    twin for scoring functions that do NOT factorize; a pytest pins
    both variants equal."""
    w = Window.partitionBy("norm").orderBy(
        F.desc("prior"), F.asc("entity_id")
    )
    best = (
        gazetteer.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("norm", "entity_id", "canonical_name", "prior")
    )
    return (
        mentions.join(F.broadcast(best), "norm")
        .withColumn("score", F.expr(link_score("prior", "n_mentions")))
        .select(
            "key", "norm", "n_mentions", "entity_id",
            "canonical_name", "prior", "score",
        )
    )


def link_mentions_windowed(
    mentions: DataFrame, gazetteer: DataFrame
) -> DataFrame:
    """General-scoring twin: top-1 per (document, alias) via a window
    over the joined candidate set — needed only when the score does
    not factorize into mention × candidate terms."""
    cand = mentions.join(F.broadcast(gazetteer), "norm").withColumn(
        "score", F.expr(link_score("prior", "n_mentions"))
    )
    w = Window.partitionBy("key", "norm").orderBy(
        F.desc("score"), F.asc("entity_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "key", "norm", "n_mentions", "entity_id",
            "canonical_name", "prior", "score",
        )
    )


def oracle_linked_cte() -> str:
    return """
cand AS (
  SELECT m.key, m.norm, m.n_mentions, g.entity_id, g.canonical_name,
         g.prior, g.prior * m.n_mentions AS score
  FROM mentions m JOIN gazetteer g USING (norm)
),
linked AS (
  SELECT key, norm, n_mentions, entity_id, canonical_name, prior, score
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY key, norm ORDER BY score DESC, entity_id
    ) AS rn FROM cand
  ) WHERE rn = 1
)"""
