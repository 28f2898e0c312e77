"""The KG stage graph, declared once (SURVEY.md §7.2).

pages → documents → chunks / linked / bands → neardup_pairs →
components → triples.  Each :class:`Stage` names its input stages, its
full-build function, how it absorbs a documents delta, its partitioning
and the job parameters in its resume identity.  Two callers walk
:data:`STAGES`: :func:`run_pipeline` in memory and the
``jobs/run_kg_pipeline.py`` job with per-stage commit and resume.

Stage functions look operators up through their module
(``dedup.…``, ``canonicalize.…``) when they run, so a test that
instruments an operator on its module sees every caller use it.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators import canonicalize, dedup
from .operators.chunker import chunk_documents
from .operators.extract import extract_pages
from .operators.linking import link_mentions
from .operators.mentions import detect_mentions
from .operators.triples import (
    build_triples,
    chunk_triples,
    doc_triples,
    mention_triples,
    same_as_triples,
)
from .sources.gazetteer import gazetteer_df


@dataclass(frozen=True)
class StageParams:
    """What the stage functions read besides their input tables."""

    gazetteer: DataFrame
    chunk_size: int = 1000
    overlap: int = 200
    neardup_threshold: float = 0.8


@dataclass(frozen=True)
class Stage:
    """One KG stage.

    ``build(params, *inputs)`` computes the whole table from the
    tables named in ``inputs`` (``"pages"`` is the source).
    ``delta(params, full, new)`` absorbs a documents delta into a
    committed table: ``full`` maps each input to its whole table and
    ``new`` to the rows this run added to it.  Without ``seeded`` it
    returns rows to append; with ``seeded`` ``full`` also holds the
    stage's own committed table and it returns the replacement table.
    A stage without ``delta`` is rebuilt whenever documents change.
    ``identity`` names the resume-identity keys (job parameters) whose
    change invalidates the stage and everything downstream of it.
    """

    name: str
    inputs: tuple[str, ...]
    build: Callable[..., DataFrame]
    delta: Callable[..., DataFrame] | None = None
    seeded: bool = False
    partition_by: tuple[str, ...] | None = None
    identity: tuple[str, ...] = ()


def _neardup_pairs(p: StageParams, documents: DataFrame,
                   bands: DataFrame) -> DataFrame:
    return dedup.verify_candidate_pairs(
        documents, dedup.candidate_pairs_from_bands(bands),
        threshold=p.neardup_threshold,
    )


def _neardup_pairs_delta(p: StageParams, full: dict, new: dict) -> DataFrame:
    # every new pair has a new member (delta urls are anti-joined
    # fresh): candidates = bands(delta) ⋈ bands(all, delta included),
    # verified against all documents; committed pairs stay untouched
    return dedup.verify_candidate_pairs(
        full["documents"],
        dedup.candidate_pairs_involving(new["bands"], full["bands"]),
        threshold=p.neardup_threshold,
    )


def _chunks(p: StageParams, documents: DataFrame) -> DataFrame:
    return chunk_documents(documents, p.chunk_size, p.overlap)


def _linked(p: StageParams, documents: DataFrame) -> DataFrame:
    return link_mentions(detect_mentions(documents, p.gazetteer), p.gazetteer)


def _bands(p: StageParams, documents: DataFrame) -> DataFrame:
    return dedup.band_signature_rows(documents)


STAGES: tuple[Stage, ...] = (
    Stage("documents", ("pages",),
          lambda p, pages: extract_pages(pages),
          delta=lambda p, full, new: extract_pages(new["pages"]),
          identity=("table_layer",)),
    Stage("chunks", ("documents",), _chunks,
          delta=lambda p, full, new: _chunks(p, new["documents"]),
          identity=("chunk_size", "overlap")),
    Stage("linked", ("documents",), _linked,
          delta=lambda p, full, new: _linked(p, new["documents"])),
    # 2 short band signatures per doc, committed as their own table so a
    # delta bands only the new docs
    Stage("bands", ("documents",), _bands,
          delta=lambda p, full, new: _bands(p, new["documents"]),
          identity=("bands_scheme",)),
    Stage("neardup_pairs", ("documents", "bands"), _neardup_pairs,
          delta=_neardup_pairs_delta, identity=("neardup_threshold",)),
    # no nodes table: singletons never produce same_as edges
    Stage("components", ("neardup_pairs",),
          lambda p, pairs: canonicalize.connected_components(pairs),
          delta=lambda p, full, new: canonicalize.incremental_components(
              full["components"], new["neardup_pairs"]),
          seeded=True),
    # partitioned by predicate: a query touching one predicate scans
    # one directory
    Stage("triples", ("documents", "linked", "components", "chunks"),
          lambda p, documents, linked, components, chunks: build_triples(
              doc_triples(documents), mention_triples(linked),
              same_as_triples(components), chunk_triples(chunks)),
          partition_by=("pred",)),
)


def downstream(names: set[str]) -> set[str]:
    """``names`` plus every stage that reads one of them, transitively."""
    out = set(names)
    for st in STAGES:  # declared in dependency order
        if out.intersection(st.inputs):
            out.add(st.name)
    return out


def invalidated_by(changed: set[str]) -> set[str]:
    """Stages a change of the resume-identity keys ``changed`` makes
    stale: each stage whose identity holds one, and its downstream."""
    return downstream(
        {st.name for st in STAGES if changed.intersection(st.identity)}
    )


@dataclass
class PipelineResult:
    documents: DataFrame
    chunks: DataFrame
    linked: DataFrame
    components: DataFrame
    triples: DataFrame


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    chunk_size: int = 1000,
    overlap: int = 200,
    neardup_threshold: float = 0.8,
    repartition_input: bool = True,
) -> PipelineResult:
    if repartition_input:
        # Salted repartition on (url_host, xxhash64(url) % salt) spreads
        # hot hosts.  No fixed partition count: AQE coalesces the shuffle
        # to its bytes (session.py: parallelism first, 1 MB minimum
        # partition), so a sub-MB input runs each Arrow UDF stage as ONE
        # Python task — a task pays a fixed worker cost whatever its row
        # count.  Up to defaultParallelism MB that leaves fewer tasks
        # than cores (at most about one per MB), trading up to a few
        # seconds of wall for the tasks not launched; above it, at least
        # defaultParallelism.
        from .runtime.skew import salted_repartition

        pages = salted_repartition(pages)

    params = StageParams(gazetteer_df(spark), chunk_size, overlap,
                         neardup_threshold)
    tables = {"pages": pages}
    for st in STAGES:
        df = st.build(params, *(tables[i] for i in st.inputs))
        # a table read by several stages (documents) is computed once
        # instead of re-running its UDF scan per consumer — the role the
        # committed stage table plays in the job.  A lazy local
        # checkpoint, not persist(): nothing enters the session cache,
        # where repeated calls would pile up entries nobody releases.
        if sum(st.name in s.inputs for s in STAGES) > 1:
            df = df.localCheckpoint(eager=False)
        tables[st.name] = df
    return PipelineResult(*(tables[n] for n in (
        "documents", "chunks", "linked", "components", "triples")))
