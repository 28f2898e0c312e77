"""The benchmark's steps and checks, shared by the untraced and the
traced run.

Each step calls only the package's public functions: the pipeline job
(``jobs/run_kg_pipeline.main``) for build and resume, and
``src_to_kb_spark.*`` for the reference results.
"""

from __future__ import annotations

import contextlib
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from corpus import COMPONENT_COLS, TRIPLE_COLS, Corpus, set_hash
from harness import du_bytes, program_cpu_s
from jobs.run_kg_pipeline import main as job_main
from src_to_kb_spark.operators.triples import (
    build_triples,
    chunk_triples,
    doc_triples,
    mention_triples,
    same_as_triples,
)
from src_to_kb_spark.pipeline import run_pipeline
from src_to_kb_spark.runtime.checkpoint import read_stage

# the job's default --neardup-threshold
THRESHOLD = 0.8


class Ops:
    """Attempted / failed operation counts; a failure is an exception or
    a wrong output."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: {what} raised:\n{traceback.format_exc()}", file=sys.stderr)


def run_job(input_dir: str, output_dir: str, cpus: int) -> dict:
    """One invocation of the pipeline job; its summary line goes to stderr."""
    with contextlib.redirect_stdout(sys.stderr):
        return job_main(["--input", input_dir, "--output", output_dir,
                         "--cpus", str(cpus)])


def kb_hashes(spark: SparkSession, kb: str) -> tuple[tuple, tuple]:
    return (set_hash(read_stage(spark, kb, "triples"), TRIPLE_COLS),
            set_hash(read_stage(spark, kb, "components"), COMPONENT_COLS))


def rebuilt_triples_hash(spark: SparkSession, kb: str) -> tuple:
    """Hash of the triples ``build_triples`` makes from the KB's own
    committed stage tables."""
    return set_hash(build_triples(
        doc_triples(read_stage(spark, kb, "documents")),
        mention_triples(read_stage(spark, kb, "linked")),
        same_as_triples(read_stage(spark, kb, "components")),
        chunk_triples(read_stage(spark, kb, "chunks")),
    ), TRIPLE_COLS)


@dataclass
class References:
    """Expected KB contents for the pages in ``pages_dir``, from
    ``run_pipeline`` (no checkpoints, no resume).  ``chunks`` are that
    pipeline's chunks, never committed; they stay cached until
    :meth:`release`."""

    pages_dir: str
    kb: tuple[tuple, tuple]
    n_docs: int
    chunks: DataFrame

    def release(self) -> None:
        self.chunks.unpersist()


def references(spark: SparkSession, pages_dir: str) -> References:
    res = run_pipeline(spark, spark.read.parquet(pages_dir).drop("held"),
                       neardup_threshold=THRESHOLD, repartition_input=False)
    components = res.components.persist()
    chunks = res.chunks.persist()
    try:
        kb = (set_hash(res.triples, TRIPLE_COLS), set_hash(components, COMPONENT_COLS))
        n_docs = res.documents.count()
        chunks.count()
    finally:
        components.unpersist()
        res.documents.unpersist()
    return References(pages_dir, kb, n_docs, chunks)


@dataclass
class Lifecycle:
    """A build, optionally a resume, and some no-op re-runs of the job:
    wall times, and what the checks compare after each kind of step."""

    build_s: float | None = None
    build_cpu_s: float = 0.0
    resume_s: float | None = None
    noop_s: list[float] = field(default_factory=list)
    docs: int = 0
    kb_bytes: int = 0
    # step -> (pages dir of the step, KB hashes, documents)
    after: dict = field(default_factory=dict)
    build_triples_rebuilt: tuple | None = None

    def check(self, refs: References, ops: Ops) -> None:
        """Check each step that ran; a step that fails its check loses its
        timing.  The KB after a step over the reference's pages must equal
        the reference; the build's triples must also equal
        ``build_triples`` over its own stage tables."""
        for step, (pages_dir, hashes, docs) in self.after.items():
            ok = pages_dir != refs.pages_dir or (hashes, docs) == (refs.kb, refs.n_docs)
            if step == "build_s":
                ok = ok and hashes[0] == self.build_triples_rebuilt
            if not ops.record(ok, step.removesuffix("_s")):
                setattr(self, step, [] if step == "noop_s" else None)


def lifecycle(spark: SparkSession, kb: str, cpus: int, ops: Ops, build_pages: str,
              resume_pages: str | None = None, noops: int = 0,
              cpu_s: Callable[[], float] = program_cpu_s) -> Lifecycle:
    """Build ``kb`` from ``build_pages``, resume it with ``resume_pages``
    when given, then re-run ``noops`` times with nothing new, reading back
    what the checks need after the build, the resume and the last
    re-run.  ``cpu_s`` is the clock the build's CPU time is read from."""
    out = Lifecycle()

    def timed(pages: str) -> tuple[float, dict]:
        t0 = time.perf_counter()
        summary = run_job(pages, kb, cpus)
        return time.perf_counter() - t0, summary

    step = "build"
    try:
        cpu0 = cpu_s()
        out.build_s, summary = timed(build_pages)
        out.build_cpu_s = cpu_s() - cpu0
        out.after["build_s"] = (build_pages, kb_hashes(spark, kb), summary["documents"])
        out.build_triples_rebuilt = rebuilt_triples_hash(spark, kb)
        out.docs, out.kb_bytes = summary["documents"], du_bytes(kb)
        pages = build_pages
        if resume_pages is not None:
            step, pages = "resume", resume_pages
            out.resume_s, summary = timed(pages)
            out.after["resume_s"] = (pages, kb_hashes(spark, kb), summary["documents"])
        step = "no-op re-run"
        for _ in range(noops):
            dt, summary = timed(pages)
            out.noop_s.append(dt)
        if out.noop_s:
            out.after["noop_s"] = (pages, kb_hashes(spark, kb), summary["documents"])
    except Exception:
        ops.error(step)
    return out
