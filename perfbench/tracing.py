"""The traced run: build and resume layer by layer under spans, then
serving over the KB.

Build and resume call the job's own public functions in dependency
order (the build in the order ``bench.py:_pipeline_stage_secs`` uses,
the resume through the job's delta path: ``resume_delta``,
``band_signature_rows``, ``candidate_pairs_involving``,
``verify_candidate_pairs``, ``incremental_components``,
``build_triples``, ``write_stage``).  Each layer's output is
materialized at its boundary, so a span covers exactly that layer's
work.  Serve times every query and probe of the pool once.

Spans live in memory and are written as JSON when the run ends.  Each
span runs its Spark jobs under its own job group; the engine counters of
those jobs (tasks, shuffle write, spill, executor run time, GC) are read
back from Spark's status store as the span ends.  A span's self time is
its duration minus its children's and minus the tracer's reads of their
counters (``trace.bookkeeping_s``).  The job itself also runs once
untraced, and the traced/untraced wall ratio is reported as the tracing
overhead; it includes the concurrency the job has and the materialized
layer boundaries lose, and the tracer's bookkeeping.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession

import harness
import phases as P
from corpus import (
    TRIPLE_COLS,
    embed_queries,
    knn_ok,
    pages_table,
    recall,
    sample_queries,
    search_key,
    set_hash,
    write_corpus,
)
from src_to_kb_spark.operators.canonicalize import (
    connected_components,
    incremental_components,
)
from src_to_kb_spark.operators.chunker import chunk_documents
from src_to_kb_spark.operators.dedup import (
    band_signature_rows,
    candidate_pairs_from_bands,
    candidate_pairs_involving,
    verify_candidate_pairs,
)
from src_to_kb_spark.operators.embed import EMBED_DIM, embed_chunks
from src_to_kb_spark.operators.extract import extract_pages
from src_to_kb_spark.operators.linking import link_mentions
from src_to_kb_spark.operators.mentions import detect_mentions
from src_to_kb_spark.operators.similarity import (
    build_ann_table,
    knn_brute_force,
    knn_ivf_kb,
    knn_lsh_kb,
)
from src_to_kb_spark.operators.triples import (
    build_triples,
    chunk_triples,
    doc_triples,
    mention_triples,
    same_as_triples,
)
from src_to_kb_spark.queries.search import search_chunks
from src_to_kb_spark.runtime.checkpoint import (
    read_stage,
    resume_delta,
    run_metrics,
    write_stage,
)
from src_to_kb_spark.runtime.skew import partition_balance, salted_repartition
from src_to_kb_spark.sources.gazetteer import gazetteer_df
from src_to_kb_spark.sources.pages import load_pages
from workloads import WORKLOADS

K = 10
LSH_BITS = 4
IVF_CENTROIDS = 8
IVF_NPROBE = 2
# distinct serve queries per run
QUERY_POOL = 4

# Layers with engine counters: the first dotted part of a span name.
LAYERS = ("skew", "extract", "chunker", "mentions", "linking", "dedup",
          "canonicalize", "triples", "checkpoint", "search", "embed", "similarity")
ENGINE = (("tasks", "count"), ("shuffle_write_bytes", "bytes"),
          ("spill_bytes", "bytes"), ("executor_run_s", "s"), ("gc_s", "s"))
# status-store counters kept per span: ENGINE plus the rows read from files
COUNTERS = (*(k for k, _ in ENGINE), "input_records")
# statuses of the stage attempts that ran (skipped ones are never run)
FINISHED = ("COMPLETE", "FAILED")


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)
    self_s: float = 0.0
    # time the tracer spent reading the span's counters after it ended
    collect_s: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Nested spans, one Spark job group each.

    A span's engine counters are read from the status store as it ends.
    They cannot be read later: when a later job reuses a stage's shuffle
    output, the store rewrites that stage as a skipped stage with no
    counters.  Each stage attempt is credited to the first span whose
    jobs ran it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._claimed: set[tuple[int, int]] = set()

    def _group(self, span: Span | None) -> str:
        return f"perfbench-{self.run_id}-{span.span_id if span else 'root'}"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, len(self.spans), parent.span_id if parent else None,
                 self.run_id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self._group(s), name)
        try:
            yield s.attrs
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(self._group(parent), parent.name if parent else "")
            s.counters = self._collect(s)
            s.collect_s = time.perf_counter() - s.end

    def _collect(self, s: Span) -> dict:
        """Sum the counters of the finished stage attempts of the span's
        jobs that no earlier span has claimed."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for job in tracker.getJobIdsForGroup(self._group(s)):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        store, jvm = jsc.statusStore(), self.sc._jvm
        c = dict.fromkeys(COUNTERS, 0)
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False,
                                       self.sc._gateway.new_array(jvm.double, 0))
            it = attempts.iterator()
            while it.hasNext():
                st = it.next()
                key = (sid, st.attemptId())
                if key in self._claimed or st.status().toString() not in FINISHED:
                    continue
                self._claimed.add(key)
                c["tasks"] += st.numCompleteTasks()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["executor_run_s"] += st.executorRunTime() / 1e3
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["input_records"] += st.inputRecords()
        return c

    def root(self, span: Span) -> Span:
        while span.parent is not None:
            span = self.spans[span.parent]
        return span

    def finish(self) -> None:
        """Fill in self times: a span's duration less its children's and
        the tracer's reads of their counters."""
        for s in self.spans:
            s.self_s = s.end - s.start
        for s in self.spans:
            if s.parent is not None:
                self.spans[s.parent].self_s -= s.end - s.start + s.collect_s

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


@dataclass
class Serving:
    """The serving tables: the KB's committed chunks and, for kNN, an ANN
    table built from ``embed_chunks`` of them."""

    chunks: DataFrame
    ann: DataFrame

    def search(self, query: str) -> DataFrame:
        return search_chunks(self.chunks, query, limit=K)

    def lsh(self, vec: list[float]) -> DataFrame:
        return knn_lsh_kb(self.ann, vec, k=K, dim=EMBED_DIM, n_bits=LSH_BITS,
                          id_col="chunk_id")

    def ivf(self, vec: list[float]) -> DataFrame:
        return knn_ivf_kb(self.ann, vec, k=K, dim=EMBED_DIM,
                          n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE,
                          id_col="chunk_id")

    @property
    def probes(self):
        return (self.lsh, self.ivf)


@dataclass
class QueryPool:
    """Seeded queries with their expected results."""

    texts: list[str]
    search_expected: list[list[tuple]]
    vectors: list[list[float]]
    knn_truth: list[list[tuple[str, float]]]


def query_pool(spark: SparkSession, serving: Serving, fresh_chunks: DataFrame,
               seed: int, n: int = QUERY_POOL) -> QueryPool:
    """Sample queries from the committed chunks.  Expected search results
    come from ``search_chunks`` over ``fresh_chunks`` (recomputed from the
    pages, never committed); the query vectors are the query texts'
    embeddings, and their kNN truth comes from ``knn_brute_force``.  The
    queries run concurrently."""
    texts = sample_queries(serving.chunks, seed, n)
    vectors = embed_queries(spark, texts)
    with ThreadPoolExecutor(max_workers=4) as ex:
        expected = list(ex.map(
            lambda q: search_key(search_chunks(fresh_chunks, q, limit=K).collect()),
            texts))
        truth = list(ex.map(
            lambda v: [(r["chunk_id"], r["cos_sim"]) for r in knn_brute_force(
                serving.ann, v, k=K, id_col="chunk_id").collect()],
            vectors))
    return QueryPool(texts, expected, vectors, truth)


class _Materializer:
    """Persists each layer's output at its span boundary and releases
    them all at the end of a phase."""

    def __init__(self):
        self.kept: list[DataFrame] = []

    def __call__(self, df: DataFrame, checkpoint: bool = False) -> tuple[DataFrame, int]:
        """``checkpoint`` cuts the lineage instead, for frames that read a
        stage table a later write in the same phase changes (a write
        re-computes every cached frame that reads its path)."""
        df = df.localCheckpoint() if checkpoint else df.persist()
        self.kept.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self.kept:
            df.unpersist()
        self.kept.clear()


def _write(tr: Tracer, df: DataFrame, kb: str, stage: str, **kw) -> None:
    with tr.span("checkpoint.write") as a:
        a["stage"] = stage
        write_stage(df, kb, stage, **kw)


def _write_s(kb: str) -> float:
    return sum(m["wall_sec"] for m in run_metrics(kb))


def traced_build(tr: Tracer, spark, pages_dir: str, kb: str) -> dict:
    keep, gaz = _Materializer(), gazetteer_df(spark)
    n_parts = spark.sparkContext.defaultParallelism
    os.makedirs(kb)
    with tr.span("build"):
        with tr.span("skew.repartition") as a:
            pages, _ = keep(salted_repartition(load_pages(spark, pages_dir, keep_keys=False),
                                               n_partitions=n_parts))
            bal = partition_balance(pages)
            a["partition_max_over_mean"] = max(bal) / statistics.fmean(bal)
        with tr.span("extract") as a:
            docs, a["docs_out"] = keep(extract_pages(pages))
        _write(tr, docs, kb, "documents")
        with tr.span("chunker") as a:
            chunks, a["chunks_out"] = keep(chunk_documents(docs))
        _write(tr, chunks, kb, "chunks")
        with tr.span("mentions") as a:
            mentions, a["rows_out"] = keep(detect_mentions(docs, gaz))
        with tr.span("linking") as a:
            linked, a["linked_out"] = keep(link_mentions(mentions, gaz))
        _write(tr, linked, kb, "linked")
        pairs = _traced_dedup(tr, keep, kb, docs, band_signature_rows(docs),
                              candidate_pairs_from_bands, "overwrite")
        _write(tr, pairs, kb, "neardup_pairs")
        with tr.span("canonicalize") as a:
            components, a["components_out"] = keep(connected_components(pairs))
        _write(tr, components, kb, "components")
        with tr.span("triples") as a:
            triples, a["rows_out"] = keep(build_triples(
                doc_triples(docs), mention_triples(linked),
                same_as_triples(components), chunk_triples(chunks)))
        _write(tr, triples, kb, "triples", partition_by=["pred"])
    keep.release()
    return {
        "checkpoint.write_s": (_write_s(kb), "s"),
        "checkpoint.bytes_written": (harness.du_bytes(kb), "bytes"),
        "checkpoint.files_written": (harness.file_count(kb), "count"),
    }


def _traced_dedup(tr: Tracer, keep, kb: str, docs: DataFrame, bands_df: DataFrame,
                  candidates, mode: str) -> DataFrame:
    """Bands (committed with ``mode``), candidate pairs, verified pairs;
    ``candidates`` maps the persisted bands to a candidate-pair frame."""
    with tr.span("dedup.bands") as a:
        bands, a["rows_out"] = keep(bands_df)
    _write(tr, bands, kb, "bands", mode=mode)
    with tr.span("dedup.candidates") as a:
        cands, a["candidates"] = keep(candidates(bands))
    with tr.span("dedup.verify") as a:
        pairs, a["pairs_out"] = keep(verify_candidate_pairs(
            docs, cands, threshold=P.THRESHOLD))
    return pairs


def traced_resume(tr: Tracer, spark, pages_dir: str, kb: str) -> dict:
    keep, gaz = _Materializer(), gazetteer_df(spark)
    n_parts = spark.sparkContext.defaultParallelism
    before = (harness.du_bytes(kb), harness.file_count(kb))
    with tr.span("resume"):
        with tr.span("checkpoint.resume_delta") as a:
            delta, a["rows_out"] = keep(resume_delta(
                load_pages(spark, pages_dir, keep_keys=False), spark, kb, "documents"),
                checkpoint=True)
        with tr.span("extract") as a:
            new_docs, a["docs_out"] = keep(extract_pages(
                salted_repartition(delta, n_partitions=n_parts)), checkpoint=True)
        _write(tr, new_docs, kb, "documents", mode="append")
        documents = read_stage(spark, kb, "documents")
        with tr.span("chunker") as a:
            chunks, a["chunks_out"] = keep(chunk_documents(new_docs))
        _write(tr, chunks, kb, "chunks", mode="append")
        with tr.span("mentions") as a:
            mentions, a["rows_out"] = keep(detect_mentions(new_docs, gaz))
        with tr.span("linking") as a:
            linked, a["linked_out"] = keep(link_mentions(mentions, gaz))
        _write(tr, linked, kb, "linked", mode="append")
        pairs = _traced_dedup(
            tr, keep, kb, documents, band_signature_rows(new_docs),
            lambda new_bands: candidate_pairs_involving(
                new_bands, read_stage(spark, kb, "bands")),
            "append",
        )
        _write(tr, pairs, kb, "neardup_pairs", mode="append")
        with tr.span("canonicalize.incremental") as a:
            components = incremental_components(
                read_stage(spark, kb, "components"), pairs).localCheckpoint()
            a["components_out"] = components.count()
        _write(tr, components, kb, "components")
        with tr.span("triples") as a:
            triples, a["rows_out"] = keep(build_triples(
                doc_triples(documents),
                mention_triples(read_stage(spark, kb, "linked")),
                same_as_triples(read_stage(spark, kb, "components")),
                chunk_triples(read_stage(spark, kb, "chunks"))))
        _write(tr, triples, kb, "triples", partition_by=["pred"])
    keep.release()
    return {
        # every stage is written again, so the sidecars now hold this phase
        "resume.checkpoint.write_s": (_write_s(kb), "s"),
        "resume.checkpoint.bytes_written": (harness.du_bytes(kb) - before[0], "bytes"),
        "resume.checkpoint.files_written": (harness.file_count(kb) - before[1], "count"),
    }


def traced_serve(tr: Tracer, spark, kb: str, serve_dir: str, make_pool,
                 ops: P.Ops) -> None:
    """Serving set-up, then every pool query once as a search and once per
    ANN family.  The pool (expected results) is computed between the two
    ``serve`` spans, outside the trace."""
    with tr.span("serve"):
        with tr.span("embed") as a:
            emb = embed_chunks(read_stage(spark, kb, "chunks")).persist()
            a["rows_out"] = emb.count()
        with tr.span("similarity.build_ann"):
            write_stage(build_ann_table(
                emb, dim=EMBED_DIM, n_bits=LSH_BITS, n_centroids=IVF_CENTROIDS,
                id_col="chunk_id"), serve_dir, "ann", partition_by=["lsh_bucket", "ivf_list"])
        emb.unpersist()
    serving = Serving(read_stage(spark, kb, "chunks"), read_stage(spark, serve_dir, "ann"))
    pool = make_pool(serving)
    with tr.span("serve"):
        for q, want in zip(pool.texts, pool.search_expected):
            with tr.span("search") as a:
                rows = serving.search(q).collect()
                a["results"] = len(rows)
            ops.record(search_key(rows) == want, f"traced search {q!r}")
        for vec, truth in zip(pool.vectors, pool.knn_truth):
            for probe in serving.probes:
                with tr.span("similarity.knn") as a:
                    rows = probe(vec).collect()
                    a["results"] = len(rows)
                if ops.record(knn_ok(rows, truth, K), "traced knn"):
                    a["recall"] = recall(rows, truth)


def _metric_table(tr: Tracer) -> dict:
    """Per-layer metrics from the spans: self times and counts per phase,
    engine counters per layer over all phases."""

    def spans(root: str, name: str) -> list[Span]:
        return [s for s in tr.spans if s.name == name and tr.root(s).name == root]

    def self_s(root: str, name: str) -> float:
        return sum(s.self_s for s in spans(root, name))

    def attr(root: str, name: str, key: str) -> float:
        return sum(s.attrs.get(key, 0) for s in spans(root, name))

    m = {}
    for root, prefix in (("build", ""), ("resume", "resume.")):
        m[f"{prefix}extract.s"] = (self_s(root, "extract"), "s")
        m[f"{prefix}chunker.s"] = (self_s(root, "chunker"), "s")
        m[f"{prefix}mentions.s"] = (self_s(root, "mentions"), "s")
        m[f"{prefix}linking.s"] = (self_s(root, "linking"), "s")
        m[f"{prefix}dedup.bands_s"] = (self_s(root, "dedup.bands"), "s")
        m[f"{prefix}dedup.candidates_s"] = (self_s(root, "dedup.candidates"), "s")
        m[f"{prefix}dedup.verify_s"] = (self_s(root, "dedup.verify"), "s")
        cands = attr(root, "dedup.candidates", "candidates")
        pairs = attr(root, "dedup.verify", "pairs_out")
        m[f"{prefix}dedup.candidates"] = (cands, "count")
        m[f"{prefix}dedup.pairs_out"] = (pairs, "count")
        m[f"{prefix}dedup.pairs_per_candidate"] = (pairs / cands if cands else 0.0, "ratio")
        m[f"{prefix}triples.s"] = (self_s(root, "triples"), "s")
        m[f"{prefix}triples.rows_out"] = (attr(root, "triples", "rows_out"), "count")
    m["extract.docs_out"] = (attr("build", "extract", "docs_out"), "count")
    m["chunker.chunks_out"] = (attr("build", "chunker", "chunks_out"), "count")
    m["mentions.rows_out"] = (attr("build", "mentions", "rows_out"), "count")
    linked = attr("build", "linking", "linked_out")
    mentions = m["mentions.rows_out"][0]
    m["linking.linked_out"] = (linked, "count")
    m["linking.linked_per_mention"] = (linked / mentions if mentions else 0.0, "ratio")
    m["canonicalize.s"] = (self_s("build", "canonicalize"), "s")
    m["canonicalize.components_out"] = (attr("build", "canonicalize", "components_out"),
                                        "count")
    m["canonicalize.incremental_s"] = (self_s("resume", "canonicalize.incremental"), "s")
    m["skew.repartition_s"] = (self_s("build", "skew.repartition"), "s")
    m["skew.partition_max_over_mean"] = (
        attr("build", "skew.repartition", "partition_max_over_mean"), "ratio")
    m["checkpoint.resume_delta_s"] = (self_s("resume", "checkpoint.resume_delta"), "s")
    m["checkpoint.delta_rows"] = (attr("resume", "checkpoint.resume_delta", "rows_out"),
                                  "count")

    searches = spans("serve", "search")
    probes = spans("serve", "similarity.knn")
    m["embed.s"] = (self_s("serve", "embed"), "s")
    m["similarity.build_ann_s"] = (self_s("serve", "similarity.build_ann"), "s")
    m["search.s"] = (self_s("serve", "search"), "s")
    m["search.rows_scanned_per_result"] = (
        sum(s.counters["input_records"] for s in searches)
        / max(1, sum(s.attrs["results"] for s in searches)), "ratio")
    m["similarity.knn_s"] = (self_s("serve", "similarity.knn"), "s")
    m["similarity.rows_scanned_per_probe"] = (
        sum(s.counters["input_records"] for s in probes) / max(1, len(probes)), "ratio")
    m["similarity.recall_at_10"] = (
        statistics.fmean(s.attrs.get("recall", 0.0) for s in probes) if probes else 0.0,
        "ratio")

    for layer in LAYERS:
        mine = [s for s in tr.spans if s.parent is not None and s.layer == layer]
        for key, unit in ENGINE:
            m[f"{layer}.{key}"] = (sum(s.counters[key] for s in mine), unit)
    return m


def traced_run(spark, args, cpus: int, work: str, out_dir: str, docs: int):
    """The traced run over ``docs`` pages: returns (ops, per-layer
    metrics) and writes the spans to
    ``<out_dir>/spans-<workload>-seed<seed>.json``."""
    ops = P.Ops()
    pages = pages_table(spark, docs, args.seed, WORKLOADS[args.workload]["unique"], cpus)
    corpus = write_corpus(pages, os.path.join(work, "pages"), cpus)
    refs = P.references(spark, corpus.all_dir)

    # the job untraced, for the overhead comparison
    life = P.lifecycle(spark, os.path.join(work, "kb-job"), cpus, ops, corpus.base_dir,
                       corpus.all_dir)
    life.check(refs, ops)
    if life.build_s is None or life.resume_s is None:
        return ops, {}

    tr = Tracer(spark)
    kb = os.path.join(work, "kb")
    m = traced_build(tr, spark, corpus.base_dir, kb)
    ops.record(set_hash(read_stage(spark, kb, "triples"), TRIPLE_COLS)
               == P.rebuilt_triples_hash(spark, kb), "traced build")
    m |= traced_resume(tr, spark, corpus.all_dir, kb)
    ops.record(P.kb_hashes(spark, kb) == refs.kb, "traced resume")
    traced_serve(tr, spark, kb, os.path.join(work, "serve"),
                 lambda serving: query_pool(spark, serving, refs.chunks, args.seed),
                 ops)
    refs.release()

    tr.finish()
    m |= _metric_table(tr)
    walls = {}
    for r in tr.spans:
        if r.parent is None:
            walls[r.name] = walls.get(r.name, 0.0) + r.end - r.start
    m["trace.build_wall_s"] = (walls["build"], "s")
    m["trace.resume_wall_s"] = (walls["resume"], "s")
    m["trace.serve_wall_s"] = (walls["serve"], "s")
    m["trace.build_overhead_ratio"] = (walls["build"] / life.build_s, "ratio")
    m["trace.resume_overhead_ratio"] = (walls["resume"] / life.resume_s, "ratio")
    # the tracer's own reads of the counters are left out of the wall
    bookkeeping = sum(s.collect_s for s in tr.spans if s.parent is not None)
    m["trace.bookkeeping_s"] = (bookkeeping, "s")
    m["trace.attributed_share"] = (
        sum(s.self_s for s in tr.spans if s.parent is not None)
        / (sum(walls.values()) - bookkeeping), "ratio")

    os.makedirs(out_dir, exist_ok=True)
    tr.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
    return ops, m
