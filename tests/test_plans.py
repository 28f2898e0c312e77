"""Physical-plan shape assertions — the 100 TB design contract.

These tests pin the *plan*, not just the results: broadcast joins stay
broadcast, map-only stages don't shuffle, parquet scans prune columns,
and global top-k compiles to TakeOrderedAndProject (per-partition heap
+ driver merge), not a full sort.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jobs.run_kg_pipeline import main as job_main
from src_to_kb_spark.operators.chunker import chunk_documents
from src_to_kb_spark.operators.extract import extract_pages
from src_to_kb_spark.operators.linking import link_mentions
from src_to_kb_spark.operators.mentions import detect_mentions
from src_to_kb_spark.operators.similarity import knn_brute_force
from src_to_kb_spark.queries.search import search_documents
from src_to_kb_spark.runtime.checkpoint import read_stage
from src_to_kb_spark.sources.gazetteer import gazetteer_df
from src_to_kb_spark.sources.pages import load_pages, synthetic_pages

from .conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ingest_is_map_only(spark):
    pages = synthetic_pages(spark, n=20)
    chunks = chunk_documents(extract_pages(pages))
    assert "Exchange" not in _plan(chunks), "extract+chunk must not shuffle"


def test_chunker_splits_each_document_once(spark):
    """The chunk content slices lines split below the explode, once per
    document, not once per chunk row."""
    plan = _plan(chunk_documents(extract_pages(synthetic_pages(spark, n=5))))
    gen = plan.index("Generate")
    assert plan.count("split(") == 1 and plan.index("split(") > gen


def test_mentions_is_map_only_closure_udf(spark):
    """The shipped mention detector counts aliases in-row (dictionary
    in the Arrow UDF closure): no join, no exchange — one map pass."""
    docs = extract_pages(load_pages(spark, SF_SMOKE))
    m = detect_mentions(docs, gazetteer_df(spark))
    plan = _plan(m)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan


def test_mentions_exploded_broadcasts_gazetteer(spark):
    from src_to_kb_spark.operators.mentions import detect_mentions_exploded

    docs = extract_pages(load_pages(spark, SF_SMOKE))
    m = detect_mentions_exploded(docs, gazetteer_df(spark))
    plan = _plan(m)
    assert "BroadcastHashJoin" in plan
    # the only exchange is the aggregation's — token stream filtered
    # against the broadcast BEFORE any shuffle
    assert "SortMergeJoin" not in plan


def test_mentions_variants_agree(spark):
    from src_to_kb_spark.operators.mentions import detect_mentions_exploded

    docs = extract_pages(load_pages(spark, SF_SMOKE))
    gaz = gazetteer_df(spark)
    a = {(r.key, r.norm, r.n_mentions)
         for r in detect_mentions(docs, gaz).collect()}
    b = {(r.key, r.norm, r.n_mentions)
         for r in detect_mentions_exploded(docs, gaz).collect()}
    assert a == b


def test_linking_broadcasts_gazetteer(spark):
    docs = extract_pages(load_pages(spark, SF_SMOKE))
    gaz = gazetteer_df(spark)
    linked = link_mentions(detect_mentions(docs, gaz), gaz)
    # mentions are now UDF-closure-counted (no join); the candidate
    # join against the gazetteer is the one broadcast
    plan = _plan(linked)
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered(spark):
    docs = extract_pages(load_pages(spark, SF_SMOKE))
    q = search_documents(docs, "spark join", limit=10)
    assert "TakeOrderedAndProject" in _plan(q)


def test_knn_no_shuffle_before_topk(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qv = [float(x) for x in emb.first()["embedding"]]
    q = knn_brute_force(emb, qv, k=10)
    plan = _plan(q)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan.split("TakeOrderedAndProject")[1], (
        "scoring must be map-side only"
    )


def test_column_pruning_reaches_scan(spark):
    docs = load_pages(spark, SF_SMOKE, keep_keys=True)
    q = docs.select("doc_id")  # url needs source+lang+doc_id only
    plan = _plan(q)
    scan = plan[plan.index("FileScan"):].split("\n")[0]
    assert "text" not in scan, f"text column must be pruned: {scan}"


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter(
        F.col("doc_id") == 7
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "IsNotNull(doc_id)" in plan


def test_neardup_plan_is_bounded_and_arrow_based(spark):
    """Regression for two scale pathologies found at local[32]:
    (a) carrying the full pre-checkpoint lineage into the band
    self-join ballooned serialized task binaries to ~16 MB;
    (b) computing minhash via Catalyst higher-order functions ran
    interpreted (per-call MessageDigest reflection) and got slower
    with MORE threads.  The shipped plan must read the shingle
    features from a checkpointed scan and contain no md5 calls."""
    from src_to_kb_spark.operators.dedup import neardup_pairs

    docs = extract_pages(load_pages(spark, SF_SMOKE))
    pairs = neardup_pairs(docs, threshold=0.6)
    plan = _plan(pairs)
    assert len(plan) < 200_000, f"plan blew up: {len(plan)} chars"
    # all hashing happens inside the Arrow UDF before the checkpoint
    assert "md5" not in plan
    assert "ExistingRDD" in plan or "Scan" in plan


def test_band_signature_rows_single_arrow_pass(spark):
    """The band UDF runs once per document: a non-null filter on its
    result, inferred for the explode and pushed below the projection,
    would evaluate it a second time."""
    from src_to_kb_spark.operators.dedup import band_signature_rows

    docs = extract_pages(load_pages(spark, SF_SMOKE))
    plan = _plan(band_signature_rows(docs))
    evals = [ln for ln in plan.splitlines()
             if "ArrowEvalPython" in ln and "bands_udf" in ln]
    assert len(evals) == 1, plan


VERIFY_TEXTS = {"u1": "a b c d e f g", "u2": "a b c d e f h", "u3": "x y z w"}


def _verify_inputs(spark):
    docs = spark.createDataFrame(list(VERIFY_TEXTS.items()),
                                 "url string, text string")
    cands = spark.createDataFrame([("u1", "u2"), ("u1", "u3")],
                                  "key_a string, key_b string")
    return docs, cands


def test_verify_runs_no_python_udf(spark, monkeypatch):
    """Verify runs no Python: the shingle hashes and the intersection
    are JVM expressions, in verify's plan and in the plans of the
    frames it checkpoints, which are recorded so they count too.  The
    tokens are projected before they are hashed, so each text is split
    once, not once per shingle."""
    from src_to_kb_spark.operators.dedup import (
        shingle_hashes_py,
        verify_candidate_pairs,
    )

    docs, cands = _verify_inputs(spark)
    checkpointed = []
    cls = type(docs)
    orig = cls.localCheckpoint

    def recording(self, *a, **kw):
        checkpointed.append(self)
        return orig(self, *a, **kw)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    pairs = verify_candidate_pairs(docs, cands, threshold=0.0)
    frames = (pairs, *checkpointed)
    # a lazily checkpointed frame's plan is already final: skip its
    # initial plan, which repeats the same nodes
    evals = [ln for df in frames
             for ln in _plan(df).split("== Initial Plan ==")[0].splitlines()
             if "ArrowEvalPython" in ln]
    assert not evals, evals
    optimized = [df._jdf.queryExecution().optimizedPlan().toString()
                 for df in frames]
    assert sum(p.count("split(") for p in optimized) == 1, optimized

    def jaccard(a, b):
        x = set(shingle_hashes_py(VERIFY_TEXTS[a]))
        y = set(shingle_hashes_py(VERIFY_TEXTS[b]))
        return round(len(x & y) / len(x | y), 6)

    assert sorted(tuple(r) for r in pairs.collect()) == [
        ("u1", "u2", jaccard("u1", "u2")), ("u1", "u3", 0.0)]


def test_verify_intersects_each_pair_once(spark):
    """The threshold filter is not pushed into the join condition with
    the intersection count inlined: the executed plan holds one
    ``array_intersect``, and a pair below the threshold is dropped."""
    from src_to_kb_spark.operators.dedup import verify_candidate_pairs

    docs, cands = _verify_inputs(spark)
    pairs = verify_candidate_pairs(docs, cands, threshold=0.5)
    assert _plan(pairs).count("array_intersect") == 1, _plan(pairs)
    assert [tuple(r)[:2] for r in pairs.collect()] == [("u1", "u2")]


def test_embedding_neardup_registered_is_not_quadratic(spark):
    """The REGISTERED embedding near-dup must be the bucketed LSH
    equi-join — no cartesian/nested-loop anywhere in the plan
    (r1 verdict: the quadratic baseline was registered by mistake)."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["embedding_neardup"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_search_chunks_kb_serves_from_parquet(spark):
    """The registered committed-table search must be a pure parquet
    scan + Catalyst expressions — no Arrow UDF re-run of the
    extract+chunk pipeline per query (the 100 TB serving shape)."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["search_chunks_kb"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan
    assert "parquet" in plan.lower()


def test_knn_kb_probes_are_partition_pruned(spark):
    """r2 verdict #1: the registered committed-table ANN probes must be
    parquet scans PRUNED on the bucket/ivf partition column — no
    ArrowEvalPython, no full-table assignment at query time."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name, part_col in (("knn_lsh_kb", "lsh_bucket"),
                           ("knn_ivf_kb", "ivf_list")):
        plan = _plan(qs[name](spark, SF_SMOKE))
        assert "ArrowEvalPython" not in plan, name
        assert "parquet" in plan.lower(), name
        # the probe filter must reach the scan's PartitionFilters
        pf = plan.split("PartitionFilters: [", 1)
        assert len(pf) == 2, f"{name}: no PartitionFilters in plan"
        assert part_col in pf[1].split("]")[0], name
        # and top-k must stay a per-partition heap + driver merge
        assert "TakeOrderedAndProject" in plan, name


def test_knn_kb_matches_inline_variants(spark):
    """The committed-table probes are a PHYSICAL change only: rows must
    equal the inline assign-per-query variants exactly."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for inline, kb in (("knn_lsh", "knn_lsh_kb"), ("knn_ivf", "knn_ivf_kb")):
        a = [tuple(r) for r in qs[inline](spark, SF_SMOKE).collect()]
        b = [tuple(r) for r in qs[kb](spark, SF_SMOKE).collect()]
        assert a == b and len(a) > 0, (inline, kb)


def test_linking_is_shuffle_free(spark):
    """score = prior x n_mentions factorizes, so linking pre-reduces
    the gazetteer and the corpus side must see NO exchange at all."""
    docs = extract_pages(load_pages(spark, SF_SMOKE))
    gaz = gazetteer_df(spark)
    linked = link_mentions(detect_mentions(docs, gaz), gaz)
    plan = _plan(linked)
    # the only window/exchange allowed is on the dictionary-sized
    # gazetteer side INSIDE the broadcast build — the corpus-side plan
    # after the ArrowEvalPython mention pass must be exchange-free
    corpus_side = plan.split("BroadcastExchange")[0]
    assert "Exchange" not in corpus_side.replace("BroadcastExchange", "")


def test_linking_variants_agree(spark):
    from src_to_kb_spark.operators.linking import link_mentions_windowed

    docs = extract_pages(load_pages(spark, SF_SMOKE))
    gaz = gazetteer_df(spark)
    m = detect_mentions(docs, gaz)
    a = {tuple(r) for r in link_mentions(m, gaz).collect()}
    b = {tuple(r) for r in link_mentions_windowed(m, gaz).collect()}
    assert a == b and len(a) > 0


@pytest.fixture(scope="module")
def job_kb(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("plans") / "kb")
    job_main(["--input", SF_SMOKE, "--output", out])
    return out


def _scans(df) -> list[str]:
    return [line for line in _plan(df).split("\n") if "FileScan" in line]


def test_triples_pred_filter_scans_one_table(spark, job_kb):
    """Each predicate of the triples view comes from one stage table, so
    a filter on ``pred`` scans that table alone."""
    view = read_stage(spark, job_kb, "triples")
    for pred, cols in (("same_as", "[key#"), ("has_chunk", "[url#")):
        scans = _scans(view.filter(F.col("pred") == pred))
        assert len(scans) == 1 and cols in scans[0], (pred, scans)


def test_triples_view_reads_no_text(spark, job_kb):
    """The view selects no chunk ``content``: its plan holds no document
    lines lookup and scans no ``documents.text``."""
    view = read_stage(spark, job_kb, "triples")
    assert "_doc_lines" not in _plan(view)
    scans = _scans(view)
    assert scans and not any("text#" in s for s in scans), scans
