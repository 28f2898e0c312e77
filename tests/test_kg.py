"""KG pipeline correctness: triple P/R vs the pure-Python oracle,
connected-components golden graphs, planted near-dup recall, resume,
and LSH sanity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from src_to_kb_spark.operators.canonicalize import connected_components
from src_to_kb_spark.operators.dedup import neardup_pairs
from src_to_kb_spark.operators.extract import extract_pages
from src_to_kb_spark.operators.similarity import knn_brute_force, knn_lsh
from src_to_kb_spark.pipeline import run_pipeline
from src_to_kb_spark.sources.pages import load_pages

from .conftest import SF_SMOKE
from .oracle_kg import components_py, kg_triples_py, neardup_pairs_py, load_documents, url_of
from src_to_kb_spark.core.textproc import clean_content


def test_triple_pr(spark):
    """North-rule gate: pipeline triples vs pure-Python oracle.
    Target P/R >= 0.95; we assert exact set equality."""
    res = run_pipeline(
        spark, load_pages(spark, SF_SMOKE), neardup_threshold=0.6
    )
    got = {(r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()}
    exp = kg_triples_py(SF_SMOKE, neardup_threshold=0.6)
    inter = len(got & exp)
    precision = inter / len(got)
    recall = inter / len(exp)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    assert got == exp, (
        f"P={precision:.4f} R={recall:.4f}; "
        f"spark-only={list(got - exp)[:3]} oracle-only={list(exp - got)[:3]}"
    )


def test_run_pipeline_leaves_session_cache_empty(spark):
    """``run_pipeline`` computes its shared documents table once per
    query without registering it in the session cache: repeated calls
    over the same pages neither accumulate cached plans nor ask to
    cache an already-cached one."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    pages = load_pages(spark, SF_SMOKE)
    runs = []
    for _ in range(2):
        triples = run_pipeline(spark, pages, neardup_threshold=0.6).triples
        runs.append(sorted(tuple(r) for r in triples.collect()))
        assert cache.isEmpty()
    assert runs[0] == runs[1] and runs[0]


GOLDEN_GRAPHS = [
    # (edges, expected components {node: canon})
    ([("b", "c"), ("a", "b")], {"a": "a", "b": "a", "c": "a"}),  # chain
    ([("hub", "s1"), ("hub", "s2"), ("hub", "s3")],
     {"hub": "hub", "s1": "hub", "s2": "hub", "s3": "hub"}),  # star
    # two cliques bridged
    ([("a", "b"), ("b", "c"), ("x", "y"), ("y", "z"), ("c", "x")],
     {k: "a" for k in "abcxyz"}),
    # two separate cliques + singleton node via nodes-df
    ([("a", "b"), ("x", "y")], {"a": "a", "b": "a", "x": "x", "y": "x"}),
]


@pytest.mark.parametrize("driver_threshold", [200_000, None],
                         ids=["driver-path", "distributed-path"])
@pytest.mark.parametrize("edges,expected", GOLDEN_GRAPHS)
def test_connected_components_golden(spark, edges, expected, driver_threshold):
    edf = spark.createDataFrame(edges, "key_a string, key_b string")
    got = {
        r["key"]: r["canon_id"]
        for r in connected_components(
            edf, driver_threshold=driver_threshold
        ).collect()
    }
    assert got == expected
    # python union-find twin agrees
    assert components_py(set(edges), set(expected)) == expected


def test_neardup_planted_dups(spark):
    """The driver corpus plants near-duplicates (doc copied + ' dup'
    tokens appended); MinHash-LSH must find them, and agree with the
    pure-Python twin."""
    docs = extract_pages(load_pages(spark, SF_SMOKE))
    got = {
        (r["key_a"], r["key_b"])
        for r in neardup_pairs(docs, threshold=0.6).collect()
    }
    exp = neardup_pairs_py(load_documents(SF_SMOKE), 0.6)
    assert got == exp
    assert len(got) >= 15  # planted dups actually found
    # every pair is a true near-dup of the planted kind
    texts = {
        url_of(d): clean_content(d["text"]) for d in load_documents(SF_SMOKE)
    }
    for a, b in got:
        ta, tb = texts[a], texts[b]
        assert ta.replace(" dup", "") == tb.replace(" dup", "")


def test_knn_lsh_subset_of_bruteforce_values(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    bf = {r["vec_id"]: r["cos_sim"] for r in
          knn_brute_force(rest, qv, k=10 ** 6).collect()}
    lsh = knn_lsh(rest, qv, k=10, n_bits=4).collect()
    assert 0 < len(lsh) <= 10
    sims = [r["cos_sim"] for r in lsh]
    assert sims == sorted(sims, reverse=True)
    for r in lsh:
        assert bf[r["vec_id"]] == r["cos_sim"]


def test_minhash_udf_matches_catalyst_md5(spark):
    """Cross-engine LSH parity, pinned at the two seams:

    1. the 64-bit md5-prefix SHINGLE hash — verify's JVM expression
       (``shingle_hashes`` over ``jvm_tokens``) against its Python
       reference ``shingle_hashes_py``, on every smoke document and on
       fixed edge cases (Java-vs-Python whitespace/lower/md5 semantics,
       too few tokens, one 200 KB document);
    2. the universal-hash minhash chain on top — numpy uint64
       wraparound vs arbitrary-precision Python ints (the DuckDB
       UHUGEINT twin is pinned by the neardup oracle row).
    """
    from src_to_kb_spark.core.tokenize import jvm_tokens
    from src_to_kb_spark.operators.dedup import (
        MH_A,
        MH_B,
        N_BANDS,
        N_HASHES,
        minhash_bands_py,
        shingle_hashes,
        shingle_hashes_py,
        shingle_py,
    )

    docs = extract_pages(load_pages(spark, SF_SMOKE)).select("url", "text")
    long_doc = "\n".join(
        " ".join(f"w{(i * 7919 + j) % 4001}" for j in range(12))
        for i in range(3000)
    )
    assert len(long_doc) >= 200_000
    fixed = [
        None, "", "one", "two words",
        "nbsp\xa0joins one token here", "v\x0btab splits\x0bhere too",
        "form\ffeed splits here", "crlf line\r\nnext line\r\n",
        "\ttabs\tlead\tand\ttrail\t",
        "İstanbul İzmir Ankara İstanbul", "ΣΑΣ ΟΔΟΣ ΣΑΣ ΟΔΟΣ", "ΌΣΟΣ ΌΣΟΣ ΌΣΟΣ",
        long_doc,
    ]
    edge = spark.createDataFrame(
        [(f"edge{i}", t) for i, t in enumerate(fixed)], "url string, text string"
    )
    rows = (
        docs.unionByName(edge)
        .select("url", "text", jvm_tokens(F.col("text")).alias("toks"))
        .select("url", "text", shingle_hashes(F.col("toks")).alias("sh"))
        .collect()
    )
    assert len(rows) == docs.count() + len(fixed)
    for r in rows:
        assert sorted(r["sh"]) == shingle_hashes_py(r["text"]), r["url"]
    assert sum(1 for r in rows if r["sh"] and r["url"].startswith("edge")) == 9
    assert sum(1 for r in rows if r["sh"]) > len(fixed)

    # 2: numpy wraparound ≡ exact big-int arithmetic, per band
    for r in docs.limit(20).collect():
        sh = shingle_py(r["text"])
        if not sh:
            continue
        import hashlib

        hvs = [
            int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")
            for s in sh
        ]
        mins = [
            min((MH_A[j] * x + MH_B[j]) % (1 << 64) for x in hvs)
            for j in range(N_HASHES)
        ]
        rpb = N_HASHES // N_BANDS
        expect = [
            ",".join(str(m) for m in mins[b * rpb : (b + 1) * rpb])
            for b in range(N_BANDS)
        ]
        assert minhash_bands_py(sh) == expect


def test_connected_components_distributed_path_graph(spark):
    """10k-node path graph through the DISTRIBUTED branch: the
    alternating large-star/small-star algorithm must label it in
    O(log n) rounds (min-label propagation would need ~10k rounds —
    one per hop of diameter — and time out here)."""
    n = 10_000
    edges = spark.range(n - 1).select(
        F.format_string("n%05d", F.col("id")).alias("key_a"),
        F.format_string("n%05d", F.col("id") + 1).alias("key_b"),
    )
    got = connected_components(edges, driver_threshold=None, max_iter=30)
    rows = got.collect()
    assert len(rows) == n
    assert {r["canon_id"] for r in rows} == {"n00000"}
