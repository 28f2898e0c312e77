"""Round-4 self-review fixes pinned by regression tests.

1. Blank / padded queries must not crash any search flavor — JS
   ``split(/\\s+/)`` KEEPS empty strings (``''`` → ``['']``) and an
   empty keyword scores every chunk ``length+1``; the engine now
   mirrors that instead of raising on a ``None`` score column.
2. The literal-containment gate (search.js:148): a regex-metacharacter
   keyword must not score chunks that match only as a REGEX.
3. ``generate_answer`` returns the mode DISPLAY name ('Developer'),
   like search.js:384 and the external-search path.
4. The matmul rerank honors the input id type (string chunk_id ids
   from embed_chunks, not just bigint vec_id).
5. ``embedding_neardup_pairs`` on an EMPTY frame returns an empty pair
   set instead of crashing on the dim probe.
6. SimHash near-dup excludes token-less docs (no empty-doc all-pairs
   blowup), Spark and DuckDB twin alike.
"""

from __future__ import annotations

import json
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from src_to_kb_spark.operators.dedup import (
    oracle_simhash_sql,
    simhash_neardup_pairs,
)
from src_to_kb_spark.operators.similarity import embedding_neardup_pairs
from src_to_kb_spark.queries.answers import generate_answer
from src_to_kb_spark.queries.search import (
    keywords_of,
    search_chunks,
    search_chunks_mcp,
    search_documents,
)

CHUNK_SCHEMA = (
    "doc_uid string, url string, lang string, chunk_id string, "
    "content string, start_line int, end_line int"
)


def _chunks(spark, contents):
    return spark.createDataFrame(
        [
            (f"d{i}", f"https://ex.com/f{i}.py", "python", f"c{i}", c, 1, 3)
            for i, c in enumerate(contents)
        ],
        CHUNK_SCHEMA,
    )


def test_keywords_of_mirrors_js_split():
    assert keywords_of("") == [""]
    assert keywords_of("  ") == ["", ""]
    assert keywords_of(" a  b ") == ["", "a", "b", ""]
    assert keywords_of("Spark Join") == ["spark", "join"]


def test_blank_query_scores_all_chunks(spark):
    """JS: keywords=[''] → every chunk scores content.length+1 (empty
    regex matches at every position) — ranked by length, no crash."""
    chunks = _chunks(spark, ["abcdef", "ab", "abcd"])
    rows = search_chunks(chunks, "", mode="developer", limit=10).collect()
    assert [r["score"] for r in rows] == [7, 5, 3]
    rows_mcp = search_chunks_mcp(chunks, "", limit=10).collect()
    assert [r["score"] for r in rows_mcp] == [7, 5, 3]


def test_padded_query_adds_empty_keyword_scores(spark):
    """' x ' → ['', 'x', ''] per JS split: score = 2*(len+1) + count(x)."""
    chunks = _chunks(spark, ["x y x", "y y y"])
    rows = {
        r["chunk_id"]: r["score"]
        for r in search_chunks(chunks, " x ", limit=10).collect()
    }
    assert rows["c0"] == 2 * 6 + 2  # len 5 → 2*(5+1), plus two 'x'
    assert rows["c1"] == 2 * 6  # no 'x', but empty kws still score


def test_blank_query_document_search_no_crash(spark):
    docs = spark.createDataFrame(
        [("https://ex.com/a", "hello"), ("https://ex.com/b", "hi")],
        "url string, text string",
    )
    rows = search_documents(docs, "  ", limit=10).collect()
    assert [r["score"] for r in rows] == [12, 6]  # 2*(len+1)


def test_literal_containment_gate(spark):
    """'spark.' must not score 'sparky' (regex-only match) but must
    score a literal 'spark.' occurrence — search.js:148."""
    chunks = _chunks(spark, ["sparky joins", "uses spark. here"])
    rows = search_chunks(chunks, "spark.", limit=10).collect()
    assert [r["chunk_id"] for r in rows] == ["c1"]
    rows_mcp = search_chunks_mcp(chunks, "spark.", limit=10).collect()
    assert len(rows_mcp) == 1 and rows_mcp[0]["score"] == 1


def test_generate_answer_mode_display_name():
    rows = [
        {
            "url": "a.py",
            "lang": "python",
            "score": 10,
            "context_snippets": ["a long enough snippet about things"],
            "content": "x",
        }
    ]
    assert generate_answer("q", rows, mode="developer")["mode"] == "Developer"
    assert generate_answer("q", rows, mode="enduser")["mode"] == "End User"


def test_matmul_rerank_string_ids(spark):
    """String chunk_id ids (embed_chunks output) through the matmul
    rerank — must equal a bigint vec_id run over the same vectors with
    the ids mapped, not crash on a hard-coded bigint schema."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.rand(8).tolist()
    vecs = [[v + 0.01 * i for v in base] for i in range(6)]
    names = [f"chunk_{i:02d}" for i in range(6)]
    kw = dict(threshold=0.9, bucketed=True, n_bits=2, n_tables=4, dim=8)
    by_name = spark.createDataFrame(
        list(zip(names, vecs)), "chunk_id string, embedding array<double>"
    )
    by_num = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id bigint, embedding array<double>"
    )
    got = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in embedding_neardup_pairs(
            by_name, id_col="chunk_id", **kw
        ).collect()
    }
    want = {
        (names[r["id_a"]], names[r["id_b"]], r["cos_sim"])
        for r in embedding_neardup_pairs(by_num, **kw).collect()
    }
    assert got == want and got
    assert all(a < b for a, b, _ in got)  # lexicographic canonical order


def test_embedding_neardup_empty_input(spark):
    emb = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    out = embedding_neardup_pairs(emb)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id_a", "id_b", "cos_sim"]


def test_simhash_excludes_tokenless_docs(spark):
    """Empty / whitespace / null texts share the zero signature — they
    must NOT emit all-pairs 'near-dups' between unrelated urls."""
    docs = spark.createDataFrame(
        [
            ("https://ex.com/e1", ""),
            ("https://ex.com/e2", "   \t\n"),
            ("https://ex.com/e3", None),
            ("https://ex.com/a", "alpha beta gamma delta"),
            ("https://ex.com/b", "alpha beta gamma delta"),
        ],
        "url string, text string",
    )
    got = {
        (r["key_a"], r["key_b"])
        for r in simhash_neardup_pairs(docs, max_hamming=3).collect()
    }
    assert got == {("https://ex.com/a", "https://ex.com/b")}


def test_simhash_tokenless_exclusion_twin_parity(spark):
    """The DuckDB twin applies the identical exclusion (inner join on
    the token aggregate) — parity on a corpus WITH token-less docs."""
    rows = [
        ("https://ex.com/e1", ""),
        ("https://ex.com/e2", " \t "),
        ("https://ex.com/a", "alpha beta gamma delta"),
        ("https://ex.com/b", "alpha beta gamma delta epsilon"),
        ("https://ex.com/c", "totally different words here now"),
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    got = {
        (r["key_a"], r["key_b"], r["hamming"])
        for r in simhash_neardup_pairs(docs, max_hamming=8).collect()
    }
    vals = ", ".join(
        "(" + ", ".join("NULL" if v is None else f"'{v}'" for v in row) + ")"
        for row in rows
    )
    sql = (
        f"WITH pages AS (SELECT * FROM (VALUES {vals}) AS t(url, text))"
        + oracle_simhash_sql(max_hamming=8)
    )
    want = {(r[0], r[1], r[2]) for r in duckdb.sql(sql).fetchall()}
    assert got == want


# ------------------- contract-surface review fixes -------------------------


def test_load_pages_real_pages_table(spark, tmp_path):
    """A north-rule-shaped pages parquet (url, warc_ts, html, text,
    lang) is consumed DIRECTLY — the documented `--input /data/pages`
    cluster usage; a lookalike table without the pages columns fails
    fast instead of re-synthesizing urls."""
    from src_to_kb_spark.operators.extract import extract_pages
    from src_to_kb_spark.sources.pages import load_pages

    real = str(tmp_path / "pages_tbl")
    spark.createDataFrame(
        [("https://real.example.com/a", "2024-03-01 00:00:00",
          b"hello world", "hello world", "en")],
        "url string, warc_ts string, html binary, text string, lang string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts")).write.parquet(real)

    pages = load_pages(spark, real, keep_keys=False)
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    docs = extract_pages(pages).collect()
    assert len(docs) == 1 and docs[0]["url"] == "https://real.example.com/a"

    # r5 (ADVICE r4): asking a real table for the synthesized
    # doc_id/source/size keys is a contract error HERE, not an
    # unresolved-column AnalysisException inside query construction
    with pytest.raises(ValueError, match="keep_keys=False"):
        load_pages(spark, real)

    bogus = str(tmp_path / "not_pages")
    spark.range(3).write.parquet(bogus)
    with pytest.raises(ValueError, match="pages table"):
        load_pages(spark, bogus, keep_keys=False)


def test_write_stage_append_metrics_are_delta_scoped(spark, tmp_path):
    """Append-mode lineage metrics must describe the DELTA (O(delta)
    resume), not re-scan the whole table."""
    from src_to_kb_spark.runtime.checkpoint import write_stage

    out = str(tmp_path)
    base = spark.range(100).withColumnRenamed("id", "url")
    m1 = write_stage(base, out, "documents")
    assert m1["mode"] == "overwrite" and m1["n_rows"] == 100
    delta = spark.range(100, 103).withColumnRenamed("id", "url")
    m2 = write_stage(delta, out, "documents", mode="append")
    assert m2["mode"] == "append" and m2["n_rows"] == 3  # delta only
    assert m2["n_rows"] == sum(p["n_rows"] for p in m2["partitions"])
    # the table itself holds base + delta
    assert spark.read.parquet(os.path.join(out, "documents")).count() == 103


def test_stage_cache_key_includes_scheme_and_nested_parts(tmp_path):
    import __spark_entry__ as entry

    sf = str(tmp_path)
    src = os.path.join(sf, "documents.parquet")
    os.makedirs(os.path.join(src, "part=0"))
    with open(os.path.join(src, "part=0", "data.parquet"), "wb") as f:
        f.write(b"v1-bytes")

    d_a = entry._stage_cache_dir(sf, "chunks", scheme="chunk:v1")
    d_b = entry._stage_cache_dir(sf, "chunks", scheme="chunk:v2")
    assert d_a != d_b  # builder-parameter change invalidates

    # nested (partitioned) part files are fingerprinted: regenerating
    # the nested file must move the cache dir
    with open(os.path.join(src, "part=0", "data.parquet"), "wb") as f:
        f.write(b"v2-bytes")
    assert entry._stage_cache_dir(sf, "chunks", scheme="chunk:v1") != d_a


def test_probe_row_fails_clearly(spark):
    import __spark_entry__ as entry

    df = spark.range(1).filter("id = 99")
    with pytest.raises(ValueError, match="vec_id 0"):
        entry._probe_row(df, "vec_id 0 embedding")


def test_job_size_gated_page_is_not_a_phantom_delta(spark, tmp_path):
    """A page over the extract size gate must not make every no-op
    resume re-detect a 'delta' and recompute the global stages."""
    from jobs.run_kg_pipeline import main as job_main

    src = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter("doc_id < 50")
    big = spark.createDataFrame(
        [(9999, "x" * (11 * 1024 * 1024), "en", "s0", 11 * 1024 * 1024)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    inp = str(tmp_path / "in")
    src.unionByName(big).write.parquet(f"{inp}/documents.parquet")
    out = str(tmp_path / "kb")
    s1 = job_main(["--input", inp, "--output", out])
    assert s1["documents"] == 50  # gated page excluded
    mtime = os.path.getmtime(os.path.join(out, "_committed_components"))
    s2 = job_main(["--input", inp, "--output", out])  # no-op resume
    assert s2["triples"] == s1["triples"]
    # global stages untouched: the gated page did NOT register as new
    assert os.path.getmtime(
        os.path.join(out, "_committed_components")
    ) == mtime
    assert not os.path.exists(os.path.join(out, "_delta_pending"))


def test_job_param_change_invalidates_derived_stages(spark, tmp_path):
    """Re-running the same --output with a different
    --neardup-threshold must rebuild the near-dup family instead of
    serving the old-threshold pair table."""
    from jobs.run_kg_pipeline import main as job_main

    src = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter("doc_id < 80")
    inp = str(tmp_path / "in")
    src.write.parquet(f"{inp}/documents.parquet")
    out = str(tmp_path / "kb")
    job_main(["--input", inp, "--output", out,
              "--neardup-threshold", "0.9"])

    def mtime(stage):
        return os.path.getmtime(os.path.join(out, f"_committed_{stage}"))

    t_pairs, t_linked, t_chunks = (
        mtime("neardup_pairs"), mtime("linked"), mtime("chunks")
    )
    job_main(["--input", inp, "--output", out,
              "--neardup-threshold", "0.1"])
    # near-dup family rebuilt under the new threshold...
    assert mtime("neardup_pairs") > t_pairs
    # ...while threshold-independent stages resumed untouched
    assert mtime("linked") == t_linked and mtime("chunks") == t_chunks
    with open(os.path.join(out, "_scheme_params")) as f:
        assert json.load(f)["neardup_threshold"] == 0.1
    # identical-params rerun: nothing rebuilds
    t_pairs2 = mtime("neardup_pairs")
    job_main(["--input", inp, "--output", out,
              "--neardup-threshold", "0.1"])
    assert mtime("neardup_pairs") == t_pairs2
