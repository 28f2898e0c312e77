"""Round-4 fixes pinned by regression tests.

1. extract_media_features emits a FIXED-dim feature vector — a
   null/empty/1-byte text whose url dispatches to the WAV encoder used
   to yield a 1-element feature array, so any downstream
   ``element_at(feature, 2)`` crashed under Spark 4 ANSI mode
   (r3 ADVICE medium #1).
2. multimodal_meta oracle closed forms (n_bytes per container codec)
   match the encoders byte-for-byte.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from src_to_kb_spark.operators.multimodal import (
    FEATURE_DIM,
    _encode_bmp,
    _encode_ppm,
    _encode_wav,
    extract_media_features,
    media_from_pages,
)

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def _pages(spark, rows):
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def test_feature_dim_invariant_on_degenerate_text(spark):
    """Empty / 1-byte / null text must still produce a FEATURE_DIM
    feature so element_at(feature, i) is ANSI-safe for i ≤ dim."""
    rows = [
        (f"https://ex.com/degenerate/{i}", None, None, t, "en")
        for i, t in enumerate(["", "x", None, "ab", "   "])
    ]
    # add urls until every encoder kind (wav needs the short-signal
    # path) is hit at least once among the degenerate rows
    rows += [
        (f"https://ex.com/deg2/{i}", None, None, "", "en") for i in range(12)
    ]
    media = media_from_pages(_pages(spark, rows))
    feats = extract_media_features(media)
    got = feats.select(
        "url",
        F.size("feature").alias("dim"),
        # the r3 crash site: 2nd element under ANSI mode
        F.round(F.element_at("feature", 2), 3).alias("f1"),
        F.element_at("feature", FEATURE_DIM).alias("f_last"),
    ).collect()
    assert len(got) == len(rows)
    assert all(r["dim"] == FEATURE_DIM for r in got)
    # at least one row went through the WAV encoder (the crash repro)
    kinds = {r["kind"] for r in extract_media_features(
        media).select("kind").collect()}
    assert "audio" in kinds


def test_multimodal_meta_closed_forms():
    """The DuckDB twin's n_bytes formulas equal the encoders' output
    lengths for representative payload sizes (0, 1, 47, 2048, 4096 —
    the >max_bytes case truncates to 2048)."""
    for n in (0, 1, 47, 2048, 4096):
        data = b"a" * min(n, 2048)
        dlen = max(1, min(n, 2048))
        assert len(_encode_wav(data)) == 44 + 2 * dlen
        assert len(_encode_ppm(data)) == 781
        assert len(_encode_bmp(data)) == 246


def test_kind_dispatch_matches_oracle_hex_parse():
    """int(md5(url)[:2]) % 3 == ('0x' || first-4-hex-chars)::INT % 3."""
    for url in ("https://a.com/x", "https://b.org/y/z", "u"):
        d = hashlib.md5(url.encode()).hexdigest()
        assert int.from_bytes(
            hashlib.md5(url.encode()).digest()[:2], "big"
        ) == int(d[:4], 16)


def test_matmul_rerank_blocked_equals_unblocked(spark):
    """Row-blocked per-bucket scoring (bounded memory, r3 ADVICE
    medium #2) returns exactly the single-block result: a tiny
    block_cells forces many blocks per bucket on the sf0.001
    embeddings; the default is effectively single-block there."""
    from src_to_kb_spark.operators.similarity import embedding_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    kw = dict(threshold=0.4, bucketed=True, n_bits=3, n_tables=8, dim=64)
    one = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in embedding_neardup_pairs(emb, **kw).collect()
    }
    many = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in embedding_neardup_pairs(
            emb, block_cells=64, **kw
        ).collect()
    }
    assert one == many and one


def test_two_batch_drain_suppresses_cross_batch_dups(spark, tmp_path):
    """The url-split 2-file input really drains as TWO micro-batches,
    and a batch-2 re-crawl (same text, 'zzz/' url) of a batch-1 page
    is suppressed by the state store — one output row per distinct
    content, winner = the original (min) url."""
    from src_to_kb_spark.streaming.dedup import (
        run_dedup_once,
        write_url_split_batches,
    )

    rows = [
        (f"https://ex.com/p{i:02d}", None, f"content {i}".encode(),
         f"content {i}", "en")
        for i in range(10)
    ]
    # re-crawls of p00..p04: same text, url sorts last -> batch 2
    rows += [
        (f"zzz/https://ex.com/p{i:02d}", None, f"content {i}".encode(),
         f"content {i}", "en")
        for i in range(5)
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    in_dir, out_dir, ck = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    write_url_split_batches(pages, in_dir, n_files=2)
    run_dedup_once(spark, in_dir, out_dir, ck, max_files_per_trigger=1)
    # committed micro-batch count, from the checkpoint's commit log
    # (durable and exact; recentProgress does not carry row counts here)
    import os

    commits = [
        f for f in os.listdir(os.path.join(ck, "dedup", "commits"))
        if not f.startswith(".")
    ]
    assert len(commits) == 2
    got = spark.read.parquet(f"{out_dir}/unique_documents").collect()
    assert len(got) == 10  # one per distinct content, dups suppressed
    assert all(not r["url"].startswith("zzz/") for r in got)


def test_multimodal_meta_twin_handles_null_text(spark, tmp_path):
    """The DuckDB twin must agree with the engine on a NULL-text page:
    DuckDB's least/greatest IGNORE NULLs, so the un-coalesced formula
    read least(NULL, 2048) = 2048 → 4140 WAV bytes where the engine
    (``(text or "").encode()``) emits the 46-byte one-NUL-sample
    container.  Runs the REAL registered query and oracle SQL over a
    corpus with NULL / empty / short / long text rows."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [None, "", "a", "hello world " * 400],  # >2048 too
            "lang": ["en"] * 4,
            "source": ["s0"] * 4,
            "n_chars": [0, 0, 1, 4800],
        }
    )
    sf_dir = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf_dir}/documents.parquet")

    q = entry.queries()["multimodal_meta"]
    got = {
        (r["url"], r["kind"], r["n_bytes"], r["feature_dim"])
        for r in q(spark, sf_dir).collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    want = {
        (r[0], r[1], r[2], r[3])
        for r in con.execute(
            entry.oracle_sql()["multimodal_meta"]
        ).fetchall()
    }
    assert got == want and len(got) == 4
