"""Round-3 registered-query additions: the streaming windowed
ingest-rate aggregate and the real-decode multimodal features query.

Reference anchors: the reference has no streaming or media handling;
these are the Spark-native extensions mandated by the brief (windowed
aggregate with watermark; binary media columns with typed metadata and
vectorized decode)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from src_to_kb_spark.operators.multimodal import (
    _decode_bmp,
    _decode_ppm,
    _decode_wav,
    _encode_bmp,
    _encode_ppm,
    _encode_wav,
    extract_media_features,
    media_from_pages,
)
from src_to_kb_spark.sources.pages import synthetic_pages


def test_wav_encode_decode_roundtrip():
    data = bytes(range(256))
    sig = _decode_wav(_encode_wav(data))
    want = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128) / 128.0
    assert np.allclose(sig, want)


def test_ppm_encode_decode_tiles_payload():
    data = b"\x00\x80\xff" * 10
    sig = _decode_ppm(_encode_ppm(data))
    assert sig.shape == (16 * 16,)
    # first pixel = mean(0, 128, 255)/255
    assert abs(sig[0] - (0 + 128 + 255) / 3 / 255.0) < 1e-9


def test_bmp_encode_decode_dimensions():
    sig = _decode_bmp(_encode_bmp(b"abcdef"))
    assert sig.shape == (16 * 4,)
    assert np.all((0.0 <= sig) & (sig <= 1.0))


def test_media_from_pages_real_decode_end_to_end(spark):
    pages = synthetic_pages(spark, n=60)
    media = media_from_pages(pages)
    feats = extract_media_features(media).toPandas()
    assert len(feats) == 60
    # the url-hash dispatch exercises more than one container kind
    assert feats["kind"].nunique() >= 2
    assert all(len(f) == 32 for f in feats["feature"])
    # deterministic: a second run is identical
    feats2 = extract_media_features(media).toPandas()
    a = feats.sort_values("url").reset_index(drop=True)
    b = feats2.sort_values("url").reset_index(drop=True)
    assert a["n_bytes"].tolist() == b["n_bytes"].tolist()
    assert all(
        np.allclose(x, y) for x, y in zip(a["feature"], b["feature"])
    )


def test_multimodal_pipeline_is_map_only(spark):
    """100 TB contract: encode → decode → feature-extract is one fused
    map pass — no Exchange anywhere in the physical plan, so the job
    scales with input splits and never shuffles payload bytes."""
    pages = synthetic_pages(spark, n=12)
    feats = extract_media_features(media_from_pages(pages))
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_window_rate_drain_equals_batch(spark, tmp_path):
    from src_to_kb_spark.operators.extract import extract_pages
    from src_to_kb_spark.streaming.ingest import run_window_rate_once

    pages = synthetic_pages(spark, n=120)
    in_dir = str(tmp_path / "pages")
    pages.coalesce(1).write.parquet(in_dir)

    run_window_rate_once(spark, in_dir, "t_swr", window="1 minute")
    got = (
        spark.table("t_swr")
        .select(F.col("w.start").alias("w_start"), "lang", "n_docs", "bytes")
        .toPandas()
        .sort_values(["w_start", "lang"])
        .reset_index(drop=True)
    )

    want = (
        extract_pages(spark.read.parquet(in_dir))
        .groupBy(
            F.date_trunc("minute", "warc_ts").alias("w_start"), "lang"
        )
        .agg(F.count("*").alias("n_docs"), F.sum("size").alias("bytes"))
        .toPandas()
        .sort_values(["w_start", "lang"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
