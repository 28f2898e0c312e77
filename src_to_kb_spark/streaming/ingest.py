"""Structured-Streaming ingest: continuous ``pages`` → documents and a
watermarked ingest-rate aggregate (SURVEY.md §2.10 — the reference has
no streaming; its closest analog is the async background generation
with a status map, api-server.js:259-296.  This is the Spark-native
upgrade: a file-source stream; ``streaming/dedup.py`` adds stateful
dedup over the same stream).

The extract stage is a stateless map-only transform, so it lifts to
streaming unchanged.  ``warc_ts`` watermarking is applied for the
windowed ingest-rate aggregate (late pages tolerated up to the
watermark).  With ``trigger(availableNow=True)`` the same query drains
a backlog batch — one code path for batch and streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_pages

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_pages(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def stream_documents(pages: DataFrame) -> DataFrame:
    return extract_pages(pages)


def ingest_rate(docs: DataFrame, window: str = "1 hour") -> DataFrame:
    """Windowed ingest counters with late-data watermark — the
    streaming version of the reference's run counters (A1)."""
    return (
        docs.withWatermark("warc_ts", "1 day")
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("size").alias("bytes"))
    )


def run_window_rate_once(
    spark: SparkSession,
    input_dir: str,
    query_name: str,
    window: str = "1 minute",
) -> None:
    """Drain the backlog through the WINDOWED ingest-rate aggregate
    into an in-memory sink named ``query_name`` (read it back with
    ``spark.table(query_name)``).

    Complete output mode: every window is (re)emitted on the final
    micro-batch, so a finite ``availableNow`` drain yields exactly the
    batch-equivalent aggregate — the property the oracle twin checks.
    (Append mode + the 1-day watermark would hold back every window
    newer than ``max(warc_ts) - 1 day``, i.e. emit nothing on a 24-h
    corpus; in production the same query runs append-mode against a
    continuous source where the watermark advances past each window.)
    State is hash-partitioned on (window, lang) — bounded by
    #windows × #langs rows, never by corpus size."""
    pages = stream_pages(spark, input_dir)
    agg = ingest_rate(stream_documents(pages), window)
    q = (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
