"""Stateful streaming deduplication — a CUSTOM stateful operator via
``applyInPandasWithState`` (SURVEY.md §2.10; the batch analog is a
groupBy on the content checksum).

A continuous crawl re-fetches pages: the stream must emit each unique
content exactly once ACROSS micro-batches, which no stateless
transform can do.  State is keyed by content checksum; the first
arrival is emitted, every later arrival (same batch or any later
batch) only bumps the duplicate counter.  The checkpoint persists the
state store, so a restarted ``availableNow`` drain keeps
deduplicating against everything it has already seen — verified by
the resume test.

Scale shape: state is hash-partitioned by checksum across executors
(the normal stateful-shuffle), one tiny state row (first url + count)
per distinct content — at 10^12 docs with ~50% dup rate that is the
same order as the output table itself, and RocksDB-backed state
stores page it to disk.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEDUP_OUTPUT_SCHEMA = (
    "checksum string, url string, lang string, size long"
)
DEDUP_STATE_SCHEMA = "first_url string, n_seen long"


def _dedup_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """One checksum group per call: emit the first-ever row, count the
    rest.  Within a batch the winner is the min url — deterministic
    regardless of partition arrival order."""
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values("url", kind="mergesort")
    if state.exists:
        first_url, n_seen = state.get
        state.update((first_url, int(n_seen) + len(batch)))
    else:
        winner = batch.iloc[0]
        state.update((winner["url"], len(batch)))
        yield pd.DataFrame(
            {
                "checksum": [key[0]],
                "url": [winner["url"]],
                "lang": [winner["lang"]],
                "size": [int(winner["size"])],
            }
        )


def streaming_exact_dedup(docs: DataFrame) -> DataFrame:
    """documents stream → first-seen row per content checksum, exactly
    once across all micro-batches (append output mode: emitted rows are
    final, never retracted — file-sink compatible)."""
    return (
        docs.select("checksum", "url", "lang", "size")
        .groupBy("checksum")
        .applyInPandasWithState(
            _dedup_fn,
            outputStructType=DEDUP_OUTPUT_SCHEMA,
            stateStructType=DEDUP_STATE_SCHEMA,
            # append: each first-seen row is emitted exactly once and
            # never retracted — the file-sink-compatible mode
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_dedup_once(
    spark, input_dir: str, out_dir: str, checkpoint_dir: str,
    max_files_per_trigger: int = 8,
):
    """Drain the current backlog through the stateful dedup into a
    parquet sink; same checkpoint → later drains dedup against all
    previously seen checksums.  Returns the (terminated) query so
    callers can inspect ``recentProgress`` (e.g. assert how many
    micro-batches the drain took)."""
    from .ingest import stream_documents, stream_pages

    docs = stream_documents(
        stream_pages(spark, input_dir, max_files_per_trigger)
    )
    q = (
        streaming_exact_dedup(docs)
        .writeStream.format("parquet")
        .option("path", f"{out_dir}/unique_documents")
        .option("checkpointLocation", f"{checkpoint_dir}/dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def write_url_split_batches(pages: DataFrame, in_dir: str, n_files: int = 2):
    """Write ``pages`` into ``n_files`` parquet FILES inside ``in_dir``
    such that file k holds the k-th url-sorted slice, with strictly
    increasing mtimes so the file stream source (oldest-first order)
    replays them as ``n_files`` deterministic micro-batches under
    ``maxFilesPerTrigger=1``.

    The url-sorted split has the property the cross-engine oracle
    needs: every checksum group's GLOBAL min-url row is in the
    earliest file that contains the group at all, so the stateful
    dedup's first-seen winner equals the batch ``arg_min(·, url)``
    twin even though later batches are suppressed by state.

    Test scaffolding, not a production shape: the global sort +
    single-file writes exist to make batch ASSIGNMENT deterministic
    for the contract check; a real crawl's batches are whatever
    arrives, and the operator's semantics (emit first arrival, count
    the rest) don't depend on this ordering.
    """
    import glob
    import os
    import shutil
    import time

    from pyspark.sql.window import Window

    os.makedirs(in_dir, exist_ok=True)
    sliced = pages.withColumn(
        "_slice", F.ntile(n_files).over(Window.orderBy("url"))
    )
    for k in range(1, n_files + 1):
        tmp = os.path.join(in_dir, f"_tmp_slice_{k}")
        (
            sliced.filter(F.col("_slice") == k).drop("_slice")
            .coalesce(1).write.mode("overwrite").parquet(tmp)
        )
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(in_dir, f"batch_{k:02d}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(tmp)
        # strictly increasing mtimes -> deterministic replay order
        t = time.time() - 1000 + 100 * k
        os.utime(dst, (t, t))
