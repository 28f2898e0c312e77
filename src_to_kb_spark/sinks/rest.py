"""External REST sink semantics (SURVEY.md §2.1 S11-S13;
external-server-service.js:21-188, external-server-config.js:35-151).

The reference POSTs one payload per document with 3×1s retry, a 30s
timeout, fail-fast on auth errors, a 2 MB size gate, and per-item
error isolation.  The Spark-native shape is ``foreachPartition``:
each partition opens one connection/session, sends its rows, retries
transient failures, fails fast on non-retryable ones, and returns
per-partition error counts — task-level parallelism replaces the
reference's ``Promise.all`` fan-out.

Network is injected (``sender``) so the operator is testable hermetic;
no HTTP library is imported here.
"""

from __future__ import annotations

import time
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_PAYLOAD_BYTES = 2 * 1024 * 1024  # external-server-config.js:14
MAX_RETRIES = 3                      # external-server-config.js:28-31
RETRY_DELAY_SEC = 1.0


class AuthError(Exception):
    """Non-retryable (401/403) — aborts the batch, like
    external-server-service.js:55-57."""


def build_payload(row: dict) -> dict:
    """P9 — document payload projection (external-server-config.js:35-94),
    minus wall-clock fields (determinism)."""
    return {
        "id": row["doc_uid"],
        "path": row["url"],
        "content": row.get("text"),
        "checksum": row.get("checksum"),
        "size": row.get("size"),
        "language": row.get("language_ext"),
        "type": row.get("type"),
    }


def send_rows(
    rows: list[dict],
    sender: Callable[[dict], Any],
    build: Callable[[dict], dict] = build_payload,
    max_retries: int = MAX_RETRIES,
    retry_delay: float = RETRY_DELAY_SEC,
    size_gate: int = MAX_PAYLOAD_BYTES,
) -> dict:
    """Send one partition's rows; returns {sent, skipped_oversize,
    failed}.  AuthError fails the whole partition fast."""
    sent = skipped = failed = 0
    for row in rows:
        payload = build(row)
        approx = len(str(payload).encode("utf-8", "ignore"))
        if approx > size_gate:
            skipped += 1
            continue
        for attempt in range(max_retries):
            try:
                sender(payload)
                sent += 1
                break
            except AuthError:
                raise  # fail-fast, no fallback (kb-generator.js:113-124)
            except Exception:
                if attempt == max_retries - 1:
                    failed += 1  # per-item isolation (kb-generator.js:126-129)
                else:
                    time.sleep(retry_delay)
    return {"sent": sent, "skipped_oversize": skipped, "failed": failed}


def validate_sink(sender: Callable[[dict], Any]) -> None:
    """E2 — preflight validation before any processing
    (validation-utils.js:13-89, invoked kb-generator.js:86-94): one
    probe call, fail-fast on any error.  Driver-side precondition
    before job submit."""
    sender({"probe": True})


def sink_documents(
    docs: DataFrame,
    sender_factory: Callable[[], Callable[[dict], Any]],
    build: Callable[[dict], dict] = build_payload,
    recursive: bool = False,
    **kw,
) -> dict:
    """S11/S13 — batched per-partition send; aggregates counters via a
    small collect of per-partition results.  ``recursive`` converts
    nested Rows (e.g. a chunks array of structs) to plain dicts for the
    payload builder — the uploader's per-doc send reuses this loop."""
    def _part(it):
        sender = sender_factory()
        yield send_rows(
            [r.asDict(recursive=recursive) for r in it], sender, build, **kw
        )

    parts = docs.rdd.mapPartitions(_part).collect()
    return {
        k: sum(p[k] for p in parts)
        for k in ("sent", "skipped_oversize", "failed")
    }
