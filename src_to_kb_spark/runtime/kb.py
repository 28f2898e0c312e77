"""KB lifecycle over pipeline output directories: list / status /
delete (reference: api-server.js:180-446 — the knowledge-base registry,
the per-KB async-generation status map, and DELETE's file cleanup —
re-expressed over the durable artifacts the engine already writes
instead of in-process Maps).

A "KB" here is one ``jobs/run_kg_pipeline.py --output`` directory: its
``_committed_<stage>`` markers, ``_metrics_<stage>.json`` lineage
sidecars, ``_delta_pending`` crash marker, and ``summary.json`` fully
determine the generation state, so status needs no live process — the
property that matters when the "process" is a spark-submit on a
cluster the API server cannot see.
"""

from __future__ import annotations

import json
import os
import shutil

from .. import pipeline

# the pipeline's stage names, in build order;
# progress = committed stages / len(STAGES)
STAGES = tuple(st.name for st in pipeline.STAGES)

_MARKER_PREFIX = "_committed_"


def _is_kb_dir(path: str) -> bool:
    """A directory is a KB output iff it holds at least one
    PIPELINE-SPECIFIC artifact: a ``_committed_<stage>`` marker, a
    ``_metrics_<stage>.json`` sidecar, or the ``_delta_pending``
    marker.  A bare ``summary.json`` does NOT qualify — the filename
    is too generic, and accepting it would let :func:`kb_delete`
    rmtree an unrelated project dir that happens to contain one.
    Everything else — including an empty or unrelated dir — is NOT a
    KB, and delete refuses it."""
    if not os.path.isdir(path):
        return False
    try:
        names = os.listdir(path)
    except OSError:
        return False
    return any(
        n.startswith((_MARKER_PREFIX, "_metrics_")) or n == "_delta_pending"
        for n in names
    )


def kb_status(out_dir: str) -> dict:
    """Generation status of one KB output dir.

    Mirrors the reference's activeGenerations entries
    (api-server.js:259-296, :353-368): ``status`` ∈ processing /
    completed / not_found, plus ``progress`` (percent of stages
    committed) and the per-stage detail the reference keeps only
    in-process.  ``_delta_pending`` present ⇒ a delta append is mid-
    reconcile, so downstream markers may be stale → processing even if
    every marker exists."""
    if not _is_kb_dir(out_dir):
        return {
            "status": "not_found",
            "progress": 0,
            "stages": {},
            "reconciling_delta": False,
        }
    stages = {
        st: os.path.exists(os.path.join(out_dir, _MARKER_PREFIX + st))
        for st in STAGES
    }
    n_done = sum(stages.values())
    reconciling = os.path.exists(os.path.join(out_dir, "_delta_pending"))
    complete = n_done == len(STAGES) and not reconciling
    out = {
        "status": "completed" if complete else "processing",
        "progress": int(round(100 * n_done / len(STAGES))),
        "stages": stages,
        "reconciling_delta": reconciling,
    }
    summary_path = os.path.join(out_dir, "summary.json")
    if complete and os.path.exists(summary_path):
        with open(summary_path) as f:
            summary = json.load(f)
        out["stats"] = {k: v for k, v in summary.items() if k != "stages"}
    return out


def kb_list(base_dir: str) -> list[dict]:
    """All KBs under ``base_dir`` (api-server.js:180-189's GET list):
    one entry per child dir that holds pipeline artifacts, with id
    (dir name), path, created_at (earliest stage-marker commit time —
    the markers store int(time.time()) at write), and the status/stats
    from :func:`kb_status`.  Sorted by id for stable output."""
    if not os.path.isdir(base_dir):
        return []
    out = []
    for name in sorted(os.listdir(base_dir)):
        path = os.path.join(base_dir, name)
        if not _is_kb_dir(path):
            continue
        created = None
        for st in STAGES:
            marker = os.path.join(path, _MARKER_PREFIX + st)
            if os.path.exists(marker):
                try:
                    with open(marker) as f:
                        # an EMPTY marker (crash between open and
                        # write) must fall through to mtime, not
                        # become epoch-0 and win every min()
                        ts = int(f.read().strip())
                except (OSError, ValueError):
                    ts = int(os.path.getmtime(marker))
                created = ts if created is None else min(created, ts)
        entry = {"id": name, "path": path, "created_at": created}
        entry.update(kb_status(path))
        out.append(entry)
    return out


def kb_delete(out_dir: str, force: bool = False) -> bool:
    """Delete one KB output dir (api-server.js:389-410's DELETE with
    its rmSync cleanup) — but REFUSE a directory that carries no
    pipeline artifacts: the reference deletes only ids present in its
    registry; the filesystem analog of "present in the registry" is
    "has stage markers", and deleting anything else would make a typo'd
    path destructive.  ``force=True`` additionally allows deleting a
    KB whose generation is mid-flight (processing)."""
    if not _is_kb_dir(out_dir):
        raise ValueError(
            f"refusing to delete {out_dir!r}: no pipeline artifacts "
            "(_committed_* / _metrics_* / _delta_pending) — not a KB dir"
        )
    if not force and kb_status(out_dir)["status"] == "processing":
        raise ValueError(
            f"refusing to delete {out_dir!r}: generation in progress "
            "(pass force=True to override)"
        )
    shutil.rmtree(out_dir)
    return True
