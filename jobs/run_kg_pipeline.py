#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Usage (cluster):
    python tools/package_pyfiles.py          # -> dist/src_to_kb_spark.zip
    spark-submit --driver-java-options "-XX:TieredStopAtLevel=1" \
        --py-files dist/src_to_kb_spark.zip \
        jobs/run_kg_pipeline.py --input /data/pages --output /data/kb

Usage (local smoke):
    spark-submit --driver-java-options "-XX:TieredStopAtLevel=1" \
        jobs/run_kg_pipeline.py --input /root/testdata/sf0.001 --output /tmp/kb_out

A spark-submit JVM starts before this job runs, so it never gets the
flags ``session.get_spark`` gives a Python-launched session's driver;
``--driver-java-options`` passes the same ``session.DRIVER_JAVA_OPTIONS``
(C1 only, see ``session.py``).

The stages are the graph declared once in ``src_to_kb_spark/pipeline.py``
(``STAGES``); this job walks it.  Each stage writes its own parquet
table under --output with a ``_committed_<stage>`` marker and
per-partition lineage metrics (``_metrics_<stage>.json``).  Re-running
with the same --output resumes: committed stages are re-read,
uncommitted input keys are recomputed via anti-join (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").
The pages (or a resume's new pages) are salted-repartitioned by host
with the partition count left to AQE, so the per-document tables
follow the input's size: a sub-MB corpus is extracted by one Python
task and each of documents, chunks, linked and bands is one file.  The
gazetteer and a driver-labelled components table are local relations
(components one partition), so neither launches Python tasks.
Resume cost is O(delta), not O(corpus): per-doc stages (documents,
chunks, linked, bands) append rows derived from the new docs only,
near-dup pairs come from joining the delta's bands against the
committed bands table, and components, the one table a resume rewrites
whole, update from the committed labeling.  Parquet stage tables are
zstd-compressed; ``summary.json`` counts their rows from the footers,
and the triples with one count of the view.  A KB stores only what
it cannot recompute: the ids, linked's ``score``, a chunk's
``content`` (its document's text between its stored line bounds;
every write commits ``documents`` before ``chunks``) and the triples
are derived when read (``runtime/checkpoint.py`` ``DERIVED`` and
``VIEWS``), so every stage sees what its operator produced; a KB that
stores them resumes as is, less its stored triples.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="pages table dir (or driver testdata sf dir)")
    ap.add_argument("--output", required=True, help="KB output dir")
    ap.add_argument("--chunk-size", type=int, default=1000)
    ap.add_argument("--overlap", type=int, default=200)
    ap.add_argument("--neardup-threshold", type=float, default=0.8)
    ap.add_argument("--cpus", type=int, default=None,
                    help="local cores when the job starts its own session "
                         "(default: get_spark's)")
    args = ap.parse_args(argv)

    from concurrent.futures import Future, ThreadPoolExecutor

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from src_to_kb_spark.operators.dedup import BANDS_SCHEME
    from src_to_kb_spark.operators.extract import MAX_FILE_SIZE
    from src_to_kb_spark.pipeline import (
        STAGES,
        StageParams,
        downstream,
        invalidated_by,
    )
    from src_to_kb_spark.runtime.checkpoint import (
        VIEWS,
        is_committed,
        read_stage,
        resume_delta,
        run_metrics,
        stage_rows,
        write_stage,
    )
    from src_to_kb_spark.runtime.skew import salted_repartition
    from src_to_kb_spark.session import get_spark
    from src_to_kb_spark.sources.gazetteer import gazetteer_df
    from src_to_kb_spark.sources.pages import load_pages

    # Under spark-submit a session already exists; reuse its conf.
    active = SparkSession.getActiveSession()
    spark = active if active is not None else get_spark(
        "kg-pipeline", cpus=args.cpus
    )
    os.makedirs(args.output, exist_ok=True)

    # Untrusted-input precondition: every downstream triple part is
    # (subj, pred, obj)-unique ONLY for unique urls (operators/
    # triples.py build_triples docstring) — a crawl revisiting a page
    # would otherwise emit duplicate triples.  Enforce it once at
    # ingest (doc-granular shuffle, far cheaper than a distinct over
    # the full edge table).  The survivor is picked DETERMINISTICALLY
    # — latest warc_ts, content-checksum tiebreak — via max_by (one
    # shuffle WITH map-side partial aggregation; a row_number window
    # would sort whole url-partitions for the same answer).  A bare
    # dropDuplicates keeps an arbitrary row, making KB output
    # nondeterministic across runs when a url recurs with different
    # content.
    # Apply the extract size gate HERE, before dedup and before the
    # resume anti-join: a gated page never reaches the documents table,
    # so leaving it in `pages` would make it a PERMANENT phantom delta
    # — every no-op resume would re-detect it as new, invalidate the
    # downstream stages and recompute them, turning O(delta) resume
    # into O(corpus) forever.
    # keep_keys=False: the pipeline only consumes the 5 north-rule
    # columns, and a REAL pages table has no synthesized keys anyway
    # (load_pages raises on keep_keys=True there)
    raw_pages = load_pages(spark, args.input, keep_keys=False).filter(
        F.length("html") <= MAX_FILE_SIZE
    )
    page_cols = raw_pages.columns
    pages = (
        raw_pages.groupBy("url")
        .agg(
            F.max_by(
                F.struct(*[c for c in page_cols if c != "url"]),
                F.struct(
                    F.col("warc_ts"),
                    F.sha2(F.col("html"), 256),
                    F.sha2(F.col("text"), 256),
                ),
            ).alias("_p")
        )
        .select("url", "_p.*")
        .select(*page_cols)
    )

    root, rest = STAGES[0], STAGES[1:]
    pending_marker = os.path.join(args.output, "_delta_pending")

    def marker(st):
        return os.path.join(args.output, f"_committed_{st}")

    def remove(path):
        if os.path.exists(path):
            os.remove(path)

    def invalidate(stages):
        for st in stages:
            remove(marker(st))

    # Crash recovery: a `_delta_pending` marker means a previous run
    # died between appending a documents delta and reconciling the
    # downstream stages — some of their `_committed` markers may be
    # stale (missing the delta's rows) with no way to tell which.
    # Invalidate them ALL; they rebuild from the (complete) documents
    # table.  The marker is removed only after every downstream stage
    # has been reconciled, so the window is correct at any crash point.
    if os.path.exists(pending_marker):
        invalidate(sorted(downstream({root.name}) - {root.name}))
        os.remove(pending_marker)

    # An older job stored the views; a stale copy would disagree with
    # the view after a delta.  Marker first: no committed partial table.
    for v in VIEWS:
        invalidate([v])
        shutil.rmtree(os.path.join(args.output, v), ignore_errors=True)
        remove(os.path.join(args.output, f"_metrics_{v}.json"))

    # Stage PARAMETERS are part of the resume identity: a committed
    # chunks table built with --chunk-size 1000 is NOT the answer to a
    # --chunk-size 500 run, and a 0.8-threshold pair table silently
    # masquerading as the 0.6 result would drop every 0.6 ≤ j < 0.8
    # pair from components and same_as triples.  Record the params; on
    # mismatch invalidate each stage whose identity holds a changed
    # key, plus everything downstream of it in the stage graph.  Only
    # these keys are compared, so a sidecar holding others (an older
    # job also recorded its table layer) still resumes.
    params = {
        "chunk_size": args.chunk_size,
        "overlap": args.overlap,
        "neardup_threshold": args.neardup_threshold,
    }
    params_path = os.path.join(args.output, "_scheme_params")
    prev_params = {}
    if os.path.exists(params_path):
        with open(params_path) as f:
            prev_params = json.load(f)
    changed = {k for k, v in params.items()
               if prev_params and prev_params.get(k) != v}
    # Committed bands are only delta-joinable against bands of the
    # SAME signature scheme: a KB written by an older scheme would
    # otherwise band-join with zero collisions and silently miss every
    # cross-version near-dup pair.
    scheme_path = os.path.join(args.output, "_scheme_bands")
    prev_scheme = None
    if os.path.exists(scheme_path):
        with open(scheme_path) as f:
            prev_scheme = f.read().strip()
    if is_committed(args.output, "bands") and prev_scheme != BANDS_SCHEME:
        changed.add("bands_scheme")
    invalidate(sorted(invalidated_by(changed)))
    with open(params_path, "w") as f:
        json.dump(params, f)

    sp = StageParams(gazetteer_df(spark), args.chunk_size, args.overlap,
                     args.neardup_threshold)

    # -- root stage: documents (resume unit = url) -------------------------
    # The salted pages shuffle is sized to the data by AQE, as in
    # run_pipeline: a small corpus or delta is extracted, and written,
    # as one partition.
    docs_delta = None  # extracted rows appended this run, if resuming
    if is_committed(args.output, root.name):
        delta = resume_delta(pages, spark, args.output, root.name)
        if delta.limit(1).count() > 0:
            docs_delta = root.delta(
                sp, {}, {"pages": salted_repartition(delta)}
            ).localCheckpoint()
            # pending marker BEFORE the append: from here until all
            # downstream stages reconcile, a crash must invalidate them
            with open(pending_marker, "w") as f:
                f.write("reconciling documents delta")
            write_stage(docs_delta, args.output, root.name, mode="append")
    else:
        write_stage(root.build(sp, salted_repartition(pages)), args.output,
                    root.name)
    documents = read_stage(spark, args.output, root.name)

    # -- downstream stages, each committed-or-computed ---------------------
    # Without a documents delta a committed stage is re-read as is.
    # With one, every stage absorbs it in O(delta):
    # per-document stages (chunks, linked, bands) append rows derived
    # from the new documents only, near-dup pairs append the pairs the
    # delta's bands find against all bands, and components update from
    # the committed labeling (quotient-graph contraction, see
    # incremental_components).  A stage whose input was rebuilt whole
    # this run recomputes outright.
    # The seed is whatever components table was committed when the
    # stage is reached: a crash mid-delta re-enters through the
    # _delta_pending invalidation above, which also clears the seed.
    def resolve(st, inputs):
        """Commit or resume one stage → (its table, the rows this run
        appended to it or None)."""
        full = {n: inputs[n][0] for n in st.inputs}
        new = {n: inputs[n][1] for n in st.inputs}
        added = None
        committed = is_committed(args.output, st.name)
        if committed and docs_delta is None:
            pass
        elif committed and all(v is not None for v in new.values()):
            if st.seeded:
                full[st.name] = read_stage(spark, args.output, st.name)
            # materialized BEFORE the write: downstream deltas re-read
            # it, and a seeded delta overwrites the table it reads
            rows = st.delta(sp, full, new).localCheckpoint()
            write_stage(rows, args.output, st.name,
                        mode="overwrite" if st.seeded else "append")
            added = None if st.seeded else rows
        else:
            write_stage(st.build(sp, *(full[n] for n in st.inputs)),
                        args.output, st.name)
        if st.name == "bands":
            with open(scheme_path, "w") as f:
                f.write(BANDS_SCHEME)
        return read_stage(spark, args.output, st.name), added

    # chunks, mention-linking, and near-dup→components are independent
    # given the committed documents table — their stage writes run as
    # concurrent Spark jobs (on a cluster: three parallel writers;
    # serializing them idles executors at every stage barrier).  Each
    # stage waits on its inputs' futures; they are submitted in
    # dependency order, so the oldest unfinished stage always has a
    # thread and the pool cannot deadlock.
    done = Future()
    done.set_result((documents, docs_delta))
    futures = {root.name: done}
    with ThreadPoolExecutor(max_workers=3) as ex:
        for st in rest:
            futures[st.name] = ex.submit(
                lambda st=st: resolve(
                    st, {n: futures[n].result() for n in st.inputs}
                )
            )
        for f in futures.values():
            f.result()
    # every downstream stage is now consistent with the appended delta
    remove(pending_marker)

    summary = {
        n: stage_rows(args.output, n)
        for n in ("documents", "chunks", "linked", "neardup_pairs",
                  "components")
    }
    # the triples view over the stage tables read above: what
    # read_stage(…, "triples") returns, without reading them again
    fn, inputs = VIEWS["triples"]
    summary["triples"] = fn(*(futures[n].result()[0] for n in inputs)).count()
    summary["stages"] = run_metrics(args.output)
    with open(os.path.join(args.output, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({k: v for k, v in summary.items() if k != "stages"}))
    return summary


if __name__ == "__main__":
    main()
