#!/usr/bin/env python3
"""Repository benchmark: build, resume and serve a knowledge graph over a
seeded web-page corpus.

Run from the repository root:

    python3 perfbench/run.py --workload neardup --seed 1 --seconds 8 --trace 0

Inputs are made from ``--seed``: a pages table and a 5% holdout of it
(``corpus.py``).  ``--trace 0`` times the pipeline job
(``jobs/run_kg_pipeline.py``) building the KB from the pages without the
holdout, cold into a fresh output directory, as many times as start
within ``--seconds`` (at least once), and prints the end-to-end metrics.
Each built KB, and the same KB after one re-run of the job with nothing
new, must equal ``run_pipeline`` over the same pages, and the built
triples must equal ``build_triples`` over the KB's own stage tables
(``phases.py``).

Build throughput is reported per CPU second of the whole program (this
process, which runs the job's driver code, the JVM and its Python
workers), not per wall second: on a shared virtual machine, CPU time
other tenants take moves wall time by a quarter from run to run (the
wall times go to stderr).  Set-up (``setup_s``) is counted the same
way, in CPU seconds: the Spark session start, one generation of the
corpus (the median of three) and the warm-up that computes the expected
KB.

``--trace 1`` runs the job's build and its resume with the holdout once
untraced, then the same steps layer by layer under spans, then serves
the KB: keyword ``search_chunks`` over the committed chunks and
``knn_lsh_kb`` / ``knn_ivf_kb`` over a ``build_ann_table`` of their
embeddings, checked against ``search_chunks`` over never-committed
chunks and ``knn_brute_force``; the resumed KBs must equal
``run_pipeline`` over all pages.  It prints the per-layer metrics and
the tracing overhead (``tracing.py``).

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; ``attempted`` and ``failed``
count the output checks, and the exit code is non-zero when any failed.

Run files go under ``.perfbench/`` in the repository root: a private
work directory per run (removed at exit) and the traced run's spans.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DOCS = 600
# the corpus is generated and written this many times; setup_s counts
# the median
SETUP_REPS = 3


def measure(spark, args, cpus: int, work: str, session_cpu_s: float):
    """The untraced run: returns (ops, end-to-end metrics)."""
    import phases as P
    from corpus import pages_table, write_corpus

    def cpu_and_wall(fn):
        c0, t0 = harness.program_cpu_s(), time.perf_counter()
        out = fn()
        return out, harness.program_cpu_s() - c0, time.perf_counter() - t0

    ops = P.Ops()
    gen = []
    for rep in range(SETUP_REPS):
        corpus, cpu_s, wall_s = cpu_and_wall(lambda: write_corpus(
            pages_table(spark, DOCS, args.seed, WORKLOADS[args.workload]["unique"], cpus),
            os.path.join(work, f"pages-{rep}"), cpus))
        gen.append((cpu_s, wall_s))
    # expected KB contents; computing them also warms the Python workers
    # and the JVM before anything is timed
    refs, warm_cpu_s, warm_s = cpu_and_wall(lambda: P.references(spark, corpus.base_dir))
    refs.release()

    # cold builds, each into a fresh output dir, until --seconds have
    # passed since the first started; each is re-run once with nothing new
    builds = []
    deadline = time.perf_counter() + args.seconds
    with harness.MemorySampler() as mem:
        while not builds or time.perf_counter() < deadline:
            life = P.lifecycle(spark, os.path.join(work, f"kb-{len(builds)}"), cpus, ops,
                               corpus.base_dir, noops=1, cpu_s=mem.program_cpu_s)
            life.check(refs, ops)
            if life.build_s is None or not life.noop_s:
                return ops, {}
            builds.append((life.build_s, life.build_cpu_s))

    print(
        f"perfbench: {args.workload} seed={args.seed} docs={life.docs} build "
        + " ".join(f"{w:.2f}s ({c:.1f} cpu-s)" for w, c in builds)
        + f" no-op {life.noop_s[0]:.2f}s; set-up cpu-s: session {session_cpu_s:.1f}"
        + " corpus " + " ".join(f"{c:.1f} ({w:.1f}s)" for c, w in gen)
        + f" warm-up {warm_cpu_s:.1f} ({warm_s:.1f}s)",
        file=sys.stderr,
    )
    return ops, {
        "setup_s": (session_cpu_s + statistics.median(c for c, _ in gen) + warm_cpu_s, "s"),
        "build_docs_per_cpu_s": (life.docs / statistics.median(c for _, c in builds),
                                 "docs/cpu-s"),
        "kb_bytes_per_input_byte": (life.kb_bytes / harness.du_bytes(corpus.base_dir),
                                    "ratio"),
        "peak_pss_mb": (mem.peak_bytes / 2**20, "MB"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not harness.package_present():
        print("perfbench: src_to_kb_spark/ and jobs/ not found next to perfbench/",
              file=sys.stderr)
        return 2

    out_dir = os.path.join(harness.ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    harness.remove(work)
    os.makedirs(work)
    cpus = harness.pin_environment(work)
    sys.path.insert(0, harness.ROOT)

    spark = None
    try:
        cpu0 = harness.program_cpu_s()
        spark = harness.start_spark(work, cpus)
        session_cpu_s = harness.program_cpu_s() - cpu0
        if args.trace:
            import tracing

            ops, metrics = tracing.traced_run(spark, args, cpus, work, out_dir, DOCS)
        else:
            ops, metrics = measure(spark, args, cpus, work, session_cpu_s)
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        harness.remove(work)

    correct = ops.failed == 0 and bool(metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, ops.attempted),
        "failed": ops.failed if metrics else max(1, ops.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
