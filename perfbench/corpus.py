"""Seeded inputs and output checks for the benchmark.

Everything the program receives is derived from ``--seed`` here: the
pages corpus (``synthetic_pages_distributed``), the resume holdout (a
seeded hash of the url) and the serve query stream (keywords sampled
from the committed chunks, embedded with ``operators.embed``).
"""

from __future__ import annotations

import os
import random
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from src_to_kb_spark.operators.embed import embed_chunks
from src_to_kb_spark.sources.pages import synthetic_pages_distributed

# The generator emits documents in near-duplicate clusters of 4
# (doc i belongs to the cluster of i - i % 4).
CLUSTER_SIZE = 4
HOLDOUT_PCT = 5


def holdout_col(seed: int) -> F.Column:
    """True for the seeded ~5% of urls held back for the resume delta."""
    return F.pmod(F.xxhash64(F.lit(seed), F.col("url")), F.lit(100)) < HOLDOUT_PCT


def pages_table(
    spark: SparkSession, n_docs: int, seed: int, unique: bool, n_files: int
) -> DataFrame:
    """The seeded pages table plus a boolean ``held`` column that marks
    the resume holdout.

    ``unique`` keeps only the first member of each near-dup cluster, so
    no two documents are near-duplicates; it generates 4x the ids and
    filters, which leaves the host skew of the generator unchanged.
    """
    n_gen = n_docs * CLUSTER_SIZE if unique else n_docs
    pages = synthetic_pages_distributed(spark, n_gen, seed=seed, n_partitions=n_files)
    if unique:
        doc_id = F.regexp_extract("url", r"/p(\d+)\.\w+$", 1).cast("long")
        pages = pages.filter(doc_id % CLUSTER_SIZE == 0)
    return pages.withColumn("held", holdout_col(seed))


@dataclass
class Corpus:
    """The pages table on disk: all pages, and the base without the holdout."""

    all_dir: str
    base_dir: str


def write_corpus(pages: DataFrame, out_dir: str, n_files: int) -> Corpus:
    """Write ``pages_table`` under ``out_dir`` partitioned by ``held``: the
    base is the ``held=false`` partition, the whole table is base +
    holdout."""
    pages.coalesce(n_files).write.partitionBy("held").parquet(out_dir)
    return Corpus(out_dir, os.path.join(out_dir, "held=false"))


def set_hash(df: DataFrame, cols: list[str]) -> tuple[int, int, int]:
    """Order-insensitive multiset hash: (rows, sum, xor) of xxhash64."""
    h = F.xxhash64(*[F.col(c) for c in cols]).alias("h")
    row = df.select(h).agg(
        F.count("*"),
        F.sum(F.col("h").cast("decimal(38,0)")),
        F.bit_xor("h"),
    ).first()
    return int(row[0]), int(row[1] or 0), int(row[2] or 0)


TRIPLE_COLS = ["subj", "pred", "obj"]
COMPONENT_COLS = ["key", "canon_id"]

_WORD = re.compile(r"[a-z]+")


def sample_queries(chunks: DataFrame, seed: int, n: int, words: int = 2) -> list[str]:
    """``n`` distinct keyword queries of ``words`` words, each drawn from
    one chunk of a seeded sample of the committed chunks."""
    rows = (
        chunks.select("chunk_id", "content")
        .orderBy(F.xxhash64(F.lit(seed), F.col("chunk_id")), "chunk_id")
        .limit(8 * n)
        .collect()
    )
    rng = random.Random(seed)
    queries: list[str] = []
    for r in rows:
        vocab = sorted(set(_WORD.findall(r["content"].lower())))
        if len(vocab) < words:
            continue
        q = " ".join(rng.sample(vocab, words))
        if q not in queries:
            queries.append(q)
        if len(queries) == n:
            break
    if not queries:
        raise RuntimeError("no query keywords could be sampled from the chunks")
    return queries


def embed_queries(spark: SparkSession, queries: list[str]) -> list[list[float]]:
    """Query vectors: ``embed_chunks`` over the query texts."""
    df = spark.createDataFrame(
        [(str(i), q) for i, q in enumerate(queries)], "chunk_id string, content string"
    )
    vecs = {r["chunk_id"]: list(r["embedding"]) for r in embed_chunks(df).collect()}
    return [vecs[str(i)] for i in range(len(queries))]


def search_key(rows) -> list[tuple]:
    """The compared projection of a ``search_chunks`` result."""
    return [
        (r["chunk_id"], r["score"], tuple(r["context_snippets"]), r["is_priority"])
        for r in rows
    ]


def knn_ok(rows, truth: list[tuple[str, float]], k: int) -> bool:
    """An ANN probe is correct when it returns at most ``k`` rows in
    descending score order, agrees with the exact top-``k`` on the score
    of every id both contain, and scores no id above the exact k-th."""
    if len(rows) > k:
        return False
    scores = [r["cos_sim"] for r in rows]
    if scores != sorted(scores, reverse=True):
        return False
    exact = dict(truth)
    floor = truth[-1][1] if len(truth) == k else -2.0
    for r in rows:
        if r["chunk_id"] in exact:
            if abs(exact[r["chunk_id"]] - r["cos_sim"]) > 1e-4:
                return False
        elif r["cos_sim"] > floor + 1e-4:
            return False
    return True


def recall(rows, truth: list[tuple[str, float]]) -> float:
    want = {i for i, _ in truth}
    return len(want & {r["chunk_id"] for r in rows}) / max(1, len(want))
