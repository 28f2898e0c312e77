"""The ``pages`` input table (BASELINE.json ``input_hint`` shape).

``pages(url string, warc_ts timestamp, html binary, text string,
lang string)`` — one row per Common-Crawl-style web page.  Three ways
to obtain it:

* :func:`load_pages` — adapt the driver-provided ``documents`` parquet
  (``doc_id, text, lang, source, n_chars``) into ``pages`` shape with
  **pure deterministic built-in expressions** (no UDF), so the exact
  same derivation is expressible in DuckDB SQL for the oracle
  (:data:`ORACLE_PAGES_CTE`).  Reference-field mapping per SURVEY.md
  §1.4: url↔relativePath, warc_ts↔modifiedAt, html↔raw bytes,
  text↔content, lang↔metadata.language.
* :func:`synthetic_pages` — seed-fixed generator with Zipf-skewed
  hosts, CRLF/NBSP/comment noise and a chunk-stress page, used by
  pytest (FIXTURES.md §1).  Skew is real, not decorative: ~30% of rows
  land on one host so salted-repartition paths are exercised.

At 100 TB the "adapter" disappears: :func:`load_pages` reads a real,
partitioned parquet pages table directly; everything downstream only
sees the ``pages`` schema.
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..runtime.checkpoint import read_parquet

# Deterministic pseudo-extension per doc, so the reference's
# extension-driven operators (detectLanguage kb-generator.js:551-585,
# getFileType :587-601, isSupportedFile :180-183) have real inputs.
PAGE_EXTS = [".js", ".md", ".json", ".html", ".py", ".txt", ".css", ".yml"]

_EXT_SQL = (
    "list_extract(['.js','.md','.json','.html','.py','.txt','.css','.yml'],"
    " (doc_id % 8)::INT + 1)"
)

# DuckDB CTE mirroring documents_to_pages() exactly — every oracle query
# that needs pages-shape columns starts from this.
ORACLE_PAGES_CTE = f"""
WITH pages AS (
  SELECT
    'https://' || source || '.example.com/' || lang || '/doc-'
      || doc_id || {_EXT_SQL} AS url,
    TIMESTAMP '2024-01-01 00:00:00'
      + INTERVAL 1 SECOND * (doc_id % 86400) AS warc_ts,
    text,
    lang,
    source,
    doc_id,
    -- BYTE length, not character count: the engine's documents.size
    -- is F.length(html) = UTF-8 bytes (html == encode(text)); a
    -- char-count here would diverge on any non-ASCII document
    octet_length(encode(text)) AS size
  FROM documents
)
"""


def _url_expr() -> F.Column:
    ext = F.element_at(
        F.array(*[F.lit(e) for e in PAGE_EXTS]),
        (F.col("doc_id") % 8 + 1).cast("int"),
    )
    return F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc-"),
        F.col("doc_id").cast("string"),
        ext,
    )


def documents_to_pages(docs: DataFrame, keep_keys: bool = True) -> DataFrame:
    """``documents`` parquet → ``pages`` shape, built-ins only.

    ``keep_keys=True`` retains ``doc_id``/``source``/``size`` so
    oracle-checkable queries can expose stable join keys; the pipeline
    itself never relies on them.
    """
    out = docs.select(
        _url_expr().alias("url"),
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, 0, 0, doc_id % 86400)"
        ).alias("warc_ts"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
        *(
            [
                F.col("doc_id"),
                F.col("source"),
                # byte length — must equal the extract stage's
                # F.length(html) and the oracle CTE's octet_length
                F.length(F.encode(F.col("text"), "UTF-8"))
                .cast("long")
                .alias("size"),
            ]
            if keep_keys
            else []
        ),
    )
    return out


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


PAGES_COLUMNS = ("url", "warc_ts", "html", "text", "lang")


def load_pages(spark: SparkSession, sf_dir: str, keep_keys: bool = True) -> DataFrame:
    """Load a pages corpus from ``sf_dir``.

    Two accepted layouts:

    * driver testdata — ``<sf_dir>/documents.parquet`` exists → the
      deterministic adapter (:func:`documents_to_pages`) synthesizes
      the pages shape;
    * a REAL pages table — ``sf_dir`` is itself a parquet dataset with
      the north-rule columns ``(url, warc_ts, html, text, lang)``
      (e.g. a parquet export of a crawl) → read directly.
      Anything else fails fast with the column diff rather than
      silently re-synthesizing urls from a lookalike table.

    ``keep_keys=True`` (the oracle-checkable queries' mode) requires
    the synthesized ``doc_id``/``source``/``size`` keys that only the
    testdata adapter produces — a real pages table has none, so asking
    for them raises the explicit contract error here instead of an
    unresolved-column AnalysisException deep in query construction
    (ADVICE r4).  The pipeline itself never relies on the keys and
    passes ``keep_keys=False``.
    """
    import os

    if os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        return documents_to_pages(
            load_documents(spark, sf_dir), keep_keys=keep_keys
        )
    if keep_keys:
        raise ValueError(
            f"{sf_dir!r} is a real pages table (no documents.parquet): "
            "it has no synthesized doc_id/source/size keys — call "
            "load_pages(..., keep_keys=False) as the KG pipeline does; "
            "keyed queries are driver-testdata-only"
        )
    pages = read_parquet(spark, sf_dir)
    missing = [c for c in PAGES_COLUMNS if c not in pages.columns]
    if missing:
        raise ValueError(
            f"{sf_dir!r} is neither driver testdata (no documents.parquet) "
            f"nor a pages table (missing columns {missing}; "
            f"found {pages.columns})"
        )
    return pages.select(*PAGES_COLUMNS)


# ---------------------------------------------------------------------------
# Synthetic fixture generator (test scale; FIXTURES.md §1)
# ---------------------------------------------------------------------------

_VOCAB = (
    "spark join filter group sort merge hash scan shuffle batch stream window "
    "row column table index key value query plan stage task node edge graph "
    "entity link triple chunk page host"
).split()

_HOSTS = ["big.example.com"] + [f"h{i}.example.com" for i in range(1, 20)]


def synthetic_pages_rows(n: int = 200) -> list[tuple[str, str, bytes, str, str]]:
    """Deterministic (url, warc_ts_str, html, text, lang) rows.

    ~30% of rows on one host (Zipf-ish skew); adversarial whitespace /
    comment / CRLF noise wrapped into ``html``; ``text`` holds the
    expected *raw decoded* text (extraction input), not the cleaned
    output — cleaning is the engine's job.
    """
    rng = random.Random(42)
    rows = []
    for i in range(n):
        host = _HOSTS[0] if rng.random() < 0.3 else rng.choice(_HOSTS[1:])
        lang = rng.choices(
            ["en", "de", "fr", "es", "unknown"], weights=[5, 2, 1, 1, 1]
        )[0]
        ext = PAGE_EXTS[i % len(PAGE_EXTS)]
        url = f"https://{host}/{lang}/p{i}{ext}"
        n_lines = rng.randint(1, 30)
        lines = []
        for _ in range(n_lines):
            line = " ".join(rng.choices(_VOCAB, k=rng.randint(1, 25)))
            r = rng.random()
            if r < 0.1:
                line += "  \t"  # trailing whitespace
            elif r < 0.15:
                line += " \xa0"  # NBSP tail
            elif r < 0.2:
                line = "// " + line
            elif r < 0.25:
                line = "# " + line
            elif r < 0.3:
                line = ""
            lines.append(line)
        text = "\n".join(lines)
        if i % 17 == 0:
            text = text.replace("\n", "\r\n")  # CRLF rows
        if i % 23 == 0:
            text += "\n\n\n\n\n"  # blank-run tail
        if i == 0:
            # chunk-stress page: >20 chunks at 1000/200
            text = "\n".join(
                f"== section {s} ==\n" + " ".join(rng.choices(_VOCAB, k=60))
                for s in range(120)
            )
        ts = f"2024-01-{(i % 28) + 1:02d} {(i % 24):02d}:00:00"
        rows.append((url, ts, text.encode("utf-8"), text, lang))
    return rows


def synthetic_pages(spark: SparkSession, n: int = 200) -> DataFrame:
    rows = synthetic_pages_rows(n)
    df = spark.createDataFrame(
        rows, "url string, warc_ts string, html binary, text string, lang string"
    )
    return df.withColumn("warc_ts", F.to_timestamp("warc_ts"))


# near-duplicate cluster size of the distributed corpus (see _gen_text)
CLUSTER_SIZE = 4


def _gen_text(i: int, seed: int) -> tuple[str, str, str]:
    """Deterministic (url, lang, text) for doc ``i`` — content depends
    only on (i, seed), never on partitioning, so any parallelism level
    sees the identical corpus.

    Docs come in near-duplicate clusters of ``CLUSTER_SIZE`` (member k
    drops its k-th line and repeats its k-th-from-last line) — real
    crawls are 30-50% near-dup, candidate-pair count scales LINEARLY
    with corpus size (C(c,2) per cluster), and the Jaccard-verify /
    canonicalize stages get realistic weight.  Replicating a corpus
    k× instead creates k-cliques of IDENTICAL docs — a quadratic
    candidate structure no real n×-larger crawl has."""
    member = i % CLUSTER_SIZE
    base = i - member
    rng = random.Random((seed << 32) ^ base)
    host = _HOSTS[0] if rng.random() < 0.3 else rng.choice(_HOSTS[1:])
    lang = rng.choices(
        ["en", "de", "fr", "es", "unknown"], weights=[5, 2, 1, 1, 1]
    )[0]
    n_lines = rng.randint(8, 30)
    lines = [
        " ".join(rng.choices(_VOCAB, k=rng.randint(3, 25)))
        for _ in range(n_lines)
    ]
    if member:
        k = member % len(lines)
        lines = lines[:k] + lines[k + 1 :] + [lines[-1 - k]]
    ext = PAGE_EXTS[i % len(PAGE_EXTS)]
    url = f"https://{host}/{lang}/p{i}{ext}"
    return url, lang, "\n".join(lines)


def synthetic_pages_distributed(
    spark: SparkSession, n: int, seed: int = 42, n_partitions: int | None = None
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) generated ON THE EXECUTORS
    via an Arrow UDF over ``spark.range(n)`` — the benchmark corpus
    input (driver-side row lists don't survive 10^5+ docs)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<url: string, lang: string, text: string>")
    def gen_udf(ids: pd.Series) -> pd.DataFrame:
        rows = [_gen_text(int(i), seed) for i in ids]
        return pd.DataFrame(rows, columns=["url", "lang", "text"])

    if n_partitions is None:
        n_partitions = spark.sparkContext.defaultParallelism
    base = spark.range(0, n, 1, n_partitions).select(
        gen_udf(F.col("id")).alias("g"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=(F.col("id") % 86400).cast("int"))
        ).alias("warc_ts"),
    )
    return base.select(
        F.col("g.url").alias("url"),
        "warc_ts",
        F.encode(F.col("g.text"), "UTF-8").alias("html"),
        F.col("g.text").alias("text"),
        F.col("g.lang").alias("lang"),
    )
