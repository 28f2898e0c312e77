"""Extract stage: ``pages`` → ``documents`` (SURVEY.md §7.2 stage 1).

Replaces the reference ingest path S5 + T1-T4 + P1-P5
(kb-generator.js:185-248, :340-361): decode the raw page bytes and
apply the byte-identical cleaning pipeline, then derive all document
columns with built-in expressions.

Execution shape (100 TB view):
* the cleaner is the ONLY Python in this stage — a vectorized
  ``pandas_udf`` over Arrow batches (per-row logic is regex-bound and
  must match JS semantics exactly, see core/textproc.py);
* everything else (ids, checksums, line counts, classification) is
  whole-stage-codegen'd JVM expressions;
* ``doc_uid`` is a pure function of ``url`` (:func:`doc_uid`), so the
  committed ``documents`` table does not store it: the checkpoint layer
  drops it on write and derives it again on read
  (``runtime/checkpoint.py`` ``DERIVED``);
* map-only: no shuffle — the stage preserves the input partitioning,
  so at scale it pipelines directly off the parquet scan with
  filters and column pruning pushed down.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..core.textproc import clean_content
from ..functions.classify import detect_language, ext_col, file_type


def _make_clean_udf():
    @pandas_udf("string")
    def clean_udf(html: pd.Series) -> pd.Series:
        # bytes → utf-8 str → reference-exact clean (T1-T4)
        return html.map(
            lambda b: clean_content(
                b if isinstance(b, str) else bytes(b).decode("utf-8", "replace")
            )
        )

    return clean_udf


def doc_uid(url: str) -> str:
    """P1 — deterministic replacement for the reference's
    ``doc_${Date.now()}_${rand}`` (kb-generator.js:543-545): the SQL
    expression ``'doc_' || sha2(url, 256)`` over the column ``url``."""
    return f"concat('doc_', sha2({url}, 256))"


# S4 size gate (kb-generator.js:162-164) — module constant so resume's
# new-page detection can apply the SAME gate (a gated page must not
# look like a forever-new delta; see jobs/run_kg_pipeline.py)
MAX_FILE_SIZE = 10 * 1024 * 1024


def extract_pages(pages: DataFrame, max_file_size: int = MAX_FILE_SIZE) -> DataFrame:
    """pages(url, warc_ts, html, text, lang, ...) → documents table.

    Output: (doc_uid, url, warc_ts, lang, ext, language_ext, type,
    size, text, checksum, lines) — ``text`` is the cleaned text whose
    bytes must match the reference extractor per url.

    * doc_uid — :func:`doc_uid` of the url; derived, not stored, in
      the committed table.
    * size gate — S4 (kb-generator.js:162-164) as a pushed-down filter.
    """
    clean_udf = _make_clean_udf()
    ext = ext_col(F.col("url"))
    return (
        pages.filter(F.length("html") <= max_file_size)
        .withColumn("text", clean_udf(F.col("html")))
        .select(
            F.expr(doc_uid("url")).alias("doc_uid"),
            "url",
            "warc_ts",
            "lang",
            ext.alias("ext"),
            detect_language(ext).alias("language_ext"),
            file_type(ext).alias("type"),
            F.length("html").cast("long").alias("size"),
            "text",
            F.sha2(F.col("text"), 256).alias("checksum"),
            F.size(F.split(F.col("text"), "\n", -1)).alias("lines"),
        )
    )
