"""Chunk stage: ``documents`` → ``chunks`` (SURVEY.md §2.4 C1).

The reference's sliding-window line-packing chunker
(kb-generator.js:363-417) is stateful over lines and not expressible
in native SQL, so it is the one genuinely UDF-shaped operator in the
ingest path.  It runs as a vectorized ``pandas_udf`` returning
``array<struct>`` per document, followed by ``posexplode`` — i.e. the
classic Spark UDTF pattern: 1 row in, N struct rows out, all Arrow
batched, no per-row Python round-trips.  The UDF returns each chunk's
boundaries only (index, start and end line, size); the content is the
slice of its document's lines between them, cut in the JVM by
:func:`chunk_content`, so no text crosses back from Python.  The lines
are split once per document, before the explode, so a document's cost
stays linear in its length however many chunks it has.

Map-only, shuffle-free; chunk ids are derived deterministically from
the parent ``doc_uid`` (P7, kb-generator.js:381) so the stage is
idempotent and resume-safe.  Both ids are pure functions of ``url`` and
``chunk_index``, and the content of its document's text and the
chunk's boundaries, so the committed ``chunks`` table stores none of
them: the checkpoint layer drops them on write and derives them again
on read, the content from the KB's ``documents`` table
(``runtime/checkpoint.py`` ``DERIVED``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..core.textproc import create_chunks

CHUNK_SCHEMA = "array<struct<index:int,start_line:int,end_line:int,size:int>>"


def _make_chunk_udf(chunk_size: int, overlap: int):
    @pandas_udf(CHUNK_SCHEMA)
    def chunk_udf(text: pd.Series) -> pd.Series:
        return text.map(
            lambda t: [
                (c["index"], c["start_line"], c["end_line"], c["size"])
                for c in create_chunks(t or "", chunk_size, overlap)
            ]
        )

    return chunk_udf


def chunk_id(doc_uid: str, chunk_index: str) -> str:
    """P7 — ``${documentId}_chunk_${index}`` (kb-generator.js:381), as a
    SQL expression over the SQL expressions ``doc_uid`` and
    ``chunk_index``."""
    return f"concat({doc_uid}, '_chunk_', cast({chunk_index} as string))"


def chunk_lines(text: str) -> str:
    """The SQL expression for the lines of the SQL expression ``text``
    that :func:`chunk_content` slices: ``create_chunks``'s
    ``text.split('\\n')``, a null text as ``''``."""
    return f"split(coalesce({text}, ''), '\\n', -1)"


def chunk_content(lines: str, chunk_index: str, start_line: str,
                  end_line: str) -> str:
    """A chunk's content as a SQL expression over its document's
    :func:`chunk_lines` and its stored boundaries: lines ``first`` to
    ``end_line`` joined by newlines.  ``create_chunks`` records
    ``start_line`` one past the true first line after an overlap carry
    (kb-generator.js:396), also for an empty carry, so ``first`` is
    ``start_line - 1`` for every chunk but the first."""
    first = f"({start_line} - if({chunk_index} > 0, 1, 0))"
    return (f"array_join(slice({lines}, {first} + 1, "
            f"{end_line} - {first} + 1), '\\n')")


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 1000,
    overlap: int = 200,
) -> DataFrame:
    """documents → chunks(doc_uid, url, lang, chunk_id, chunk_index,
    content, start_line, end_line, size).

    Defaults 1000/200 per kb-generator.js:17-18.
    """
    chunk_udf = _make_chunk_udf(chunk_size, overlap)
    # split each document once, before the explode: a select holding the
    # generator evaluates its other expressions once per chunk row
    exploded = docs.select(
        "doc_uid", "url", "lang", "text",
        F.expr(chunk_lines("text")).alias("lines"),
    ).select(
        "doc_uid", "url", "lang", "lines",
        F.explode(chunk_udf(F.col("text"))).alias("ch"),
    )
    return exploded.select(
        "doc_uid",
        "url",
        "lang",
        F.expr(chunk_id("doc_uid", "ch.index")).alias("chunk_id"),
        F.col("ch.index").alias("chunk_index"),
        F.expr(chunk_content("lines", "ch.index", "ch.start_line",
                             "ch.end_line")).alias("content"),
        F.col("ch.start_line").alias("start_line"),
        F.col("ch.end_line").alias("end_line"),
        F.col("ch.size").alias("size"),
    )


def oracle_chunks_ctes() -> str:
    """DuckDB twin of :func:`chunk_documents` as a chain of CTEs ending
    in ``chunks_r(doc_uid, url, chunk_id, chunk_index, content,
    start_line, end_line, size)``.

    The greedy line-packer keeps a CONTIGUOUS window of lines, so its
    whole state is (start-line s, current size, chunk index); the
    recursive CTE steps one line per iteration across all documents in
    lockstep.  The reference's recomputed-size quirk
    (kb-generator.js:395: after an overlap carry the running ``len+1``
    sum is replaced by ``len(join(carry))``) becomes a prefix-sum
    expression: ``pref[i-1] - pref[s'-1] + (n_carry - 1)``.

    Must be appended after a ``WITH RECURSIVE``-opened pages CTE.
    """
    C, O = 1000, 200
    return f"""
cdoc AS (
  SELECT url, lang, 'doc_' || sha256(url) AS doc_uid,
         string_split(text, chr(10)) AS lines,
         len(string_split(text, chr(10))) AS n_lines
  FROM pages
),
clines AS (
  SELECT url, i, length(line) AS llen,
         sum(length(line)) OVER (PARTITION BY url ORDER BY i) AS pref
  FROM (
    SELECT url, unnest(lines) AS line,
           generate_subscripts(lines, 1) AS i
    FROM cdoc
  )
),
cprefs AS (
  SELECT url, list(pref ORDER BY i) AS parr FROM clines GROUP BY url
),
crec AS (
  SELECT url, 0 AS i, 1 AS s, 0 AS cur, 0 AS idx,
         NULL::INT AS em_idx, NULL::INT AS em_s, NULL::INT AS em_e,
         NULL::INT AS em_size
  FROM cdoc
  UNION ALL
  SELECT r.url, r.i + 1,
         CASE WHEN r.cur + lt.llen + 1 > {C} AND r.i + 1 > r.s
              THEN r.s + greatest(0, (r.i + 1 - r.s)
                   - ceil({O} / (r.cur::DOUBLE / (r.i + 1 - r.s)))::INT)
              ELSE r.s END,
         CASE WHEN r.cur + lt.llen + 1 > {C} AND r.i + 1 > r.s
              THEN (p.parr[r.i]
                    - CASE WHEN r.s + greatest(0, (r.i + 1 - r.s)
                             - ceil({O} / (r.cur::DOUBLE / (r.i + 1 - r.s)))::INT)
                             > 1
                           THEN p.parr[r.s + greatest(0, (r.i + 1 - r.s)
                             - ceil({O} / (r.cur::DOUBLE / (r.i + 1 - r.s)))::INT)
                             - 1]
                           ELSE 0 END)
                   + (r.i + 1 - (r.s + greatest(0, (r.i + 1 - r.s)
                      - ceil({O} / (r.cur::DOUBLE / (r.i + 1 - r.s)))::INT)) - 1)
                   + lt.llen + 1
              ELSE r.cur + lt.llen + 1 END,
         CASE WHEN r.cur + lt.llen + 1 > {C} AND r.i + 1 > r.s
              THEN r.idx + 1 ELSE r.idx END,
         CASE WHEN r.cur + lt.llen + 1 > {C} AND r.i + 1 > r.s
              THEN r.idx END,
         CASE WHEN r.cur + lt.llen + 1 > {C} AND r.i + 1 > r.s
              THEN r.s END,
         CASE WHEN r.cur + lt.llen + 1 > {C} AND r.i + 1 > r.s
              THEN r.i END,
         CASE WHEN r.cur + lt.llen + 1 > {C} AND r.i + 1 > r.s
              THEN r.cur END
  FROM crec r
  JOIN clines lt ON lt.url = r.url AND lt.i = r.i + 1
  JOIN cprefs p ON p.url = r.url
),
cemit AS (
  SELECT url, em_idx AS chunk_index, em_s AS s1, em_e AS e1, em_size AS size
  FROM crec WHERE em_idx IS NOT NULL
  UNION ALL
  SELECT r.url, r.idx, r.s, d.n_lines, r.cur
  FROM crec r JOIN cdoc d ON d.url = r.url AND r.i = d.n_lines
),
chunks_r AS (
  SELECT d.doc_uid, c.url, d.lang,
         d.doc_uid || '_chunk_' || c.chunk_index AS chunk_id,
         c.chunk_index,
         array_to_string(d.lines[c.s1:c.e1], chr(10)) AS content,
         -- reference quirk (kb-generator.js:396): after an overlap
         -- carry start_line is recorded as i - (n_carry - 1), i.e. one
         -- PAST the true first content line; only chunk 0 records its
         -- actual start.
         CASE WHEN c.chunk_index = 0 THEN c.s1 - 1 ELSE c.s1 END
           AS start_line,
         c.e1 - 1 AS end_line, c.size
  FROM cemit c JOIN cdoc d ON d.url = c.url
)"""
