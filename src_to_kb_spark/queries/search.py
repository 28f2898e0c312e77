"""Query layer: reference-equal search / stats / similar / modes
(SURVEY.md §2.6-2.9; search.js + modes.js) as DataFrame functions.

Two search granularities:

* :func:`search_documents` — document-level keyword relevance, pure
  built-ins, shared formula with the DuckDB oracle (substring
  occurrence counting — identical non-overlapping scan semantics to
  the reference's ``new RegExp(kw,'gi')`` for plain-text keywords).
* :func:`search_chunks` — the reference's exact chunk-level pipeline
  (J1 scoring, J2 snippet extraction + dedup, F2 mode exclusion,
  O1/O2 ordering, J4 confidence), over the chunker's output.  The
  keyword-as-regex quirk (search.js:150 — the raw keyword IS a regex)
  is replicated via ``regexp_count``; queries are trusted input.

Physical shape: scoring is a map-only projection over chunks (the
keyword list is a literal, not a join); top-k is TakeOrderedAndProject
(per-partition heap + driver merge), not a global sort.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.textproc import JS_WS_CLASS

# modes.js:11-23 / :45 / :67-72 — JS /i flags → (?i) inline.
MODE_EXCLUDE: dict[str, list[str]] = {
    "enduser": [
        r"(?i)test\.", r"(?i)spec\.", r"(?i)\.test\.", r"(?i)\.spec\.",
        r"(?i)internal", r"(?i)private", r"(?i)debug", r"(?i)mock",
        r"(?i)stub", r"(?i)__tests__", r"\.d\.ts$",
    ],
    "developer": [],
    "copilot": [r"(?i)README", r"(?i)CHANGELOG", r"(?i)LICENSE", r"\.md$"],
}
# modes.js:25,47,74
MODE_PRIORITIZE: dict[str, list[str]] = {
    "enduser": ["documentation", "api", "interface", "public"],
    "developer": ["code", "test", "config", "architecture", "internal"],
    "copilot": ["code", "test", "example", "snippet"],
}


def keywords_of(query: str) -> list[str]:
    """search.js:132-133 — lower-case, split on whitespace runs.

    EXACTLY JS ``split(/\\s+/)``: empty strings are KEPT — ``''`` →
    ``['']``, ``' a '`` → ``['', 'a', '']``.  An empty keyword scores
    every chunk ``length+1`` (``''.match(//gi)`` matches at every
    position; Spark's ``regexp_count(lc, '')`` returns the identical
    count and ``instr(lc, '') = 1`` mirrors ``includes('') = true``),
    so blank / padded queries rank instead of crashing — the
    reference's observable behavior, degenerate as it is."""
    return re.split(r"\s+", query.lower())


def _substr_count(text_lower: Column, kw: str) -> Column:
    """Non-overlapping substring occurrences (shared oracle formula).
    The empty keyword counts ``length+1`` — the JS empty-regex match
    count (see :func:`keywords_of`)."""
    if not kw:
        return (F.length(text_lower) + 1).cast("long")
    return (
        (F.length(text_lower) - F.length(F.replace(text_lower, F.lit(kw))))
        / len(kw)
    ).cast("long")


def oracle_substr_count_sql(text_sql: str, kw: str) -> str:
    return (
        f"((length({text_sql}) - length(replace({text_sql}, '{kw}', '')))"
        f" // {len(kw)})"
    )


def search_documents(
    docs: DataFrame,
    query: str,
    limit: int = 10,
) -> DataFrame:
    """Document-level relevance: score = Σ_kw occurrences in
    lower(text); keep score > 0; order score desc, key asc; limit
    (search.js:146-153,192,198 lifted from chunk to doc granularity)."""
    lt = F.lower(F.col("text"))
    score = None
    for kw in keywords_of(query):
        c = _substr_count(lt, kw)
        score = c if score is None else score + c
    scored = docs.select(
        F.col("url").alias("key"), score.alias("score")
    ).filter(F.col("score") > 0)
    return scored.orderBy(F.desc("score"), F.asc("key")).limit(limit)


def mode_filter(results: DataFrame, mode: str) -> DataFrame:
    """F2 — drop rows whose path matches any mode exclude pattern
    (modes.js:121-133)."""
    out = results
    for pat in MODE_EXCLUDE.get(mode, []):
        out = out.filter(~F.col("url").rlike(pat))
    return out


def priority_col(mode: str, path_col: Column, lang_col: Column) -> Column:
    """O2 — prioritized if path contains any prioritizeTypes substring
    OR language equals it (modes.js:138-145)."""
    conds = None
    for t in MODE_PRIORITIZE.get(mode, []):
        c = F.lower(path_col).contains(t) | (F.lower(lang_col) == t)
        conds = c if conds is None else (conds | c)
    return conds if conds is not None else F.lit(False)


def _kw_score_and_snippets(
    kws: list[str], strip_word_edges: bool
) -> tuple[Column, Column]:
    """Per-keyword relevance score + snippet array over a ``content``
    column — the loop body search.js:146-166 and mcp-server.mjs:76-90
    SHARE, differing only in the final ``^\\W+``/``\\W+$`` strips
    (search.js:164-165, absent from the MCP flavor).  One
    implementation keeps the two registered flavors (and their DuckDB
    twins) from drifting apart.

    J1 with the literal-containment GATE (search.js:148): the regex
    occurrence count is added ONLY when the content contains the
    keyword as a LITERAL — a regex-metacharacter keyword like
    ``spark.`` must not score ``sparky`` chunks the reference
    excludes.  ``instr`` is the literal test; the count itself stays
    the reference's regex count.
    """
    lc = F.lower(F.col("content"))
    score: Column | None = None
    snippet_cols: list[Column] = []
    for kw in kws:
        idx = F.instr(lc, kw)  # 1-based; 0 = no literal match
        cnt = F.when(idx > 0, F.regexp_count(lc, F.lit(kw))).otherwise(
            F.lit(0)
        )
        score = cnt if score is None else score + cnt
        # J2 — ±80-char window around the FIRST occurrence, sliced from
        # original-case content, \s+→' ' (ECMA whitespace set incl.
        # NBSP/FEFF — wider than Java's \s, hence the explicit class).
        start = F.greatest(idx - 80, F.lit(1))
        end = F.least(idx + F.lit(len(kw)) + 80, F.length(lc) + 1)
        raw = F.substring(F.col("content"), start, end - start)
        snip = F.regexp_replace(raw, f"^{JS_WS_CLASS}+|{JS_WS_CLASS}+$", "")
        snip = F.regexp_replace(snip, f"{JS_WS_CLASS}+", " ")
        if strip_word_edges:
            snip = F.regexp_replace(snip, r"^\W+", "")
            snip = F.regexp_replace(snip, r"\W+$", "")
        snippet_cols.append(F.when(idx > 0, snip))
    snips = F.filter(F.array(*snippet_cols), lambda s: s.isNotNull())
    return score, snips


def search_chunks(
    chunks: DataFrame,
    query: str,
    mode: str = "developer",
    limit: int = 10,
) -> DataFrame:
    """Reference-exact chunk search (search.js:130-199).

    Input: chunker output (doc_uid, url, lang, chunk_id, content, ...).
    Output: one row per scoring chunk with score, context snippets,
    preview, confidence — ordered (priority desc, score desc,
    chunk_id) and limited.
    """
    score, snips = _kw_score_and_snippets(
        keywords_of(query), strip_word_edges=True
    )
    # dedup: keep snippet unless an earlier kept one contains its
    # first 30 chars (search.js:167-169)
    dedup = F.aggregate(
        snips,
        F.expr("cast(array() as array<string>)"),
        lambda acc, s: F.when(
            F.exists(acc, lambda e: e.contains(F.substring(s, 1, 30))), acc
        ).otherwise(F.concat(acc, F.array(s))),
    )

    scored = (
        chunks.withColumn("score", score)
        .filter(F.col("score") > 0)
        .withColumn("context_snippets", dedup)
        .withColumn("preview", F.substring("content", 1, 200))
        # J4 — min(score/50, 1) (search.js:353)
        .withColumn("confidence", F.least(F.col("score") / 50.0, F.lit(1.0)))
    )
    filtered = mode_filter(scored, mode)
    pr = priority_col(mode, F.col("url"), F.col("lang"))
    return (
        filtered.withColumn("is_priority", pr)
        .orderBy(F.desc("is_priority"), F.desc("score"), F.asc("chunk_id"))
        .limit(limit)
    )


def search_chunks_mcp(
    chunks: DataFrame,
    query: str,
    limit: int = 10,
) -> DataFrame:
    """The MCP server's EMBEDDED search (mcp-server.mjs:63-110) — a
    third search flavor that DIVERGES from search.js in three ways the
    reference never reconciled: (1) snippets get only trim +
    whitespace-collapse, NOT the ``^\\W+``/``\\W+$`` strips
    (mcp-server.mjs:86-87 vs search.js:162-166); (2) NO snippet dedup —
    every matched keyword contributes its snippet (:88 pushes
    unconditionally); (3) NO mode filter and NO priority re-sort —
    plain score-desc (:106).  A user driving the engine "as the MCP
    server" sees raw results where search.js returns filtered/deduped
    ones.

    Output mirrors the MCP result object (:95-103): documentId,
    documentPath, documentLang, score, lines "start-end",
    contextSnippets, preview.  The JS sort is unstable on score ties;
    chunk_id asc pins both engines.
    """
    score, snips = _kw_score_and_snippets(
        keywords_of(query), strip_word_edges=False
    )
    return (
        chunks.withColumn("score", score)
        .filter(F.col("score") > 0)
        .select(
            F.col("doc_uid").alias("document_id"),
            F.col("url").alias("document_path"),
            F.col("lang").alias("document_lang"),
            "score",
            F.concat_ws("-", "start_line", "end_line").alias("lines"),
            snips.alias("context_snippets"),
            F.substring("content", 1, 200).alias("preview"),
            "chunk_id",
        )
        .orderBy(F.desc("score"), F.asc("chunk_id"))
        .limit(limit)
        .drop("chunk_id")
    )


def oracle_search_chunks_mcp_sql(query: str, limit: int = 10) -> str:
    """DuckDB twin of :func:`search_chunks_mcp` over a chunker CTE.
    Snippets joined ' | ' (scalar compare, same projection registered
    Spark-side)."""
    kws = keywords_of(query)
    ws = _re2_ws_class()

    score_terms = []
    snip_exprs = []
    for kw in kws:
        lit = kw.replace("'", "''")
        # literal-containment gate (search.js:148 / mcp-server.mjs:78)
        score_terms.append(
            f"CASE WHEN strpos(lc, '{lit}') > 0 "
            f"THEN len(regexp_extract_all(lc, '{lit}')) ELSE 0 END"
        )
        raw = (
            f"substring(content, greatest(strpos(lc, '{lit}') - 80, 1), "
            f"least(strpos(lc, '{lit}') + {len(kw)} + 80, length(lc) + 1)"
            f" - greatest(strpos(lc, '{lit}') - 80, 1))"
        )
        snip = f"regexp_replace({raw}, '^{ws}+|{ws}+$', '', 'g')"
        snip = f"regexp_replace({snip}, '{ws}+', ' ', 'g')"
        snip_exprs.append(
            f"CASE WHEN strpos(lc, '{lit}') > 0 THEN {snip} END"
        )

    return f"""
, mcp_base AS (
  SELECT *, lower(content) AS lc FROM chunks_r
),
mcp_scored AS (
  SELECT doc_uid AS document_id, url AS document_path,
         lang AS document_lang,
         ({" + ".join(score_terms)}) AS score,
         start_line || '-' || end_line AS lines,
         list_filter([{", ".join(snip_exprs)}], x -> x IS NOT NULL)
           AS snips,
         substring(content, 1, 200) AS preview,
         chunk_id
  FROM mcp_base
  WHERE ({" + ".join(score_terms)}) > 0
)
SELECT document_id, document_path, document_lang, score, lines,
       array_to_string(snips, ' | ') AS snippets, preview
FROM mcp_scored
ORDER BY score DESC, chunk_id
LIMIT {limit}
"""


def search_by_type(docs: DataFrame, type_or_lang: str) -> DataFrame:
    """F3 — type == t OR language == t (search.js:387-402)."""
    return docs.filter(
        (F.col("type") == type_or_lang) | (F.col("lang") == type_or_lang)
    ).select("url", "lang", "type", "size", "lines")


def kb_statistics(docs: DataFrame) -> DataFrame:
    """A3 totals (search.js:404-430) — single row."""
    return docs.agg(
        F.count("*").alias("total_documents"),
        F.sum("size").cast("long").alias("total_size"),
        F.countDistinct("lang").alias("n_languages"),
        F.countDistinct("type").alias("n_types"),
    )


def lang_distribution(docs: DataFrame) -> DataFrame:
    """A2 — group by language, count desc (kb-generator.js:527-539)."""
    return (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("lang"))
    )


def similar_documents(
    docs: DataFrame, target_key: str, limit: int | None = None
) -> DataFrame:
    """J3 — file similarity (search.js:444-478): +2 same language,
    +1 same type, +0.5 per target path part present in the candidate's
    parts (duplicates in target counted), keep > 0, sort desc.

    ``target_key`` is the target's url; we broadcast the single target
    row and score map-side.
    """
    target = docs.filter(F.col("url") == target_key)
    t = F.broadcast(
        target.select(
            F.col("url").alias("t_url"),
            F.col("lang").alias("t_lang"),
            F.col("type").alias("t_type"),
        )
    )
    joined = docs.crossJoin(t).filter(F.col("url") != F.col("t_url"))
    t_parts = F.split(F.col("t_url"), "/")
    d_parts = F.split(F.col("url"), "/")
    common = F.size(F.filter(t_parts, lambda p: F.array_contains(d_parts, p)))
    sim = (
        F.when(F.col("lang") == F.col("t_lang"), 2.0).otherwise(0.0)
        + F.when(F.col("type") == F.col("t_type"), 1.0).otherwise(0.0)
        + common * 0.5
    )
    out = (
        joined.withColumn("similarity", sim)
        .filter(F.col("similarity") > 0)
        .select("url", "lang", "type", "similarity")
        .orderBy(F.desc("similarity"), F.asc("url"))
    )
    return out.limit(limit) if limit else out


def similar_documents_mcp(
    docs: DataFrame, target_key: str, limit: int | None = None
) -> DataFrame:
    """The MCP server's similar-files variant (mcp-server.mjs:188-213):
    +2 same EXTENSION (not type), +0.5 per target path part present in
    the candidate's parts, NO language bonus — a deliberate divergence
    from the search.js variant (:func:`similar_documents`).  Output
    (url, language, similarity), similarity desc / url asc (the
    reference's JS sort is unstable on ties; url asc pins both
    engines).  Broadcast single target row, map-side scoring."""
    target = docs.filter(F.col("url") == target_key)
    t = F.broadcast(
        target.select(
            F.col("url").alias("t_url"), F.col("ext").alias("t_ext")
        )
    )
    joined = docs.crossJoin(t).filter(F.col("url") != F.col("t_url"))
    t_parts = F.split(F.col("t_url"), "/")
    d_parts = F.split(F.col("url"), "/")
    common = F.size(F.filter(t_parts, lambda p: F.array_contains(d_parts, p)))
    sim = (
        F.when(F.col("ext") == F.col("t_ext"), 2.0).otherwise(0.0)
        + common * 0.5
    )
    out = (
        joined.withColumn("similarity", sim)
        .filter(F.col("similarity") > 0)
        .select(
            "url", F.col("language_ext").alias("language"), "similarity"
        )
        .orderBy(F.desc("similarity"), F.asc("url"))
    )
    return out.limit(limit) if limit else out


def _re2_ws_class() -> str:
    """JS_WS_CLASS re-escaped for RE2 (DuckDB): \\x{XXXX}, not \\uXXXX."""
    from ..core.textproc import JS_WHITESPACE

    return "[" + "".join(f"\\x{{{ord(c):04x}}}" for c in JS_WHITESPACE) + "]"


def oracle_search_chunks_ctes(
    query: str, mode: str = "developer", limit: int = 10
) -> str:
    """DuckDB twin of :func:`search_chunks` over a chunker CTE
    (``chunks_r`` from ``oracle_chunks_ctes`` with a ``lang`` column).

    The snippet-dedup fold (keep a snippet unless an earlier KEPT one
    contains its first 30 chars — search.js:167-169) is unrolled into
    per-position CASE columns, which is exact for any fixed keyword
    count.  Snippets are emitted joined with ' | ' (the registered
    Spark query projects the same) so the comparison stays scalar.
    """
    kws = keywords_of(query)
    ws = _re2_ws_class()
    n = len(kws)

    snip_exprs = []
    score_terms = []
    for kw in kws:
        lit = kw.replace("'", "''")
        # literal-containment gate (search.js:148 / mcp-server.mjs:78)
        score_terms.append(
            f"CASE WHEN strpos(lc, '{lit}') > 0 "
            f"THEN len(regexp_extract_all(lc, '{lit}')) ELSE 0 END"
        )
        raw = (
            f"substring(content, greatest(strpos(lc, '{lit}') - 80, 1), "
            f"least(strpos(lc, '{lit}') + {len(kw)} + 80, length(lc) + 1)"
            f" - greatest(strpos(lc, '{lit}') - 80, 1))"
        )
        snip = f"regexp_replace({raw}, '^{ws}+|{ws}+$', '', 'g')"
        snip = f"regexp_replace({snip}, '{ws}+', ' ', 'g')"
        snip = f"regexp_replace({snip}, '^\\W+', '', 'g')"
        snip = f"regexp_replace({snip}, '\\W+$', '', 'g')"
        snip_exprs.append(
            f"CASE WHEN strpos(lc, '{lit}') > 0 THEN {snip} END"
        )

    kept_defs = ["snips[1] AS k1"]
    for j in range(2, n + 1):
        prior = " OR ".join(
            f"(k{m} IS NOT NULL AND contains(k{m}, left(snips[{j}], 30)))"
            for m in range(1, j)
        )
        kept_defs.append(
            f"CASE WHEN snips[{j}] IS NOT NULL AND NOT ({prior}) "
            f"THEN snips[{j}] END AS k{j}"
        )
    kept_list = ", ".join(f"k{j}" for j in range(1, n + 1))

    prio_terms = MODE_PRIORITIZE.get(mode, [])
    prio = (
        "(" + " OR ".join(
            f"(contains(lower(url), '{t}') OR lower(lang) = '{t}')"
            for t in prio_terms
        ) + ")"
        if prio_terms
        else "FALSE"
    )
    excl = "".join(
        f"  AND NOT regexp_matches(url, '{p}')\n"
        for p in MODE_EXCLUDE.get(mode, [])
    )

    ctes = f"""
, sc_base AS (
  SELECT *, lower(content) AS lc FROM chunks_r
),
sc_scored AS (
  SELECT *, ({" + ".join(score_terms)}) AS score,
         list_filter([{", ".join(snip_exprs)}], x -> x IS NOT NULL) AS snips
  FROM sc_base
  WHERE ({" + ".join(score_terms)}) > 0
{excl}),
sc_kept AS (
  SELECT *, {", ".join(kept_defs)} FROM sc_scored
),
sc_ranked AS (
  SELECT *, {prio} AS is_priority,
         list_filter([{kept_list}], x -> x IS NOT NULL) AS kept_snips,
         row_number() OVER (
           ORDER BY {prio} DESC, score DESC, chunk_id
         ) AS rn
  FROM sc_kept
  QUALIFY rn <= {limit}
)"""
    return ctes


def oracle_search_chunks_sql(
    query: str, mode: str = "developer", limit: int = 10
) -> str:
    return oracle_search_chunks_ctes(query, mode, limit) + """
SELECT doc_uid, url, lang, chunk_id, chunk_index, content,
       start_line, end_line, size, score,
       array_to_string(kept_snips, ' | ') AS snippets,
       substring(content, 1, 200) AS preview,
       least(score / 50.0, 1.0) AS confidence,
       is_priority
FROM sc_ranked
ORDER BY rn
"""
