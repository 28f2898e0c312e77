"""Extractive answer assembly (SURVEY.md §2.7 J6/J7; search.js:341-385,
modes.js:195-226).

These operate on the (small, already-limited) search result set, so
they are driver-side pure functions over collected rows — the same
boundary the reference draws (answering is presentation, not a data
job).  The scoring/filtering that feeds them is all DataFrame work.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame


def generate_answer(query: str, results: list[dict], mode: str = "developer") -> dict:
    """search.js:341-385, reference-equal on its inputs.

    ``results`` rows need: url, lang, score, context_snippets,
    content (full chunk content) — i.e. collected search_chunks rows.
    """
    if not results:
        return {
            "answer": "I couldn't find any relevant information about that"
                      " in the knowledge base.",
            "confidence": 0,
        }

    top = results[0]
    # [...new Set(slice(0,5).map(path))] — insertion-ordered distinct
    relevant_files: list[str] = []
    for r in results[:5]:
        if r["url"] not in relevant_files:
            relevant_files.append(r["url"])
    confidence = min(top["score"] / 50, 1)

    contexts = [s for r in results[:3] for s in (r.get("context_snippets") or [])]
    meaningful = [c for c in contexts if c and len(c) > 20]

    answer = f'Based on your search for "{query}", I found relevant code in:\n\n'
    if meaningful:
        answer += "📝 **Key findings**:\n"
        for idx, ctx in enumerate(meaningful[:3]):
            clean = re.sub(r"[\n\r\t]+", " ", ctx).strip()
            short = clean[:200] + "..." if len(clean) > 200 else clean
            answer += f"{idx + 1}. {short}\n"
        answer += "\n"
    n = len(results)
    answer += f"📁 **Found in {n} location{'s' if n > 1 else ''}**:\n"
    for f in relevant_files[:5]:
        answer += f"  • {f}\n"
    answer += "\n💡 To get AI-powered answers, set OPENAI_API_KEY environment variable."

    # the reference returns the mode's DISPLAY name here
    # (search.js:384 modeManager.getCurrentMode().name — 'Developer',
    # not 'developer'), as does this package's external-search path
    # (external.py MODE_DISPLAY_NAME); keep the field's value domain
    # consistent across both answer paths
    from .modes import _MODE_NAMES

    return {
        "answer": format_answer(answer, results, mode),
        "confidence": confidence,
        "totalMatches": len(results),
        "topFiles": relevant_files,
        "mode": _MODE_NAMES.get(mode, mode),
    }


def format_answer(base_answer: str, results: list[dict], mode: str) -> str:
    """modes.js:195-226."""
    out = base_answer
    if mode == "enduser":
        out = re.sub(r"```[\s\S]*?```", "[Code example removed for clarity]", out)
        out = re.sub(r"📂 \*\*Source files\*\*:.*$", "", out, flags=re.M)
    if mode == "copilot" and results:
        examples = []
        for r in [x for x in results if x.get("content")][:2]:
            lines = r["content"].split("\n")[:20]
            lang = (r.get("lang") or "javascript").lower()
            examples.append(
                f"```{lang}\n// From: {r['url']}\n" + "\n".join(lines) + "\n```"
            )
        if examples:
            out += "\n\n📝 **Code Examples**:\n" + "\n\n".join(examples)
    return out


def answer_from_df(query: str, results_df: DataFrame) -> dict:
    """:func:`generate_answer` over collected developer-mode results."""
    rows = [r.asDict() for r in results_df.collect()]
    return generate_answer(query, rows)


def oracle_search_answer_sql(query: str, limit: int = 10) -> str:
    """DuckDB twin of :func:`answer_from_df` over :func:`generate_answer`
    for the non-empty-results developer path (the registered contract
    query): single row (answer, confidence, total_matches, mode).

    Builds on the ranked search CTEs (``sc_ranked`` with ``kept_snips``
    and ``rn``).  The template is deterministic string assembly:
    insertion-ordered distinct files via min(rn) per url; meaningful
    snippets = flattened kept snippets of the top-3 rows with
    length > 20, cleaned ([\\n\\r\\t]+ → ' ', trimmed, 200-char cap).
    """
    from .search import oracle_search_chunks_ctes

    q = query.replace("'", "''")
    nl = "chr(10)"
    return oracle_search_chunks_ctes(query, "developer", limit) + f"""
, ans_files AS (
  SELECT url, min(rn) AS first_rn FROM sc_ranked WHERE rn <= 5 GROUP BY url
),
ans_snips AS (
  SELECT rn, unnest(kept_snips) AS s,
         generate_subscripts(kept_snips, 1) AS pos
  FROM sc_ranked WHERE rn <= 3
),
ans_meaningful AS (
  SELECT s, row_number() OVER (ORDER BY rn, pos) AS m
  FROM ans_snips WHERE s IS NOT NULL AND length(s) > 20
),
ans_findings AS (
  SELECT string_agg(
           m || '. ' ||
           CASE WHEN length(trim(regexp_replace(s, '[\\n\\r\\t]+', ' ', 'g'))) > 200
                THEN substr(trim(regexp_replace(s, '[\\n\\r\\t]+', ' ', 'g')), 1, 200) || '...'
                ELSE trim(regexp_replace(s, '[\\n\\r\\t]+', ' ', 'g')) END,
           {nl} ORDER BY m) AS findings,
         count(*) AS n_meaningful
  FROM ans_meaningful WHERE m <= 3
),
ans_stats AS (
  SELECT count(*) AS n_results,
         max(CASE WHEN rn = 1 THEN score END) AS top_score
  FROM sc_ranked
),
ans_filelist AS (
  SELECT string_agg('  • ' || url, {nl} ORDER BY first_rn) AS files
  FROM (SELECT url, first_rn FROM ans_files ORDER BY first_rn LIMIT 5)
)
SELECT
  'Based on your search for "{q}", I found relevant code in:' || {nl} || {nl}
  || CASE WHEN coalesce(f.n_meaningful, 0) > 0
          THEN '📝 **Key findings**:' || {nl} || f.findings || {nl} || {nl}
          ELSE '' END
  || '📁 **Found in ' || s.n_results || ' location'
  || CASE WHEN s.n_results > 1 THEN 's' ELSE '' END || '**:' || {nl}
  || fl.files || {nl} || {nl}
  || '💡 To get AI-powered answers, set OPENAI_API_KEY environment variable.'
    AS answer,
  least(s.top_score / 50.0, 1.0) AS confidence,
  s.n_results AS total_matches,
  'Developer' AS mode
FROM ans_stats s, ans_filelist fl LEFT JOIN ans_findings f ON TRUE
"""
