"""Text analysis operators for training-data pipelines: token
counting, quality scoring, language-ID heuristic, fingerprinting.

All pure Catalyst expressions with DuckDB twins — the two engines
share formulae exactly (integer/double arithmetic, md5 hex strings),
so every operator here is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.tokenize import JAVA_WS_CLASS, RE2_WS_CLASS

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def _tokens(text: Column) -> Column:
    # explicit pinned class — Java's \s and RE2's \s disagree on \x0b,
    # so both twins spell the class out (empty tokens KEPT here: the
    # JS-''.split-like count semantics are part of the operator)
    return F.split(F.lower(F.trim(text)), f"{JAVA_WS_CLASS}+")


def token_count(text: Column) -> Column:
    """Whitespace token count of trimmed text ('' → 1 in both engines,
    matching JS ''.split semantics)."""
    return F.size(_tokens(text))


def stopword_count(text: Column) -> Column:
    toks = _tokens(text)
    return F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic:
    0.4·len_score + 0.3·diversity + 0.3·(1 - stopword_ratio)
    with len_score = least(n_tokens/100, 1),
    diversity = distinct_tokens/n_tokens."""
    toks = _tokens(text)
    n = F.size(toks).cast("double")
    distinct_n = F.size(F.array_distinct(toks)).cast("double")
    stop_ratio = stopword_count(text).cast("double") / n
    len_score = F.least(n / 100.0, F.lit(1.0))
    diversity = distinct_n / n
    return F.round(0.4 * len_score + 0.3 * diversity + 0.3 * (1.0 - stop_ratio), 6)


def lang_id(text: Column) -> Column:
    """N-gram-free heuristic language ID: English stopword density.
    ≥ 2 stopword hits per 100 tokens → 'en', any hit → 'en_maybe',
    else 'unknown'.  (The corpus generator writes English word soup;
    the operator demonstrates the classification plumbing.)"""
    n = token_count(text).cast("double")
    sw = stopword_count(text).cast("double")
    dens = F.when(n > 0, sw / n * 100.0).otherwise(F.lit(0.0))
    return (
        F.when(dens >= 2.0, "en").when(sw > 0, "en_maybe").otherwise("unknown")
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: word runs and individual
    non-word-non-space characters counted separately — the cheap
    stand-in for a BPE tokenizer's token count, as a pure regexp
    expression (regexp_count is JVM-side)."""
    return F.regexp_count(text, F.lit(r"\w+|[^\w\s]")).cast("long")


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lower text."""
    return F.md5(F.array_join(_tokens(text), " "))


def text_stats(docs: DataFrame) -> DataFrame:
    t = F.col("text")
    return docs.select(
        F.col("url").alias("key"),
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_tokens_bpe"),
        F.length(t).cast("long").alias("n_chars"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_id"),
        fingerprint(t).alias("fingerprint"),
    )


# --------------------------- DuckDB twins ----------------------------------

def _tok_sql(col: str) -> str:
    # not str.format: the RE2 class contains literal {0B} braces
    return f"string_split_regex(lower(trim({col})), '{RE2_WS_CLASS}+')"


def oracle_text_stats_sql(col: str = "text") -> dict[str, str]:
    toks = _tok_sql(col)
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    n = f"len({toks})::DOUBLE"
    sw = f"len(list_filter({toks}, t -> t IN ({stop_list})))::DOUBLE"
    distinct_n = f"len(list_distinct({toks}))::DOUBLE"
    dens = f"(CASE WHEN {n} > 0 THEN {sw} / {n} * 100.0 ELSE 0.0 END)"
    return {
        "n_tokens": f"len({toks})",
        "n_tokens_bpe": (
            # \x{0B} appended: RE2's \s lacks vertical tab, Java's has it
            f"len(regexp_extract_all({col}, '\\w+|[^\\w\\s\\x{{0B}}]'))"
        ),
        "n_chars": f"length({col})",
        "quality": (
            f"round(0.4 * least({n} / 100.0, 1.0) + 0.3 * ({distinct_n} / {n})"
            f" + 0.3 * (1.0 - {sw} / {n}), 6)"
        ),
        "lang_id": (
            f"(CASE WHEN {dens} >= 2.0 THEN 'en' WHEN {sw} > 0 THEN 'en_maybe'"
            f" ELSE 'unknown' END)"
        ),
        "fingerprint": f"md5(array_to_string({toks}, ' '))",
    }
