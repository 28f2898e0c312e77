"""Scalar derivations (SURVEY.md §2.2) as Catalyst expressions.

Every function here compiles to JVM-side built-in expressions — no
Python in the hot path — and each has a DuckDB-SQL twin used by the
oracle so the two engines share one definition.

Reference semantics:
* extension       — ``path.extname().toLowerCase()``
  (kb-generator.js:552,588): the last ``.suffix`` of the final path
  segment, empty string when none.
* detectLanguage  — 28-entry extension→language map, 'Unknown' default
  (kb-generator.js:551-585).
* getFileType     — 4-way bucket {code,text,config,web} else 'other'
  (kb-generator.js:587-601).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# kb-generator.js:553-582, verbatim mapping.
LANG_MAP: dict[str, str] = {
    ".js": "JavaScript", ".jsx": "JavaScript",
    ".ts": "TypeScript", ".tsx": "TypeScript",
    ".py": "Python", ".java": "Java", ".cpp": "C++", ".c": "C",
    ".cs": "C#", ".go": "Go", ".rust": "Rust", ".rb": "Ruby",
    ".php": "PHP", ".swift": "Swift", ".kt": "Kotlin", ".scala": "Scala",
    ".r": "R", ".m": "MATLAB", ".sql": "SQL", ".html": "HTML",
    ".css": "CSS", ".scss": "SCSS", ".xml": "XML", ".json": "JSON",
    ".yaml": "YAML", ".yml": "YAML", ".md": "Markdown", ".txt": "Text",
}

# kb-generator.js:590-600, verbatim buckets.
TYPE_CODE = [".js", ".jsx", ".ts", ".tsx", ".py", ".java", ".cpp", ".c",
             ".cs", ".go", ".rust", ".rb", ".php"]
TYPE_TEXT = [".md", ".txt"]
TYPE_CONFIG = [".json", ".yaml", ".yml", ".xml"]
TYPE_WEB = [".html", ".css", ".scss"]

# kb-generator.js:20-24 — supported-extension allowlist (S3).
SUPPORTED_EXTS = [
    ".js", ".ts", ".jsx", ".tsx", ".py", ".java", ".cpp", ".c",
    ".cs", ".go", ".rust", ".rb", ".php", ".md", ".txt", ".json",
    ".yaml", ".yml", ".xml", ".html", ".css", ".scss", ".sql",
]

# Last .suffix of the final path segment; '' when none (path.extname-ish,
# adequate for our URL shapes — no trailing-dot or dotfile corner cases).
_EXT_RE = r"(\.[^./]+)$"


def ext_col(path: Column | str) -> Column:
    c = F.col(path) if isinstance(path, str) else path
    return F.lower(F.regexp_extract(c, _EXT_RE, 1))


def detect_language(ext: Column) -> Column:
    """P3 — extension→language, 'Unknown' default (kb-generator.js:551-585)."""
    pairs: list[Column] = []
    for k, v in LANG_MAP.items():
        pairs += [F.lit(k), F.lit(v)]
    return F.coalesce(
        F.element_at(F.create_map(*pairs), ext), F.lit("Unknown")
    )


def file_type(ext: Column) -> Column:
    """P4 — 4-way type bucket (kb-generator.js:587-601)."""
    return (
        F.when(ext.isin(TYPE_CODE), "code")
        .when(ext.isin(TYPE_TEXT), "text")
        .when(ext.isin(TYPE_CONFIG), "config")
        .when(ext.isin(TYPE_WEB), "web")
        .otherwise("other")
    )


def is_supported(ext: Column) -> Column:
    """S3 — extension allowlist (kb-generator.js:180-183)."""
    return ext.isin(SUPPORTED_EXTS)


# kb-generator.js:25-28 — default exclusion substrings (S2).
DEFAULT_EXCLUDES = [
    "node_modules", ".git", "dist", "build", ".next",
    "coverage", ".cache", "vendor", "__pycache__",
]


def should_exclude(path: Column) -> Column:
    """S2 — substring containment against the exclude list
    (kb-generator.js:174-178).  At scale this predicate prunes files
    before any read, like the reference prunes directories pre-descent."""
    conds = None
    for e in DEFAULT_EXCLUDES:
        c = path.contains(e)
        conds = c if conds is None else (conds | c)
    return conds if conds is not None else F.lit(False)


# --------------------------- DuckDB twins ----------------------------------

def oracle_ext_sql(col: str) -> str:
    return f"lower(regexp_extract({col}, '(\\.[^./]+)$', 1))"


def oracle_lang_sql(ext_sql: str) -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in LANG_MAP.items()
    )
    return f"(CASE {ext_sql} {cases} ELSE 'Unknown' END)"


def _in_list(exts: list[str]) -> str:
    return ", ".join(f"'{e}'" for e in exts)


def oracle_type_sql(ext_sql: str) -> str:
    return (
        f"(CASE WHEN {ext_sql} IN ({_in_list(TYPE_CODE)}) THEN 'code' "
        f"WHEN {ext_sql} IN ({_in_list(TYPE_TEXT)}) THEN 'text' "
        f"WHEN {ext_sql} IN ({_in_list(TYPE_CONFIG)}) THEN 'config' "
        f"WHEN {ext_sql} IN ({_in_list(TYPE_WEB)}) THEN 'web' "
        f"ELSE 'other' END)"
    )


def oracle_supported_sql(ext_sql: str) -> str:
    return f"({ext_sql} IN ({_in_list(SUPPORTED_EXTS)}))"
