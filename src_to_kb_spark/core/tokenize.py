"""ONE pinned whitespace-tokenization semantic, shared by all three
engines (Python/Arrow UDFs, Catalyst expressions, DuckDB oracles).

The pitfall this module exists for: every engine's notion of
"whitespace" differs at the edges — Python ``str.split()`` strips
Unicode whitespace (NBSP, ideographic space), Java's regex ``\\s`` is
``[ \\t\\n\\x0B\\f\\r]``, RE2 (DuckDB) ``\\s`` is ``[ \\t\\n\\f\\r]``
(no vertical tab), Java ``String.trim`` strips ``<= U+0020``, SQL
``trim`` strips only spaces.  Any mixture silently breaks cross-engine
hash parity on adversarial input (leading newlines, NBSP, vertical
tabs).  So: tokenization everywhere is

    split lower-cased text on runs of the ASCII class
    ``[ \\t\\n\\x0B\\f\\r]``, drop empty tokens

with NO trim step (empty-token filtering makes trimming irrelevant),
expressed through the three literals below; :func:`jvm_tokens` is the
one Catalyst spelling of it.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# The pinned class, as each engine's regex literal.
ASCII_WS_CHARS = " \t\n\x0b\f\r"
PY_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")
JAVA_WS_CLASS = "[ \\t\\n\\x0B\\f\\r]"  # java.util.regex (F.split / rlike)
RE2_WS_CLASS = "[ \\t\\n\\x{0B}\\f\\r]"  # RE2 (DuckDB string_split_regex)


def ascii_tokens(text: str | None) -> list[str]:
    """Lower-cased non-empty tokens of ``text`` under the pinned class."""
    if not text:
        return []
    return [t for t in PY_WS_RE.split(text.lower()) if t]


def jvm_tokens(text: Column) -> Column:
    """The Catalyst :func:`ascii_tokens`, from Column functions: in a
    SQL string literal ``\\f`` loses its backslash."""
    return F.filter(F.split(F.lower(text), f"{JAVA_WS_CLASS}+"), lambda x: x != "")
