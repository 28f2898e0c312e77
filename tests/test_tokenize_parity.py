"""Property-based cross-engine parity for the pinned tokenization
(core/tokenize): Python, DuckDB (RE2), and Spark (java.util.regex)
must produce identical tokens for ANY input — this is the invariant
every hash-compared oracle in the contract rests on (r1 ADVICE found
three operators silently diverging on NBSP / vertical tab / leading
control chars)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from src_to_kb_spark.core.tokenize import (
    RE2_WS_CLASS,
    ascii_tokens,
    jvm_tokens,
)

# adversarial alphabet: ASCII ws incl. vertical tab, Unicode ws
# (NBSP, line/para separators, ideographic space, BOM), controls,
# multibyte letters, combining marks
ALPHABET = list(
    "ab zé9.#"
    "\t\n\x0b\f\r"
    "\x00\x01\x1f"
    "\xa0    　﻿"
    "́世"
)

_con = duckdb.connect()


def duck_tokens(text: str) -> list[str]:
    row = _con.execute(
        "SELECT list_filter(string_split_regex(lower($1), "
        f"'{RE2_WS_CLASS}+'), x -> x <> '')",
        [text],
    ).fetchone()
    return list(row[0])


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=st.sampled_from(ALPHABET), max_size=60))
def test_python_duckdb_token_parity(text):
    assert ascii_tokens(text) == duck_tokens(text)


def test_spark_token_parity_on_adversarial_batch(spark):
    """Spark's java regex split (``jvm_tokens``, which verify's shingle
    hashes and operators/mentions.tokenize use) against Python, one
    batched job over a fixed adversarial corpus.  DuckDB agrees on all
    but the ``lower_only`` cases: its ``lower()`` maps U+0130 to a bare
    ``i`` and gives no final sigma."""
    from pyspark.sql import functions as F

    lower_only = ["İstanbul", "ΣΑΣ ΟΔΟΣ", "ΌΣΟΣ"]
    cases = lower_only + [
        "",
        " ",
        "\x0b",
        "\n\nalpha\tbeta\x0bgamma\r\n",
        "\xa0pre nbsp\xa0post\xa0",
        " line para　ideo",
        "﻿bom lead",
        "mixed\x00ctrl\x01chars\x1f here",
        "é́ composed 世界",
        "  double  spaces  ",
        "\ttab\tlead\t",
        "one",
        "a\fb\rc\nd e",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    got = df.select("t", jvm_tokens(F.col("t")).alias("toks")).collect()
    assert len(got) == len(cases)
    for r in got:
        assert list(r["toks"]) == ascii_tokens(r["t"]), repr(r["t"])
        if r["t"] not in lower_only:
            assert ascii_tokens(r["t"]) == duck_tokens(r["t"]), repr(r["t"])


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet=st.sampled_from(ALPHABET), max_size=60))
def test_shingle_tokens_consistent(text):
    """shingle_py builds its windows over exactly the pinned tokens."""
    from src_to_kb_spark.operators.dedup import shingle_py

    toks = ascii_tokens(text)
    exp = []
    seen = set()
    for i in range(max(0, len(toks) - 2)):
        s = " ".join(toks[i : i + 3])
        if s not in seen:
            seen.add(s)
            exp.append(s)
    assert shingle_py(text) == exp
