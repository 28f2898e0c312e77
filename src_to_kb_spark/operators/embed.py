"""Embedding stage: chunks → fixed-dim vectors (SURVEY.md §2.5 E1).

The reference calls OpenAI text-embedding-3-large once per document
with all its chunks batched, truncating each chunk to 8000 chars
(kb-generator.js:420-458, P8).  Per the build mandate (public
knowledge, deterministic, no network) we keep the exact *shape* —
chunk → fixed-dim float vector, batched per Arrow batch — and replace
the model with hashed n-gram feature embedding (feature hashing /
"hashing trick"), L2-normalized so cosine similarity is meaningful.

Vectorized: one pandas UDF, numpy per batch, no per-row Python at the
JVM boundary.  Deterministic: md5-seeded buckets and signs.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

EMBED_DIM = 64
MAX_EMBED_CHARS = 8000  # kb-generator.js:434-437 (P8)


def _embed_texts(texts: list[str], dim: int) -> list[list[float]]:
    from ..core.tokenize import ascii_tokens

    out = []
    for t in texts:
        t = (t or "")[:MAX_EMBED_CHARS]
        vec = np.zeros(dim, dtype=np.float64)
        toks = ascii_tokens(t)
        grams = toks + [" ".join(p) for p in zip(toks, toks[1:])]
        for g in grams:
            h = hashlib.md5(g.encode()).digest()
            bucket = int.from_bytes(h[:4], "big") % dim
            sign = 1.0 if h[4] & 1 else -1.0
            vec[bucket] += sign
        n = float(np.linalg.norm(vec))
        if n > 0:
            vec /= n
        out.append([float(x) for x in vec])
    return out


def make_embed_udf(vec_type: str):
    @pandas_udf(f"array<{vec_type}>")
    def embed_udf(content: pd.Series) -> pd.Series:
        return pd.Series(_embed_texts(content.tolist(), EMBED_DIM))

    return embed_udf


def embed_chunks(chunks: DataFrame, vec_type: str = "float") -> DataFrame:
    """chunks → embeddings(chunk_id, embedding) — the S9 sink shape
    ({id, embedding} per chunk, kb-generator.js:477-484).

    ``vec_type='double'`` keeps full float64 — used by the exploded
    oracle-compare projection, where float32 quantization would make
    rounded values engine-dependent.  The component values are exact:
    per-bucket sums are integers and the L2 norm is sqrt of an integer,
    so both engines compute bit-identical doubles.
    """
    udf = make_embed_udf(vec_type)
    return chunks.select("chunk_id", udf(F.col("content")).alias("embedding"))


def oracle_embeddings_sql() -> str:
    """DuckDB twin of the exploded embedding projection
    (chunk_id, bucket, val≠0 rounded 6dp) over a chunker CTE."""
    from ..core.tokenize import RE2_WS_CLASS

    return f"""
, emb_tok0 AS (
  SELECT chunk_id, unnest(string_split_regex(
           lower(substr(content, 1, {MAX_EMBED_CHARS})), '{RE2_WS_CLASS}+')) AS tok,
         generate_subscripts(string_split_regex(
           lower(substr(content, 1, {MAX_EMBED_CHARS})), '{RE2_WS_CLASS}+'), 1) AS i0
  FROM chunks_r
),
emb_tok AS (
  SELECT chunk_id, tok,
         row_number() OVER (PARTITION BY chunk_id ORDER BY i0) AS i
  FROM emb_tok0 WHERE tok <> ''
),
emb_grams AS (
  SELECT chunk_id, tok AS g FROM emb_tok
  UNION ALL
  SELECT a.chunk_id, a.tok || ' ' || b.tok
  FROM emb_tok a
  JOIN emb_tok b ON b.chunk_id = a.chunk_id AND b.i = a.i + 1
),
emb_acc AS (
  SELECT chunk_id,
         (('0x' || substr(md5(g), 1, 8))::UBIGINT % {EMBED_DIM})::INT AS bucket,
         sum(CASE WHEN ('0x' || substr(md5(g), 9, 2))::INT & 1 = 1
                  THEN 1 ELSE -1 END)::DOUBLE AS v
  FROM emb_grams GROUP BY 1, 2
),
emb_norm AS (
  SELECT chunk_id, sqrt(sum(v * v)) AS nn FROM emb_acc GROUP BY 1
)
SELECT a.chunk_id, a.bucket, round(a.v / n.nn, 6) AS val
FROM emb_acc a JOIN emb_norm n USING (chunk_id)
WHERE n.nn > 0 AND round(a.v / n.nn, 6) <> 0
"""
