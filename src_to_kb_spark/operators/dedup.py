"""Deduplication family over ``documents``/``pages`` (training-data
pipeline operators; graded first-class alongside SURVEY.md §2).

Hashing is anchored on ``md5`` (hashlib in the Arrow UDFs,
``F.md5``/DuckDB ``md5`` in the JVM and the twins) so all three
engines compute bit-identical values: ONE md5 per shingle/token, with
any further hash functions derived from its 64-bit prefix by universal
multiply-add arithmetic mod 2^64 (numpy uint64 wraparound ≡ DuckDB
UHUGEINT-mod — pinned by the oracle rows and unit tests).

* :func:`band_signature_rows` / :func:`candidate_pairs_from_bands` —
  MinHash + LSH banding: 3-token shingles (lead-window construction),
  K minhashes per doc from the universal family
  h_j(x) = (A_j·x + B_j) mod 2^64 over the shingle's md5-prefix, band
  signatures, pairs sharing any band.
* :func:`verify_candidate_pairs` / :func:`neardup_pairs` — candidates
  verified with true 3-shingle Jaccard ≥ threshold over
  :func:`shingle_hashes`, the JVM expression of which
  :func:`shingle_hashes_py` is the Python reference.
* :func:`simhash_neardup_pairs` — SimHash signatures, pairs within a
  Hamming distance.

Scale shape: shingling, minhashing, and banding are computed in ONE
Arrow-batched pandas UDF pass over the corpus — map-only, no
token-stream shuffle at all.  (hashlib md5 in the Arrow batch is plain
C; the same hashes from :func:`shingle_hashes` in the JVM gave
identical bands at more CPU: 1.92 → 2.35 CPU-s over 600 near-dup
documents, 4.62 → 5.78 over 5,000 unique ones, 4 cores.)  The only
shuffles are the band self-join (bounded bucket sizes — banding exists
precisely to keep buckets tiny at 100 TB, versus the quadratic
brute-force join) and the Jaccard verification, which runs no Python:
it hashes the candidate members' shingles in the JVM (2.21 → 2.12
CPU-s against the pandas UDF it replaced over 723 candidates, 6.99 →
6.97 over 6,124, 4 cores; JVM md5 in a lambda slowed down with more
threads in an earlier all-Catalyst band pass, so more cores are
unmeasured) and counts intersections with ``array_intersect``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.tokenize import JAVA_WS_CLASS, RE2_WS_CLASS, ascii_tokens, jvm_tokens

N_HASHES = 8
N_BANDS = 2  # 4 rows per band


def _minhash_coeffs() -> tuple[list[int], list[int]]:
    """Deterministic multiply-add coefficients for the universal-hash
    minhash family h_j(x) = (A_j·x + B_j) mod 2^64: A_j odd (a
    bijection on Z_2^64, so min is well-defined over the full range),
    both derived from md5 so the DuckDB oracle embeds the SAME literal
    constants."""
    import hashlib as _hl

    a = [
        int.from_bytes(_hl.md5(f"minhash-a-{j}".encode()).digest()[:8], "big")
        | 1
        for j in range(N_HASHES)
    ]
    b = [
        int.from_bytes(_hl.md5(f"minhash-b-{j}".encode()).digest()[:8], "big")
        for j in range(N_HASHES)
    ]
    return a, b


MH_A, MH_B = _minhash_coeffs()

# Version tag of the band-signature scheme.  Committed band stage
# tables are only delta-joinable against bands of the SAME scheme —
# resume logic compares this tag and recomputes the near-dup family
# when it changed (silently joining across schemes would miss pairs).
BANDS_SCHEME = f"mh-uh1-k{N_HASHES}b{N_BANDS}"


def shingle_py(text: str) -> list[str]:
    """Distinct 3-token shingles under the pinned tokenization
    (core/tokenize: ASCII-class split of lowered text, empty tokens
    dropped — identical in the DuckDB twin), preserving
    first-occurrence order."""
    toks = ascii_tokens(text)
    if len(toks) < 3:
        return []
    seen: dict[str, None] = {}
    for i in range(len(toks) - 2):
        seen.setdefault(" ".join(toks[i : i + 3]), None)
    return list(seen)


def minhash_bands_py(sh: list[str]) -> list[str] | None:
    """Band signatures from a shingle list: ONE md5 per shingle (its
    64-bit prefix — the same value the verification pass hashes to),
    then the K minhash functions are the universal family
    h_j(x) = (A_j·x + B_j) mod 2^64 as a single numpy multiply-add-min
    — the md5 count is what dominates the whole near-dup stage at
    corpus scale, and this costs 1 digest per shingle instead of the
    K/2 per shingle of the per-function-salted scheme (measured 3.8×
    on the band pass; the DuckDB twin computes the identical
    arithmetic via UHUGEINT mod 2^64).  Bands concatenate
    rows_per_band decimal minhashes with ','.  None for empty shingle
    sets."""
    import hashlib as _hl

    import numpy as np

    if not sh:
        return None
    hv = np.frombuffer(
        b"".join(_hl.md5(s.encode("utf-8")).digest()[:8] for s in sh),
        dtype=">u8",
    ).astype(np.uint64)
    a = np.array(MH_A, dtype=np.uint64)
    b_ = np.array(MH_B, dtype=np.uint64)
    with np.errstate(over="ignore"):  # mod-2^64 wraparound is the hash
        mins = (hv[:, None] * a + b_).min(axis=0)
    rpb = N_HASHES // N_BANDS
    return [
        ",".join(str(int(m)) for m in mins[b * rpb : (b + 1) * rpb])
        for b in range(N_BANDS)
    ]


def make_bands_udf():
    """pandas UDF: text -> array<string> band signatures only — the
    candidate-generation pass ships 2 short strings per doc through
    Arrow instead of the full shingle set (which is text-sized)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def bands_udf(text: pd.Series) -> pd.Series:
        return text.map(lambda t: minhash_bands_py(shingle_py(t)))

    return bands_udf


def shingle_hashes_py(text: str) -> list[int]:
    """Sorted distinct signed-int64 md5-prefix hashes of the 3-token
    shingles: the Python reference of :func:`shingle_hashes`, which
    verify runs.  ~3× narrower than the shingle strings through
    shuffle, and distinct, so ``size(array_intersect)`` counts an
    intersection exactly.  The DuckDB oracle hashes shingles with the
    SAME md5 prefix, so even a hash collision (≈1e-6 per corpus)
    collapses identically in both engines."""
    import hashlib as _hl

    out = {
        int.from_bytes(_hl.md5(s.encode("utf-8")).digest()[:8], "big")
        for s in shingle_py(text)
    }
    return sorted(v - (1 << 64) if v >= (1 << 63) else v for v in out)


def shingle_hashes(tokens: Column) -> Column:
    """The JVM expression of :func:`shingle_hashes_py` over a projected
    :func:`~..core.tokenize.jvm_tokens` column, unsorted; empty below 3
    tokens.  ``conv(hex, 16, -10)`` is the same two's-complement wrap.
    Inlining the split instead re-runs it per ``tokens[i]`` (20× CPU)."""

    def hv(i):
        shingle = F.concat_ws(" ", tokens[i], tokens[i + 1], tokens[i + 2])
        return F.conv(F.substring(F.md5(shingle), 1, 16), 16, -10).cast("bigint")

    n = F.size(tokens)
    return F.when(
        n >= 3, F.array_distinct(F.transform(F.sequence(F.lit(0), n - 3), hv))
    ).otherwise(F.array().cast("array<bigint>"))


def band_signature_rows(docs: DataFrame) -> DataFrame:
    """(key, band, band_sig) — the LSH banding pass alone (one Arrow
    UDF emitting 2 short strings per doc).  Persisted as its own stage
    table by the pipeline job so a documents DELTA only bands the new
    docs and joins against these committed rows.  Band index =
    position in the bands array; docs with no shingles drop out.

    The null filter sits AFTER an outer explode, on its output: a plain
    explode (or a filter on the bands) makes Spark infer a non-null
    filter on the band UDF's result and push it below the projection,
    evaluating the UDF twice per document."""
    bands_udf = make_bands_udf()
    return docs.select(
        F.col("url").alias("key"),
        F.posexplode_outer(bands_udf(F.col("text"))).alias(
            "band", "band_sig"
        ),
    ).filter(F.col("band").isNotNull())


def candidate_pairs_from_bands(bands: DataFrame) -> DataFrame:
    """Distinct (key_a, key_b), key_a < key_b, sharing ≥1 LSH band of a
    (key, band, band_sig) table.  Both sides of the self-join read one
    lazy local checkpoint of ``bands``: a small side is broadcast, so no
    exchange is shared, and an uncommitted band table would otherwise
    run its UDF pass once per side."""
    bands = bands.localCheckpoint(eager=False)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .select(F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b"))
        .distinct()
    )


def candidate_pairs_involving(
    sub_bands: DataFrame, all_bands: DataFrame
) -> DataFrame:
    """Candidate pairs with ≥1 member in ``sub_bands`` — the DELTA
    candidate join: bands(delta) ⋈ bands(corpus ∪ delta) on the band
    signature.  Pairs among pre-existing docs never appear (they are
    already in the committed pair table); (delta, delta) pairs appear
    once via least/greatest + distinct."""
    a, b = sub_bands.alias("a"), all_bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.key") != F.col("b.key")),
        )
        .select(
            F.least("a.key", "b.key").alias("key_a"),
            F.greatest("a.key", "b.key").alias("key_b"),
        )
        .distinct()
    )


def verify_candidate_pairs(
    docs: DataFrame,
    cands: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact 3-shingle-Jaccard verification of candidate pairs →
    (key_a, key_b, jaccard ≥ threshold), jaccard rounded 6 dp.

    Runs no Python: only candidate members' texts (a left-semi join)
    are tokenized, once, and hashed by :func:`shingle_hashes`.  Both
    hash arrays are distinct, so ``size(array_intersect)`` counts the
    intersection exactly; division + rounding stay in Catalyst so
    rounding (HALF_UP) matches the DuckDB oracle.  The count is bound
    as a lambda argument and the threshold filters that one-element
    array, exploded (outer: no inferred filter) into zero or one row: a
    filter on a ``jaccard`` column would be pushed into the join
    condition with the count inlined, intersecting three times."""
    cands = cands.localCheckpoint(eager=False)
    cand_keys = (
        cands.select(F.col("key_a").alias("key"))
        .union(cands.select(F.col("key_b").alias("key")))
        .distinct()
    )
    # two consumers (a/b sides of the verify join) — lazy localCheckpoint
    # (NOT .cache()) so the shingle hashes are computed once over the
    # candidate members: a cache would pin the ~2 kB/doc hash arrays in
    # executor storage for the session's lifetime, and the resume path
    # calls this per delta batch — each call would leak another pinned
    # copy.  The checkpoint's blocks die with their RDD reference.
    cand_sets = (
        docs.select(F.col("url").alias("key"), F.col("text").alias("_t"))
        .join(cand_keys, "key", "left_semi")
        .select("key", jvm_tokens(F.col("_t")).alias("_toks"))
        .select("key", shingle_hashes(F.col("_toks")).alias("sh"))
        .localCheckpoint(eager=False)
    )
    sets_a = cand_sets.toDF("key_a", "sh_a")
    sets_b = cand_sets.toDF("key_b", "sh_b")
    n_common = F.array(F.size(F.array_intersect("sh_a", "sh_b")))
    jaccard = F.transform(
        n_common, lambda n: F.round(n / (F.size("sh_a") + F.size("sh_b") - n), 6)
    )
    passing = F.filter(jaccard, lambda j: j >= threshold)
    return (
        cands.join(sets_a, "key_a")
        .join(sets_b, "key_b")
        .select("key_a", "key_b", F.explode_outer(passing).alias("jaccard"))
        .filter(F.col("jaccard").isNotNull())
    )


def neardup_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """LSH candidates verified with exact 3-shingle Jaccard ≥ threshold
    → (key_a, key_b, jaccard), jaccard rounded to 6 dp for stable
    cross-engine comparison: blocking (:func:`band_signature_rows`) →
    candidates (:func:`candidate_pairs_from_bands`) → verify
    (:func:`verify_candidate_pairs`), the split the pipeline job
    commits as its ``bands`` and ``neardup_pairs`` stage tables."""
    return verify_candidate_pairs(
        docs, candidate_pairs_from_bands(band_signature_rows(docs)), threshold
    )


# --------------------------- SimHash ---------------------------------------

def simhash_py(text: str) -> int:
    """Deterministic 64-bit SimHash over pinned-tokenization tokens:
    per-bit majority vote of md5-derived token hashes.  Shared by the
    pandas UDF and the pytest twin."""
    import hashlib as _hl

    acc = [0] * 64
    toks = ascii_tokens(text)
    for tok in toks:
        hv = int.from_bytes(_hl.md5(tok.encode()).digest()[:8], "big")
        for b in range(64):
            acc[b] += 1 if (hv >> b) & 1 else -1
    sig = 0
    for b in range(64):
        if acc[b] > 0:
            sig |= 1 << b
    return sig - (1 << 63)  # wrap to signed 64-bit for Spark LongType


def simhash_np(text: str, hash_cache: dict) -> int:
    """Vectorized :func:`simhash_py` twin: md5 per token stays hashlib
    (C), but the 64-bit majority vote is ONE numpy unpack+sum instead
    of a 64-iteration Python loop per token — measured 13.6 s → ~3 s
    over the sf0.1 corpus.  ``hash_cache`` memoizes token → digest
    bytes across calls: web-text vocabularies are Zipfy (distinct
    tokens ≪ token occurrences), so a per-batch cache removes most md5
    calls.  Bit-identical by construction (same integer sums, same
    acc>0 rule); parity of the UDF with simhash_py is pinned in
    tests/test_misc_ops.py."""
    import hashlib as _hl

    import numpy as np

    toks = ascii_tokens(text)
    if not toks:
        return -(1 << 63)
    parts = []
    for t in toks:
        d = hash_cache.get(t)
        if d is None:
            d = _hl.md5(t.encode()).digest()[:8]
            hash_cache[t] = d
        parts.append(d)
    digest = b"".join(parts)
    hv = np.frombuffer(digest, dtype=">u8").astype(np.uint64)
    bits = (hv[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
    acc = (2 * bits.astype(np.int64) - 1).sum(axis=0)
    sig = int(
        ((acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum()
    )
    return sig - (1 << 63)


def make_simhash_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def simhash_udf(text: pd.Series) -> pd.Series:
        cache: dict = {}  # per-batch token→digest memo (Zipf vocab)
        return text.map(lambda t: simhash_np(t or "", cache))

    return simhash_udf


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(key, simhash) — Arrow-batched; map-only."""
    udf = make_simhash_udf()
    return docs.select(
        F.col("url").alias("key"), udf(F.col("text")).alias("simhash")
    )


def simhash_blocks(max_hamming: int) -> list[tuple[int, int]]:
    """(bit_offset, n_bits) for ``max_hamming + 1`` blocks covering the
    64-bit signature as evenly as possible.  Pigeonhole: ≤ k differing
    bits spread over k+1 blocks leave at least one block untouched, so
    joining on block equality guarantees candidate generation for every
    true pair with hamming ≤ ``max_hamming`` — the parameters and the
    recall guarantee move together."""
    n = max_hamming + 1
    if not 1 <= n <= 64:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    width, extra = divmod(64, n)
    out, off = [], 0
    for i in range(n):
        w = width + (1 if i < extra else 0)
        out.append((off, w))
        off += w
    return out


def simhash_neardup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit signature into
    ``max_hamming + 1`` blocks (see :func:`simhash_blocks` for the
    pigeonhole guarantee), self-join on (block_idx, block), verify
    hamming via bit_count.

    The block join is the LSH trick again — candidates per block are
    tiny, no quadratic pass at scale.

    Token-less documents (null / empty / all-whitespace text — routine
    post-extract) are EXCLUDED from candidacy: they would all share
    the identical zero signature and emit all-pairs at hamming 0 — a
    quadratic blowup between unrelated urls that the MinHash path
    already avoids by dropping null-band docs (:func:`band_signature_rows`).
    The DuckDB twin applies the same exclusion (inner join on the
    token aggregate).
    """
    blocks_spec = simhash_blocks(max_hamming)
    has_token = "[^" + JAVA_WS_CLASS[1:]  # any char outside the ws class
    docs = docs.filter(F.col("text").isNotNull() & F.col("text").rlike(has_token))
    sigs = simhash_signatures(docs)
    blocks = sigs.select(
        "key",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned(F.col("simhash"), off)
                        # w=64 (max_hamming=0): 2^64-1 overflows LongType;
                        # signed -1 is the same all-ones bit pattern
                        .bitwiseAND(F.lit((1 << w) - 1 if w < 64 else -1))
                        .alias("val"),
                    )
                    for i, (off, w) in enumerate(blocks_spec)
                ]
            )
        ).alias("b"),
    ).select("key", "simhash", F.col("b.blk").alias("blk"), F.col("b.val").alias("val"))
    # lazy checkpoint: the self-join's two sides share ONE simhash
    # Arrow pass (and one upstream extract) instead of recomputing the
    # whole lineage per side — same move as embedding_neardup_pairs
    blocks = blocks.localCheckpoint(eager=False)
    a, b = blocks.alias("a"), blocks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .select(
            F.col("a.key").alias("key_a"),
            F.col("b.key").alias("key_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("key_a", "key_b", "hamming")
    )


# --------------------------- DuckDB twins ----------------------------------

def oracle_shingles_cte() -> str:
    # Pinned tokenization (core/tokenize): explicit ASCII class, no
    # trim, empty tokens dropped — identical to shingle_py.
    return f"""
ptok0 AS (
  SELECT url AS key,
         unnest(string_split_regex(lower(text), '{RE2_WS_CLASS}+')) AS token,
         generate_subscripts(string_split_regex(lower(text), '{RE2_WS_CLASS}+'), 1) AS pos
  FROM pages
),
ptok AS (
  SELECT * FROM ptok0 WHERE token <> ''
),
shingles AS (
  SELECT DISTINCT key, token || ' ' || t1 || ' ' || t2 AS shingle
  FROM (
    SELECT key, token,
           lead(token, 1) OVER (PARTITION BY key ORDER BY pos) AS t1,
           lead(token, 2) OVER (PARTITION BY key ORDER BY pos) AS t2
    FROM ptok
  ) WHERE t2 IS NOT NULL
)"""


def oracle_minhash_ctes() -> str:
    """Universal-hash minhash twin of :func:`minhash_bands_py`: the
    shingle's md5-prefix UBIGINT through (A_j·x + B_j) mod 2^64 in
    UHUGEINT arithmetic — bit-identical to the numpy uint64
    wraparound."""
    rows_per_band = N_HASHES // N_BANDS
    hv = "(('0x' || substr(md5(shingle), 1, 16))::UBIGINT)::UHUGEINT"
    mins = ",\n         ".join(
        f"min((({MH_A[i]}::UHUGEINT * {hv} + {MH_B[i]}::UHUGEINT)"
        f" % 18446744073709551616::UHUGEINT)::UBIGINT)::VARCHAR AS h{i}"
        for i in range(N_HASHES)
    )
    band_rows = " UNION ALL ".join(
        "SELECT key, {b} AS band, {sig} AS band_sig FROM sigs".format(
            b=b,
            sig=" || ',' || ".join(
                f"h{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(N_BANDS)
    )
    return f"""
sigs AS (
  SELECT key, {mins}
  FROM shingles GROUP BY key
),
bands AS (
  {band_rows}
),
cand_pairs AS (
  SELECT DISTINCT a.key AS key_a, b.key AS key_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.key < b.key
)"""


def oracle_neardup_sql(threshold: float = 0.8) -> str:
    """Final SELECT over the shingle/minhash CTEs (append after them).

    Verification joins/counts on the md5-prefix HASH of the shingle —
    the same 64-bit value the Spark verify pass uses — so both engines
    collapse any (astronomically rare) hash collision identically.
    """
    return f"""
SELECT key_a, key_b,
       round(n_common::DOUBLE / (n_a + n_b - n_common), 6) AS jaccard
FROM (
  SELECT c.key_a, c.key_b, count(DISTINCT substr(md5(sa.shingle), 1, 16))
           AS n_common
  FROM cand_pairs c
  JOIN shingles sa ON sa.key = c.key_a
  JOIN shingles sb ON sb.key = c.key_b
   AND substr(md5(sb.shingle), 1, 16) = substr(md5(sa.shingle), 1, 16)
  GROUP BY 1, 2
) x
JOIN (SELECT key, count(DISTINCT substr(md5(shingle), 1, 16)) n_a
      FROM shingles GROUP BY 1) za ON za.key = x.key_a
JOIN (SELECT key, count(DISTINCT substr(md5(shingle), 1, 16)) n_b
      FROM shingles GROUP BY 1) zb ON zb.key = x.key_b
WHERE round(n_common::DOUBLE / (n_a + n_b - n_common), 6) >= {threshold}
"""


def oracle_simhash_sql(max_hamming: int = 3) -> str:
    """DuckDB twin of :func:`simhash_neardup_pairs` (append after a
    CTE defining ``pages(url, text, ...)``).

    The signed-long wrap in :func:`simhash_py` (``sig - 2**63``) is,
    bit-pattern-wise, just a flip of bit 63 — applied uniformly it
    preserves block equality and XOR hamming, so the oracle works on
    ``xor(raw, 1<<63)`` as UBIGINT throughout.
    """
    blocks_spec = simhash_blocks(max_hamming)
    block_rows = ", ".join(
        f"({i}, {off}, {(1 << w) - 1})" for i, (off, w) in enumerate(blocks_spec)
    )
    return f"""
, tok AS (
  SELECT url AS key,
         unnest(string_split_regex(lower(text), '{RE2_WS_CLASS}+')) AS token
  FROM pages
),
th AS (
  SELECT key, ('0x' || substr(md5(token), 1, 16))::UBIGINT AS hv
  FROM tok WHERE token <> ''
),
bits AS (
  SELECT key, bb.b AS b,
         sum(CASE WHEN (hv >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) bb
  GROUP BY 1, 2
),
raw AS (
  SELECT key,
         sum(CASE WHEN acc > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS r
  FROM bits GROUP BY key
),
sigs AS (
  -- INNER join: token-less docs (no rows in th/raw) are excluded
  -- from candidacy, matching the engine's has-token filter
  SELECT p.url AS key,
         xor(r.r::UBIGINT, (1::HUGEINT << 63)::UBIGINT) AS flip
  FROM pages p JOIN raw r ON r.key = p.url
),
blocks AS (
  SELECT key, flip, bs.blk, (flip >> bs.off) & bs.mask::UBIGINT AS val
  FROM sigs CROSS JOIN (
    SELECT * FROM (VALUES {block_rows}) AS t(blk, off, mask)
  ) bs
),
sim_cands AS (
  SELECT DISTINCT a.key AS key_a, b.key AS key_b,
                  a.flip AS fa, b.flip AS fb
  FROM blocks a JOIN blocks b
    ON a.blk = b.blk AND a.val = b.val AND a.key < b.key
)
SELECT key_a, key_b, bit_count(xor(fa, fb))::INT AS hamming
FROM sim_cands
WHERE bit_count(xor(fa, fb)) <= {max_hamming}
"""
