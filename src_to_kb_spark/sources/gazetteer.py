"""Deterministic entity gazetteer (FIXTURES.md §2).

The dictionary side of mention detection and entity linking.  Defined
once as a Python constant and materialized two ways — a Spark
DataFrame (broadcast side of the link join) and a DuckDB ``VALUES``
clause for the oracle — so both engines share one definition.

Shape: (entity_id, canonical_name, alias, norm, prior).  Ambiguity is
built in: every other vocabulary term has TWO candidate entities (a
dominant ``concept:*`` sense and a minor ``alt:*`` sense) so the
candidate-generation + scoring path is exercised, not decorative.
At 100 TB the gazetteer is still dictionary-sized (≤ millions of
rows) — it is always the broadcast side.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

# Vocabulary of the synthetic web-page corpus (observed in
# /root/testdata/*/documents.parquet); 'dup' marks planted near-dups.
GAZ_VOCAB = [
    "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "value", "vector", "window",
]


def _build_rows() -> list[tuple[int, str, str, str, float]]:
    rows = []
    eid = 0
    for i, w in enumerate(sorted(GAZ_VOCAB)):
        eid += 1
        # dominant sense
        prior = round(0.55 + 0.01 * (i % 40), 2)
        rows.append((eid, f"concept:{w}", w, w, prior))
        if i % 2 == 0:
            eid += 1
            # minor sense sharing the same alias -> ambiguity
            rows.append((eid, f"alt:{w}", w, w, round(0.10 + 0.005 * i, 3)))
    return rows


GAZ_ROWS = _build_rows()

GAZ_SCHEMA = (
    "entity_id bigint, canonical_name string, alias string, "
    "norm string, prior double"
)


def gazetteer_df(spark: SparkSession) -> DataFrame:
    # an Arrow table, not a row list: a LocalRelation the JVM collects
    # and broadcasts itself whatever the session's Arrow conf, where a
    # row list becomes a Python RDD whose every scan launches Python
    # worker tasks
    eid, canon, alias, norm, prior = zip(*GAZ_ROWS)
    table = pa.table({
        "entity_id": pa.array(eid, pa.int64()),
        "canonical_name": pa.array(canon, pa.string()),
        "alias": pa.array(alias, pa.string()),
        "norm": pa.array(norm, pa.string()),
        "prior": pa.array(prior, pa.float64()),
    })
    return spark.createDataFrame(table, GAZ_SCHEMA)


def oracle_gazetteer_cte() -> str:
    """DuckDB CTE with the identical rows."""
    values = ",\n    ".join(
        f"({eid}, '{canon}', '{alias}', '{norm}', {prior})"
        for eid, canon, alias, norm, prior in GAZ_ROWS
    )
    # prior cast to DOUBLE: DuckDB types VALUES decimals as DECIMAL,
    # which formats differently from Spark's double (0.60 vs 0.6).
    return (
        "gazetteer AS (\n"
        "  SELECT entity_id::BIGINT AS entity_id, canonical_name, alias,"
        " norm, prior::DOUBLE AS prior\n"
        "  FROM (VALUES\n    "
        + values
        + "\n  ) v(entity_id, canonical_name, alias, norm, prior)\n)"
    )
