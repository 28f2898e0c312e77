"""Explicit skew handling (north_rule): salted repartition on url host.

Common-Crawl host distributions are Zipf — one hot host can own a
double-digit share of rows, so hash-partitioning by host alone leaves
straggler partitions.  ``salted_repartition`` spreads each host across
``salt`` buckets: partition key = (host, xxhash64(url) % salt).  Heavy
map stages (the Arrow cleaner, the chunker) then see balanced
partitions; joins against per-host aggregates use AQE skew-join
(enabled in session.py) for the residual imbalance.  Without
``n_partitions`` the partition count follows the data: AQE coalesces
the shuffle by bytes (session.py), so a sub-MB input stays one
partition, one of up to ``defaultParallelism`` MB gets at most about
one partition per MB, and a larger one at least ``defaultParallelism``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def url_host(url: F.Column) -> F.Column:
    return F.parse_url(url, F.lit("HOST"))


def salted_repartition(
    df: DataFrame,
    url_col: str = "url",
    n_partitions: int | None = None,
    salt: int = 16,
) -> DataFrame:
    """Repartition by (host, xxhash64(url) % salt)."""
    host = url_host(F.col(url_col))
    salt_col = F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt))
    if n_partitions:
        return df.repartition(n_partitions, host, salt_col)
    return df.repartition(host, salt_col)


def host_distribution(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Diagnostic: rows per host, descending — how bad is the skew."""
    return (
        df.groupBy(url_host(F.col(url_col)).alias("host"))
        .agg(F.count("*").alias("n_rows"))
        .orderBy(F.desc("n_rows"))
    )


def partition_balance(df: DataFrame) -> list[int]:
    """Rows per partition after whatever partitioning ``df`` carries."""
    return [
        r["n"]
        for r in df.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .orderBy("p")
        .collect()
    ]
