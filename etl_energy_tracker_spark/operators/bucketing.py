"""Bucketed tables for shuffle-free co-located joins.

The lake's fact tables are re-joined on the same keys constantly
(prices ⋈ volumes on (datetime_utc, id_mercado); linking profiles on
entity). Writing both sides bucketed on the join key lets Spark plan a
sort-merge join with NO Exchange on either side — at 100 TB that is
the difference between re-shuffling terabytes per query and reading
co-located buckets.

Bucketing requires the session catalog (``saveAsTable``), which is why
it lives beside — not inside — the path-based lake: bucket metadata
exists only in the catalog."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
) -> None:
    df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols).saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str]
) -> DataFrame:
    """Join two same-bucketed tables; with matching bucket specs the
    physical plan contains no Exchange (verify with .explain)."""
    return spark.table(left_table).join(spark.table(right_table), on)
