"""Join co-location utilities (SURVEY §4-O8).

:func:`write_bucketed` / :func:`bucketed_join_ready` persist both sides
bucketed by the join key so later joins co-locate without a shuffle
(SortMergeJoin with zero Exchange).  Skewed-key salting lives in
operators/skew.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    n_buckets: int = 16,
) -> None:
    """Persist bucketed-by-key so future equi-joins on ``key`` between
    co-bucketed tables need no shuffle."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table_name)
    )


def bucketed_join_ready(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two co-bucketed saved tables; with matching bucket specs the
    plan contains no Exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table), key)
