"""Bucketed tables: co-located joins without a shuffle.

The reference's layout story is partition pruning (``DESIGN.md:56-63``);
bucketing is the complementary physical design for JOIN keys. Writing both
fact tables bucketed by the join key (``bucketBy`` + ``sortBy``) makes
every subsequent join on that key shuffle-free: Spark matches bucket files
pairwise, so a 100 TB orders x lineitem join reads co-located buckets
instead of exchanging both sides -- the single biggest shuffle a warehouse
workload has, eliminated at write time.

Bucketed output requires the session catalog (``saveAsTable``); tables
land in the session's warehouse dir. Plan property (asserted in
tests/test_storage.py): joining two tables bucketed on the join key shows
ZERO Exchange operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_key: str,
    n_buckets: int = 8,
) -> None:
    """Persist ``df`` as a parquet table bucketed (and sorted) by
    ``bucket_key``. ``n_buckets`` fixes task parallelism for later joins:
    at 100 TB you size it so one bucket ~ one executor-core's memory.
    Distributing on ``bucketBy``'s own hash first writes one file per
    bucket, not one per (input task, bucket)."""
    (
        df.repartition(n_buckets, bucket_key)
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, bucket_key)
        .sortBy(bucket_key)
        .saveAsTable(table_name)
    )


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    key_equals: tuple[str, str],
) -> DataFrame:
    """Join two bucketed tables on their bucket keys. When both sides are
    bucketed with the same bucket count on these keys, the physical plan
    has no Exchange (verified by test + ``plans.introspect``)."""
    lk, rk = key_equals
    left = spark.table(left_table)
    right = spark.table(right_table)
    return left.join(right, left[lk] == right[rk])
