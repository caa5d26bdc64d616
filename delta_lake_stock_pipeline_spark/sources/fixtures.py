"""Fixture-table sources.

The engine's scan operators (reference SURVEY.md SS2.1 S6/S7 -- read by name /
read by path) over the driver's parquet fixtures at
``/root/testdata/sf{0.001,0.01,0.1}/``.

Scale note: ``spark.read.parquet`` is the vectorized columnar reader; column
pruning and predicate pushdown reach the scan automatically when queries stay
declarative (verify via ``.explain``: ``ReadSchema`` / ``PushedFilters``).
At 100 TB the same call reads a partitioned directory tree; nothing here
assumes single-file inputs.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..artifacts import artifact

# Every driver fixture table (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (S7: read by path).

    ``events.ts`` is parquet TIMESTAMP(NANOS): Spark has no ns-precision
    timestamp type, so the session reads it as long nanos
    (``spark.sql.legacy.parquet.nanosAsLong``) and we truncate to
    us-precision TimestampType here -- the same floor-truncation DuckDB
    applies when it reads the column as TIMESTAMP.
    """
    # The events conf check/pin runs BEFORE the cache lookup (r10 advice):
    # it is cheap driver-side work, and a caller that reset
    # spark.sql.session.timeZone between two events loads must get the
    # same loud re-pin the first load gave -- only the footer-read
    # ``spark.read.parquet`` below is worth caching.
    if name == "events":
        # Runtime-settable, so the read works on ANY session -- including
        # the driver's vanilla SparkSession -- not just ones built by
        # session.py. Without it the scan throws PARQUET_TYPE_ILLEGAL
        # because Spark has no TIMESTAMP(NANOS) type.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Epoch-extracting functions (unix_millis etc.) depend on the session
        # zone; the engine REQUIRES UTC so results match DuckDB's
        # naive-timestamp epoch (session.py pins it; the driver's vanilla
        # session does not). The conf cannot be scoped to the read: Spark
        # resolves the zone when DOWNSTREAM expressions are analyzed, so a
        # save/restore here would silently change later date_trunc/hour
        # results on this table. Make the mutation loud instead of silent
        # when it actually changes an explicitly non-UTC session (r2 advice,
        # fixtures.py:57).
        current_tz = spark.conf.get("spark.sql.session.timeZone")
        if current_tz not in (None, "UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            warnings.warn(
                "load_table('events') pins spark.sql.session.timeZone=UTC "
                f"for the rest of the session (was {current_tz!r}); the "
                "engine's timestamp semantics are UTC-only",
                stacklevel=2,
            )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return _scan(spark, sf_dir, name)


@artifact
def _scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table's DataFrame HANDLE, one per (session, fixture, table).
    This is metadata reuse, not data caching: every ``spark.read.parquet``
    call re-reads the file footer and re-lists on the DRIVER (~150-300
    ms/call measured at local[32]), once per table touched by each of
    ~264 bench keys. The handle is an immutable lazy scan: execution
    still reads the parquet input every time, exactly as a
    catalog-registered table would behave, and fixtures are immutable
    per sf_dir, so it can never go stale within a session."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # Depending on Spark version/conf timing the nanos column surfaces as
        # raw long nanos or as truncated TIMESTAMP_NTZ; normalize both to
        # us-precision TimestampType so downstream operators see ONE type.
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            # NTZ -> LTZ is wall-clock-preserving under the UTC session zone.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture as a temp view so SQL-form queries resolve
    (S6: read by name). Mirrors the reference's catalog registration
    (``external_table.py:83-86`` view fallback) without Delta DDL.
    """
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
