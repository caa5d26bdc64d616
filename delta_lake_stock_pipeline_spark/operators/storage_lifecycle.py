"""Driver-checkable storage-lifecycle queries: the versioned table's
WRITE -> DELETE -> MERGE -> read/time-travel path expressed as oracle-able
query keys.

The storage layer (``storage/table.py``: the Delta-class emulation the
reference's physical layer implies -- ``maintenance.py:87-171``,
``external_table.py:63-67``) is otherwise pinned only by pytest. These two
keys run the full mutation lifecycle against a scratch copy of the
``orders`` fixture and aggregate the outcome, while the DuckDB oracle
RECONSTRUCTS the same final state relationally from the original parquet --
so MERGE/DELETE/time-travel semantics get the driver's independent
value-hash check, not just our own tests.

Scale shape: every step is the partition-pruned copy-on-write path (only
``o_orderpriority`` partitions containing affected rows are rewritten;
untouched partitions carry by manifest reference), which is exactly how the
same operations behave on a 100 TB table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import artifact, clear_all
from ..session import scratch_mkdtemp
from ..sources.fixtures import load_table
from ..storage import (
    delete_where,
    merge_into,
    optimize,
    read_table,
    snapshot_of,
    write_partitioned,
)

_PART_COLS = ["o_orderpriority"]
_DELETE_COND = "o_totalprice < 20000"
_UPD_MOD = 97

clear_lifecycle_dirs = clear_all  # old name, kept because perfbench/run.py imports it


@artifact
def _mutated_table(spark: SparkSession, sf_dir: str) -> str:
    path = os.path.join(scratch_mkdtemp(prefix="spark_lifecycle_"), "orders")
    orders = load_table(spark, sf_dir, "orders")
    # v0: full write partitioned by priority.
    write_partitioned(orders, path, _PART_COLS)
    # v1: DELETE (partition-pruned copy-on-write).
    delete_where(spark, path, _DELETE_COND, _PART_COLS)
    # v2: MERGE upsert -- keys drawn from the ORIGINAL fixture, so some
    # update rows re-insert orders the DELETE removed (the interesting
    # upsert case), price doubled to make updates visible.
    upd = orders.filter(F.col("o_orderkey") % _UPD_MOD == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    merge_into(spark, path, upd, ["o_orderkey"], _PART_COLS)
    # v3: OPTIMIZE + Z-order on o_custkey -- content-preserving by
    # contract, and because the live read below goes through this
    # version, the driver's value hash independently PROVES compaction
    # changed no row.
    optimize(spark, path, _PART_COLS, zorder_by="o_custkey")
    return path


def _rollup(df: DataFrame) -> DataFrame:
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_price"),
            F.sum("o_orderkey").alias("sum_key"),
            F.min("o_orderdate").alias("first_ts"),
            F.max("o_orderdate").alias("last_ts"),
        )
        .orderBy("o_orderpriority")
    )


def lifecycle_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate of the table's LIVE state after WRITE -> DELETE -> MERGE.
    The oracle rebuilds the identical final relation in SQL: rows surviving
    the delete minus updated keys, plus the update set."""
    return _rollup(read_table(spark, _mutated_table(spark, sf_dir)))


def time_travel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same aggregate over ``versionAsOf 0`` AFTER the mutations --
    proving time travel returns the pre-mutation table bit-for-bit (the
    oracle is the plain aggregate over the original fixture)."""
    return _rollup(read_table(spark, _mutated_table(spark, sf_dir), version=0))


_EVO_MOD = 31
_EVO_BAND = 10000


@artifact
def _evolved_table(spark: SparkSession, sf_dir: str) -> str:
    """Two-commit schema-evolution table: v0 writes ``orders`` under
    ``batch=base``; v1 APPENDS a subset under ``batch=delta`` carrying an
    ADDED ``o_price_band`` column (the reference has no schema evolution
    -- `stock_harvester.py:51-61` is fixed -- so this is the Delta-class
    `mergeSchema` extension). The v1 commit carries v0's partitions by
    manifest reference (``base_snapshot``), so the append rewrites zero
    base bytes -- the 100 TB-honest append shape."""
    path = os.path.join(scratch_mkdtemp(prefix="spark_lifecycle_"), "orders_evo")
    orders = load_table(spark, sf_dir, "orders")
    base = orders.withColumn("batch", F.lit("base"))
    write_partitioned(base, path, ["batch"])
    delta = (
        orders.filter(F.col("o_orderkey") % _EVO_MOD == 0)
        .withColumn("batch", F.lit("delta"))
        .withColumn(
            "o_price_band",
            F.floor(F.col("o_totalprice") / _EVO_BAND).cast("int"),
        )
    )
    write_partitioned(
        delta,
        path,
        ["batch"],
        operation="APPEND",
        base_snapshot=snapshot_of(path, 0),
    )
    return path


def schema_evolution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the LIVE evolved snapshot, which mixes version dirs
    written BEFORE and AFTER the column add -- ``read_table`` resolves the
    mix with ``unionByName(allowMissingColumns=True)`` (Delta's read-time
    schema evolution), so base rows surface NULL ``o_price_band``. The
    oracle reconstructs the same union relationally; the non-null count
    and band sum pin that exactly the appended rows carry the column."""
    df = read_table(spark, _evolved_table(spark, sf_dir))
    return (
        df.groupBy("batch")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            F.count("o_price_band").cast("long").alias("n_banded"),
            F.sum(F.coalesce(F.col("o_price_band"), F.lit(0)))
            .cast("long")
            .alias("sum_band"),
        )
        .orderBy("batch")
    )


@artifact
def _bucketed_db(spark: SparkSession, sf_dir: str) -> str:
    """Once per session+fixture: a catalog database at an explicit temp
    LOCATION (so a vanilla driver session never writes a spark-warehouse
    dir into its cwd) holding orders and lineitem BUCKETED by the join
    key -- the write-time physical design that makes every later join on
    that key shuffle-free."""
    import hashlib as _hashlib

    from ..storage import write_bucketed

    tag = _hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}".encode()
    ).hexdigest()[:10]
    db = f"spark_graft_bucketed_{tag}"
    loc = scratch_mkdtemp(prefix="spark_bucketed_")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    write_bucketed(orders, f"{db}.orders_b", "o_orderkey")
    write_bucketed(li, f"{db}.lineitem_b", "l_orderkey")
    return db


def bucketed_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per priority over the BUCKETED orders x lineitem join --
    the biggest shuffle a warehouse workload has (fact x fact on the
    order key), eliminated at write time: both tables are bucketed+sorted
    on the key, so the sort-merge join reads co-located bucket files with
    ZERO Exchange below the join (plan-gated in tests; the only
    exchanges left are the post-join aggregate's and the presentation
    sort's). The oracle computes the same rollup from the raw tables, so
    the driver independently proves the bucketed layout returns the
    identical relation."""
    db = _bucketed_db(spark, sf_dir)
    # hint("merge"): at fixture scale the optimizer would broadcast the
    # tiny orders side (bypassing the bucketed scan); the hint pins the
    # sort-merge plan a 100 TB fact-fact join gets, query-scoped instead
    # of mutating the session's autoBroadcastJoinThreshold.
    joined = (
        spark.table(f"{db}.orders_b")
        .hint("merge")
        .join(
            spark.table(f"{db}.lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


QUERIES = {
    "st_lifecycle_rollup": lifecycle_rollup,
    "st_time_travel_rollup": time_travel_rollup,
    "st_schema_evolution_rollup": schema_evolution_rollup,
    "st_bucketed_join_rollup": bucketed_join_rollup,
}

ORACLES = {
    "st_lifecycle_rollup": f"""
        WITH upd AS (
            SELECT * REPLACE (o_totalprice * 2 AS o_totalprice)
            FROM orders WHERE o_orderkey % {_UPD_MOD} = 0
        ), kept AS (
            SELECT * FROM orders
            WHERE NOT ({_DELETE_COND})
              AND o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        ), final AS (
            SELECT * FROM kept UNION ALL SELECT * FROM upd
        )
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS total_price,
               CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
               MIN(o_orderdate) AS first_ts,
               MAX(o_orderdate) AS last_ts
        FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    # Bucketed layout is physical only: the oracle computes the same
    # rollup from the raw tables, so a match proves the layout changed
    # nothing.
    "st_bucketed_join_rollup": """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    # The evolved snapshot reconstructed relationally: base rows carry a
    # typed NULL for the added column, appended rows compute it. floor of
    # the same double division is bit-identical on both engines.
    "st_schema_evolution_rollup": f"""
        WITH evo AS (
            SELECT 'base' AS batch, o_orderkey,
                   CAST(NULL AS INTEGER) AS o_price_band
            FROM orders
            UNION ALL
            SELECT 'delta', o_orderkey,
                   CAST(FLOOR(o_totalprice / {_EVO_BAND}) AS INTEGER)
            FROM orders WHERE o_orderkey % {_EVO_MOD} = 0
        )
        SELECT batch,
               COUNT(*) AS n_orders,
               CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
               CAST(COUNT(o_price_band) AS BIGINT) AS n_banded,
               CAST(SUM(COALESCE(o_price_band, 0)) AS BIGINT) AS sum_band
        FROM evo GROUP BY batch ORDER BY batch
    """,
    "st_time_travel_rollup": """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS total_price,
               CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
               MIN(o_orderdate) AS first_ts,
               MAX(o_orderdate) AS last_ts
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
}
