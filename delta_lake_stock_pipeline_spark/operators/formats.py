"""Text-format source/sink round-trips (SURVEY.md SS2.1 scan-surface
extension): the engine's CSV and JSON-lines connectors, proven lossless.

The reference ingests from a REST API and stores Delta/parquet only; a
general engine also has to interchange with the text formats every data
vendor ships (CSV, JSON-lines, ORC, and Spark 4's built-in XML). Each key
here writes the ``orders`` fixture out through the format's sink (explicit
schema, header on for CSV), reads it back through
the matching source, and aggregates; the DuckDB oracle computes the same
aggregate off the ORIGINAL parquet -- equality proves the round-trip
preserved every value (long, double, date, string with commas/quotes).

Scale notes: both readers are splittable line formats -- at 100 TB the
directory fans out across executors exactly like parquet (minus columnar
pruning: ReadSchema still prunes parsed columns, but every byte is read,
which is WHY the engine's native store is parquet; this surface is for
interchange). Sums are cast DECIMAL(18,6) on both sides: double summation
order differs across engines at the last bit, decimal is exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import artifact, clear_all
from ..session import scratch_mkdtemp
from ..sources.fixtures import load_table

_ORDERS_DDL = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"
)

clear_roundtrip_dirs = clear_all  # old name, kept because perfbench/run.py imports it


@artifact
def _roundtrip_path(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """Write ``orders`` through the ``fmt`` sink once per session+fixture."""
    path = os.path.join(scratch_mkdtemp(prefix=f"spark_{fmt}_rt_"), "orders")
    writer = load_table(spark, sf_dir, "orders").write
    if fmt == "csv":
        writer.option("header", "true").csv(path)
    elif fmt == "orc":
        writer.orc(path)
    elif fmt == "xml":
        writer.format("xml").option("rowTag", "order").save(path)
    else:
        writer.json(path)
    return path


def _orders_aggregate(df: DataFrame) -> DataFrame:
    """Aggregate touching every round-tripped type: long key, double price
    (decimal-cast for cross-engine exactness), timestamp bounds, strings."""
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_price"),
            F.min("o_orderdate").alias("first_ts"),
            F.max("o_orderdate").alias("last_ts"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum(F.length("o_orderstatus")).alias("sum_status_len"),
        )
        .orderBy("o_orderpriority")
    )


def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> CSV sink -> CSV source (explicit schema; header; quoted
    strings survive embedded commas) -> aggregate."""
    path = _roundtrip_path(spark, sf_dir, "csv")
    df = spark.read.schema(_ORDERS_DDL).option("header", "true").csv(path)
    return _orders_aggregate(df)


def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> JSON-lines sink -> JSON source (explicit schema: schema
    inference over 100 TB would be a full extra pass) -> aggregate."""
    path = _roundtrip_path(spark, sf_dir, "json")
    df = spark.read.schema(_ORDERS_DDL).json(path)
    return _orders_aggregate(df)


def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> ORC sink -> ORC source -> aggregate. The third columnar
    format next to parquet: typed, splittable, predicate-pushdown-capable;
    schema travels IN the file so no explicit DDL on read."""
    path = _roundtrip_path(spark, sf_dir, "orc")
    return _orders_aggregate(spark.read.orc(path))


def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> XML sink -> XML source -> aggregate. Spark 4's built-in
    XML connector (the Databricks spark-xml package folded into core):
    one ``<order>`` element per row, values XML-escaped on write and
    unescaped on parse, read back under the same explicit DDL as the CSV
    leg (inference over 100 TB of XML would be a full extra pass).

    Scale note: unlike CSV/JSON a row spans multiple physical lines, but
    the StAX reader still splits the directory by FILE, so a many-file
    feed (how XML data actually arrives: one document per export) fans
    out across executors; a single giant XML file would not split --
    which is a property of the format, stated here so nobody ships one.
    Aggregate equality against the ORIGINAL parquet proves every value
    (long, double, timestamp, strings) survived the markup round-trip."""
    path = _roundtrip_path(spark, sf_dir, "xml")
    df = (
        spark.read.format("xml")
        .option("rowTag", "order")
        # the reader's default TRIMS element text -- silently lossy for
        # padded strings (pinned by test_xml_escapes_markup_characters)
        .option("ignoreSurroundingSpaces", "false")
        .schema(_ORDERS_DDL)
        .load(path)
    )
    return _orders_aggregate(df)


@artifact
def _binary_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write the first 8 documents' utf-8 bytes as individual ``.bin``
    files once per session+fixture -- driver-side, 8 bounded files (a
    fixture rendering of an object-store image/audio bucket; real buckets
    are written by producers, not the engine)."""
    # text IS NOT NULL on BOTH sides (write here, oracle WHERE): a
    # NULL among doc_id<8 would otherwise be written as the literal
    # bytes "None" while the oracle emits NULL md5/octet_length -- a
    # guaranteed driver mismatch instead of fixture-dependent luck.
    rows = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 8) & F.col("text").isNotNull())
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    path = os.path.join(scratch_mkdtemp(prefix="spark_bin_rt_"), "docs")
    os.makedirs(path)
    for r in rows:
        with open(os.path.join(path, f"{int(r[0]):04d}.bin"), "wb") as fh:
            fh.write(r[1].encode("utf-8"))
    return path


def binary_files_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-of-binary-files source (``format("binaryFile")``) -- the
    ingestion path for image/audio/video corpora: one row per FILE with
    (path, modificationTime, length, content), no decoding. The
    multimodal family consumes exactly these opaque bytes; this key
    proves the source itself. Round-trip: doc_id parsed from the file
    name, byte length, and content md5 must all equal what the oracle
    recomputes from the ORIGINAL documents table -- the source returned
    exactly the written bytes.

    Scale: binaryFile splits by FILE (small files bin-packed per
    ``maxPartitionBytes``, one task never splits a file -- the right
    contract for images); selecting only metadata prunes the content
    bytes out of the scan. At 100 TB this is the bronze-layer manifest
    builder: (path, length, hash) without decoding anything."""
    path = _binary_dir(spark, sf_dir)
    df = spark.read.format("binaryFile").load(path)
    return (
        df.select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").cast("long").alias("n_bytes"),
            F.md5("content").alias("content_md5"),
        )
        .orderBy("doc_id")
    )


def python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via Spark 4's Python DataSource API
    (``sources/ticks.py``): the engine-hosted analog of the reference's
    REST ingest (`stock_harvester.py:64-97`), inverted to the distributed
    shape -- Spark plans one InputPartition per ticker and the
    fetch/synthesis iterates in the EXECUTORS, not a driver loop. The
    synthesizer is deterministic integer arithmetic, so the DuckDB oracle
    recomputes the full result from the same formula; equality proves the
    connector's planning, options plumbing, and executor-side iteration
    end to end. (``sf_dir`` unused: a connector demo has no fixture
    input.)

    Bench note: ~5 s/fresh-session is the Python DataSource API's FIXED
    toll (pickled class registration ~1.8 s, a Python-worker round-trip
    for schema/plan ~2.2 s, Python read workers) -- the deliberate
    slow-path demo class, like ``u_py_udf``. Row throughput is not the
    point; the partition-per-ticker planning is."""
    from ..sources.ticks import register_ticks_source

    register_ticks_source(spark)
    return (
        spark.read.format("spark_graft_ticks")
        .option("n", "250")
        .load()
        .orderBy("ticker", "seq")
    )


QUERIES = {
    "src_csv_roundtrip": csv_roundtrip,
    "src_json_roundtrip": json_roundtrip,
    "src_orc_roundtrip": orc_roundtrip,
    "src_xml_roundtrip": xml_roundtrip,
    "src_binary_files": binary_files_source,
    "src_python_datasource": python_datasource,
}

_AGG_SQL = """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price,
           MIN(o_orderdate) AS first_ts,
           MAX(o_orderdate) AS last_ts,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(SUM(length(o_orderstatus)) AS BIGINT) AS sum_status_len
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

ORACLES = {
    "src_csv_roundtrip": _AGG_SQL,
    "src_json_roundtrip": _AGG_SQL,
    "src_orc_roundtrip": _AGG_SQL,
    "src_xml_roundtrip": _AGG_SQL,
    # Recomputed from the ORIGINAL table: equality proves the binaryFile
    # source returned exactly the bytes the files were written with.
    "src_binary_files": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_md5
        FROM documents WHERE doc_id < 8 AND text IS NOT NULL
        ORDER BY doc_id
    """,
    # The connector's deterministic bar formula recomputed relationally:
    # pure BIGINT arithmetic then one double division -- bit-identical on
    # both engines (see sources/ticks.py::tick_row).
    "src_python_datasource": """
        WITH tickers(idx, ticker) AS (
            VALUES (0, 'AAPL'), (1, 'MSFT'), (2, 'GOOG'), (3, 'AMZN')
        ), seqs AS (
            SELECT unnest(range(250)) AS seq
        ), bars AS (
            SELECT t.ticker, s.seq,
                   (s.seq * 2654435761 + t.idx * 97) % 10007 AS h
            FROM tickers t CROSS JOIN seqs s
        )
        SELECT ticker, CAST(seq AS BIGINT) AS seq,
               (10000 + h) / 100.0 AS price,
               CAST(h * 13 % 997 AS BIGINT) AS volume
        FROM bars ORDER BY ticker, seq
    """,
}
