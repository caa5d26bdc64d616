"""Structured Streaming execution over the events data model.

File source -> event-time watermark -> (windowed agg | dedup-within-watermark
| stateful per-key count) -> memory sink with ``Trigger.AvailableNow``.

Everything is checkpoint-driven and timing-free: tests feed micro-batches by
dropping files and re-running ``availableNow`` against the same checkpoint,
so watermark/late-data behavior is deterministic (SURVEY.md §7.4 risk 3).

Each streaming shape is written once, here. The batch window keys in
``windows.py`` are these same transforms applied to the batch ``events``
table (a batch plan drops ``withWatermark``), so the DuckDB oracle of a
batch key checks the stream transform's semantics and the replay keys
check its incremental execution. The three ``availableNow`` sinks share
one drain (``_drain``); the two upsert sinks share one write-or-MERGE
step (``_write_or_merge``).

Scale notes:
* The file source at 100 TB is the same API over an object-store prefix;
  ``maxFilesPerTrigger`` bounds per-batch work.
* Watermarks bound state: the windowed agg keeps only windows newer than
  (max event time - delay); dedup-within-watermark keeps one key per event
  inside the watermark horizon, not forever.
* ``applyInPandasWithState`` shuffles by key once; state lives in the state
  store (RocksDB on a real cluster), sized by key cardinality.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..storage import current_version, merge_into, write_partitioned

# Schema of the events fixture as written by tests (ts already us-precision).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

WATERMARK_DELAY = "2 days"

# Session gap for session_window; chosen so sf fixtures produce many
# multi-event sessions (events span 30 days, ~1k-100k rows).
SESSION_GAP = "1 hour"


def events_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream over a directory of events parquet files
    (streaming S7; schema must be declared -- no inference on streams)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def _daily_counts(watermarked: DataFrame) -> DataFrame:
    """Count + rounded value sum per (1-day event-time window ``w``,
    event_type) over an already-watermarked stream (or a batch frame).
    Spark aligns windows to the epoch, so a 1-day window start is
    ``date_trunc('day', ts)`` -- the oracle form -- and, under the UTC
    session zone, the calendar date."""
    return watermarked.groupBy(F.window("ts", "1 day").alias("w"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2).cast("double").alias("total_value"),
    )


def tumbling_counts(stream: DataFrame) -> DataFrame:
    """Watermarked tumbling 1-day window counts per event_type (on the
    batch table: ``windows.tumbling_daily``). Append mode emits a window
    only once the watermark passes its end (finalized results, late data
    dropped)."""
    return _daily_counts(stream.withWatermark("ts", WATERMARK_DELAY)).select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


def session_counts(stream: DataFrame) -> DataFrame:
    """Watermarked SESSION-window aggregation per user with a
    ``SESSION_GAP`` inactivity gap (on the batch table:
    ``windows.session_windows``). ``session_window`` merges events whose
    timestamps are < gap apart (half-open [ts, ts+gap) extension), so a
    difference of exactly the gap starts a NEW session -- the oracle's
    gaps-and-islands form uses ``>= gap`` accordingly. Append mode emits
    a session only once the watermark passes its end + gap, i.e. when no
    late event can extend or merge it -- session state (variable-length,
    merge-on-overlap) is the part plain tumbling windows don't exercise.
    The equivalence test flushes the fixture's final sessions with the
    two-sentinel pattern (state cleanup lags one batch) and excludes the
    sentinels' own sessions from the compare."""
    return (
        stream.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def enrich_with_static_dim(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich each streaming event with a BATCH
    dimension table (user profile, reference data). No watermark needed --
    the static side is re-read per micro-batch (so dim updates are picked
    up) and broadcast when small: zero state, zero stream-side shuffle.
    The canonical lookup-enrichment shape; at 100 TB the dim broadcast is
    the same decision as the batch ``j_broadcast``."""
    return stream.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "ts", "event_type", "value", "user_segment"
    )


def dedup_within_watermark(stream: DataFrame) -> DataFrame:
    """Drop duplicate event_ids arriving within the watermark horizon --
    the streaming form of exact dedup (state bounded by the watermark,
    unlike plain ``dropDuplicates`` whose state grows forever)."""
    return stream.withWatermark("ts", WATERMARK_DELAY).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


_STATE_SCHEMA = "n LONG, total DOUBLE"
_COUNT_OUTPUT_SCHEMA = "user_id LONG, n_events LONG, total_value DOUBLE"


def _running_user_counts(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (n, total) = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
    )


def running_user_counts(stream: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user count/sum across batches
    via ``applyInPandasWithState`` -- the escape hatch for semantics the
    built-in windowed aggs can't express (SURVEY.md §2.12 UDF surface)."""
    return (
        stream.withWatermark("ts", WATERMARK_DELAY)
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_user_counts,
            outputStructType=_COUNT_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_MICRO_OUTPUT_SCHEMA = "user_id LONG, n_events LONG, micros LONG"


def _running_user_micros(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (n, micros) = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += len(pdf)
        micros += int(pdf["micros"].sum())
    state.update((n, micros))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "micros": [micros]})


def running_user_micros(stream: DataFrame) -> DataFrame:
    """``running_user_counts`` with the value sum carried as INTEGER
    MICRO-UNITS (``floor(value*1e6 + 0.5)`` -- half-up, identical to SQL
    ROUND for the fixture's non-negative values) instead of a float
    accumulator: integer addition is order-free, so the cross-batch
    cumulative state is bit-reproducible and DuckDB-oracle-able however
    the replay batches or shuffles the rows -- the driver-visible form of
    the applyInPandasWithState surface (windows.stateful_counts).

    The micro-unit conversion runs JVM-side as a codegen'd projection and
    only (user_id, ts, micros) crosses into the Python state function --
    guide §4: pass only the columns the function needs (event_type/props
    strings previously shipped through Arrow per batch for nothing; the
    FLOOR(value*1e6 + 0.5) double arithmetic is IEEE-identical in both
    engines, so the accumulated state is bit-for-bit what the numpy form
    produced). ``ts`` stays in the projection because it carries the
    watermark."""
    return (
        stream.withWatermark("ts", WATERMARK_DELAY)
        .select(
            "user_id",
            "ts",
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("micros"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_user_micros,
            outputStructType=_MICRO_OUTPUT_SCHEMA,
            stateStructType="n LONG, micros LONG",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def top_spenders(stream: DataFrame, k: int = 10) -> DataFrame:
    """Complete-mode leaderboard: per-user event count + value total
    (order-free integer micro-units, so the cross-batch totals are
    bit-reproducible), sorted by total descending with user_id breaking
    exact-micro ties deterministically. Complete mode re-emits EVERY
    group each micro-batch -- the one output mode whose state must hold
    the whole result, so it is only priced for bounded-cardinality
    results (a dashboard top-k keyed by users, never by events); that
    constraint is the reason append/update exist and is exactly what a
    leaderboard accepts."""
    return (
        stream.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")).alias(
                "micros"
            ),
        )
        .orderBy(F.col("micros").desc(), F.col("user_id"))
        .limit(k)
    )


def running_user_counts_tws(stream: DataFrame) -> DataFrame:
    """Running per-user count/sum via ``transformWithStateInPandas`` (the
    Spark 4 successor of ``applyInPandasWithState``: typed state handles --
    ValueState here -- instead of a single opaque tuple, plus timers and
    composite state). Semantics match ``running_user_counts`` exactly; the
    test asserts the two emit identical rows across checkpointed batches.

    Environment gate: the API spawns a Python driver worker that imports
    ``google.protobuf`` (absent in this container), so the parity test
    skips when protobuf is missing -- the operator itself is plain Spark 4
    API and runs wherever protobuf + the RocksDB state-store provider are
    available. At scale RocksDB is also what bounds memory: state lives
    off-heap and spills, sized by key cardinality, not stream length."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    class RunningCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._agg.get() if self._agg.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._agg.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    return (
        stream.withWatermark("ts", WATERMARK_DELAY)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningCounts(),
            outputStructType=_COUNT_OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def purchase_attribution(stream: DataFrame, how: str = "inner") -> DataFrame:
    """Stream-stream interval join: purchases matched to same-user clicks
    within the preceding day (on the batch table:
    ``windows.click_purchase_attribution``; a left outer ``how`` gives
    ``windows.click_purchase_attribution_outer``, whose NULL-purchase rows
    sort first).

    Both sides are watermarked and the join condition gives an event-time
    interval, so state is BOUNDED: a buffered click is evicted once the
    purchase-side watermark passes ``click_ts + 1 day`` -- without the
    interval bound, stream-stream join state grows forever.

    Under ``leftOuter`` matched rows emit as they join; an UNMATCHED
    click's NULL-purchase row emits only when the watermark passes
    ``click_ts + 1 day`` and the click's state is evicted -- the outer
    emission is gated by state cleanup, which is why the interval bound
    is mandatory for outer stream-stream joins (Spark rejects an
    un-bounded one). The global watermark is the MIN over both
    withWatermark sides, so the eviction test drags it forward with
    far-future sentinel events on BOTH sides, flushing every fixture
    click's outer row."""
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("click_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK_DELAY)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("purch_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", WATERMARK_DELAY)
    )
    return clicks.join(
        purchases,
        (F.col("click_user") == F.col("purch_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 DAY")),
        how,
    ).select(
        "click_id",
        "purchase_id",
        F.col("click_user").alias("user_id"),
        "click_ts",
        "purchase_ts",
        F.round("purchase_value", 2).alias("purchase_value"),
    )


def _drain(
    result: DataFrame, on_batch, checkpoint_dir: str, output_mode: str = "append"
) -> None:
    """Run ``result`` to completion over the input available now
    (``Trigger.AvailableNow``), handing each micro-batch to
    ``on_batch(batch_df, batch_id)`` via ``foreachBatch``; offsets and
    state persist in ``checkpoint_dir``."""
    (
        result.writeStream.foreachBatch(on_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _write_or_merge(
    batch: DataFrame,
    batch_id: int,
    path: str,
    key_cols: list[str],
    partition_cols: list[str],
    first_op: str,
) -> None:
    """Land one micro-batch in the versioned table at ``path``: the first
    commit writes it (operation ``"{first_op} b{batch_id}"``), every later
    one is a partition-pruned ``merge_into`` keyed on ``key_cols``. Only
    that first commit names its batch; exactly-once commits (a Delta-style
    ``txn`` of app id + batch id in the commit, ROADMAP item 6) belong
    here."""
    if current_version(path) is None:
        write_partitioned(
            batch,
            path,
            partition_cols,
            operation=f"{first_op} b{batch_id}",
            distribute_by_partition=True,
        )
    else:
        merge_into(batch.sparkSession, path, batch, key_cols, partition_cols)


def stream_upsert_to_table(
    stream: DataFrame,
    path: str,
    key_cols: list[str],
    partition_cols: list[str],
    checkpoint_dir: str,
    order_col: str = "ts",
) -> None:
    """CDC apply: land a stream into the versioned table as one MERGE per
    micro-batch (``foreachBatch`` -> ``storage.merge_into``) -- the
    streaming-upsert pattern Delta users run with
    ``foreachBatch(lambda df, id: deltaTable.merge(df...))``.

    Each batch's merge is a partition-pruned copy-on-write commit, so an
    incremental trickle only ever rewrites the partitions it touches.
    Within a batch, duplicates of a key are collapsed LATEST-WINS by
    ``order_col`` (with a content-hash tiebreak) since a single MERGE
    source must be key-unique -- ``dropDuplicates`` would keep a
    partition-order-dependent row, making replay NON-idempotent (round-3
    review).

    Replay is value-idempotent but not commit-idempotent. Only the first
    commit carries its batch id (``STREAM WRITE b{id}``); later batches
    are plain ``MERGE`` entries. Spark re-runs a batch whose commit-log
    entry is missing at restart, so a crash between our log append and
    Spark's commit MERGEs that batch a second time: the rows come out the
    same (same keys -> same rows), but the log gains a second MERGE
    version and its rewrite. ROADMAP item 6 fixes this with a Delta-style
    ``txn`` (app id, batch id) in ``_write_or_merge``."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy(*key_cols).orderBy(
            F.desc(order_col), F.desc(F.xxhash64(*batch_df.columns))
        )
        batch = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        _write_or_merge(
            batch, batch_id, path, key_cols, partition_cols, "STREAM WRITE"
        )

    _drain(stream, _apply, checkpoint_dir)


def materialize_daily_rollup(
    stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    delay: str = WATERMARK_DELAY,
) -> None:
    """Incremental materialized view: the reference's daily rollup
    (``external_table.py:105-122``) maintained CONTINUOUSLY -- a watermarked
    streaming aggregate whose update-mode emissions upsert into the
    versioned table keyed on (event_date, event_type), partitioned by
    event_date.

    Update mode emits only groups the batch changed, and each emission
    carries the CUMULATIVE aggregate from the state store -- so the merge
    per micro-batch rewrites exactly the partitions (days) with new data,
    and once the stream drains, the table equals the batch rollup (the
    equivalence the test asserts). This is the incremental-ETL shape that
    replaces the reference's full-table overwrite per run: cost scales with
    arriving data, not table size."""
    # Group on window(ts, '1 day'), NOT to_date(ts): only the event-time
    # window column carries the watermark metadata, so this is what lets
    # the state store EVICT closed days -- grouping on a to_date alias
    # keeps the aggregate running but the watermark inert, and state then
    # grows with (days x types) forever (round-3 review).
    # ``delay`` is the lateness horizon: rows later than it are DROPPED and
    # their day's state evicted, so a deployment sets it to the source's
    # max expected disorder; state is then bounded by (horizon x types).
    agg = _daily_counts(stream.withWatermark("ts", delay)).select(
        F.to_date("w.start").alias("event_date"),
        "event_type",
        "n_events",
        "total_value",
    )
    _drain(
        agg,
        lambda batch_df, batch_id: _write_or_merge(
            batch_df,
            batch_id,
            path,
            ["event_date", "event_type"],
            ["event_date"],
            "MATERIALIZE",
        ),
        checkpoint_dir,
        "update",
    )


def run_available_now(
    result: DataFrame,
    checkpoint_dir: str,
    out_dir: str,
    output_mode: str = "append",
) -> DataFrame:
    """Execute a streaming DataFrame to completion over currently-available
    input (``Trigger.AvailableNow``), landing emissions in a parquet dir via
    ``foreachBatch`` (the memory sink cannot recover from a checkpoint;
    foreachBatch can). Returns the emitted rows of THIS run as a batch
    DataFrame. Re-running with the same checkpoint but a fresh ``out_dir``
    continues from stored watermark/agg state -- the deterministic way to
    test late-data behavior."""
    spark = result.sparkSession

    def _write(batch_df: DataFrame, _batch_id: int) -> None:
        # complete mode re-emits the whole result each batch -> keep only the
        # final snapshot; append/update emit deltas -> accumulate them.
        mode = "overwrite" if output_mode == "complete" else "append"
        batch_df.write.mode(mode).parquet(out_dir)

    _drain(result, _write, checkpoint_dir, output_mode)
    # Only a stream that emitted NOTHING leaves no output dir; any other
    # read failure (corrupt part-file, permissions) must surface, not be
    # masked as an empty result (round-3 review).
    if not os.path.isdir(out_dir):
        return spark.createDataFrame([], result.schema)
    return spark.read.parquet(out_dir)
