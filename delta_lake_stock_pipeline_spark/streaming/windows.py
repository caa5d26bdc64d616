"""Event-time window aggregations over ``events`` (batch form) and the
executed streaming replays.

The reference has no streaming surface (SURVEY.md §2.12); this is the
north-star extension. A streaming query is the batch query run
incrementally, so each batch window key here IS its stream transform from
``runtime.py`` applied to the batch ``events`` table (Catalyst drops
``withWatermark`` from a batch plan): proving the batch key against a
DuckDB oracle proves the transform's window *semantics*, and the replay
keys prove its streaming *execution* (watermarks, state, availableNow)
against the same oracle. ``sliding_2d_1d`` has no stream twin.

Scale design: a tumbling/sliding window agg is a plain hash aggregate keyed
by (window, group) -- one shuffle, map-side partial agg, no state explosion.
Session windows shuffle by the session key (user_id) and merge-sort within;
at 100 TB the key cardinality (users) bounds state, not event count.
"""

from __future__ import annotations

import contextlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import artifact, clear_all
from ..session import scratch_mkdtemp
from ..sources.fixtures import load_table
from . import runtime


@contextlib.contextmanager
def _replay_shuffle_partitions(spark: SparkSession, n: int = 4):
    """Pin shuffle partitions for an executed-streaming replay. Stateful
    streaming cost is (state stores x micro-batches): one store per
    shuffle partition commits per batch, and the per-batch MERGE/dedup
    passes pay per-partition task overhead the same way, so the
    batch-join default (16) buys nothing at replay scale (A/B: dedup
    11.7 -> 5.8 s, mv 41.4 -> 31.7 s, cdc 5.1 -> 3.8 s at sf0.01;
    sessions 11.3 -> 5.2 s at sf0.001; identical committed rows). A real
    deployment sizes state partitions to active-key cardinality. The
    conf is checkpoint-pinned at first run, which is why it must be
    set BEFORE the stream starts; restored after."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

def tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows: count + rounded sum per
    (window, event_type) -- ``runtime.tumbling_counts`` on the batch
    table."""
    return runtime.tumbling_counts(load_table(spark, sf_dir, "events")).orderBy(
        "window_start", "event_type"
    )


def sliding_2d_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows, 2-day width / 1-day slide: every event lands in
    exactly two windows (start = trunc(ts) and trunc(ts) - 1 day). The
    oracle materializes that two-window membership as a UNION ALL."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count("value"), 2).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "avg_value")
        .orderBy("window_start")
    )


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user with a 1-hour inactivity gap: session start,
    event count, rounded value sum -- ``runtime.session_counts`` on the
    batch table."""
    return runtime.session_counts(load_table(spark, sf_dir, "events")).orderBy(
        "user_id", "session_start"
    )


def click_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: every purchase attributed to each click by the same
    user in the preceding day -- ``runtime.purchase_attribution`` on the
    batch table. Batch form proves the join semantics against the oracle;
    ``s_stream_join`` proves the streaming execution (watermarked sides,
    click state evicted once it can never match again)."""
    return runtime.purchase_attribution(load_table(spark, sf_dir, "events")).orderBy(
        "click_id", "purchase_id"
    )


def click_purchase_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER interval join: every click with its attributed purchases
    in the following day, PLUS unconverted clicks as NULL-purchase rows --
    the conversion-funnel view the inner form drops;
    ``runtime.purchase_attribution(..., "left_outer")`` on the batch table.
    In streaming (``s_stream_join_outer``) the outer rows are emitted only
    at state eviction, so the same interval condition that bounds the join
    state also gates the NULL emission. Same plan class as the inner form:
    one shuffle per side on user_id, the range condition evaluated as the
    join residual."""
    return runtime.purchase_attribution(
        load_table(spark, sf_dir, "events"), "left_outer"
    ).orderBy("click_id", F.asc_nulls_first("purchase_id"))


clear_mv_dirs = clear_all  # old name, kept because perfbench/run.py imports it


def _write_ordered_files(dfs, src: str) -> None:
    """Write each batch as one parquet file in ``src`` with EXPLICIT
    ascending mtimes: the file stream source admits files in
    modification-time order, and an ordered replay is only meaningful if
    batch order follows log order -- two same-millisecond parquet writes
    would otherwise race. The fixed epoch keeps the replay deterministic
    across hosts.

    Entries may be DataFrames (one coalesced write job each) or PATHS to
    already-written single-file parquet batches (the session tile cache,
    ``_tile_files``): a path is copied byte-for-byte -- zero Spark jobs --
    which is what lets ten replay keys share one tile materialization
    (guide §1.2: remove redundant passes before tuning anything).

    A call on a ``src`` that already holds parquet files continues after
    them: numbering and stamps start at the next slot, and the files
    already there keep their stamps -- how a restart lands a later batch
    behind the ones a previous query consumed."""
    os.makedirs(src, exist_ok=True)
    existing = os.listdir(src)
    stamped = {os.path.join(src, name) for name in existing}
    first = sum(name.endswith(".parquet") for name in existing)
    for i, df in enumerate(dfs, first):
        if isinstance(df, str):
            dst = os.path.join(src, f"part-{i:05d}-tile.parquet")
            shutil.copy(df, dst)
        else:
            df.coalesce(1).write.mode("append").parquet(src)
        t = 1_000_000_000 + i * 60
        for name in os.listdir(src):
            p = os.path.join(src, name)
            if p not in stamped and os.path.isfile(p):
                os.utime(p, (t, t))
                stamped.add(p)


def _time_tiles(df: DataFrame, order_cols, n: int = 3) -> list[DataFrame]:
    """``df`` split into ``n`` contiguous tiles of the ``order_cols``
    order (the CDC-log shape: tile i+1 holds strictly-later rows).
    The tiled frame is localCheckpointed ONCE: each returned tile is a
    filter over the materialized split, not a re-run of the global
    ntile sort -- writing the n tile files previously re-sorted the
    whole input n times (measured: the 5-file session replay spent
    15.1 s in writes, ~6 s after this)."""
    from pyspark.sql import Window

    tiled = df.withColumn(
        "__tile", F.ntile(n).over(Window.orderBy(*order_cols))
    ).localCheckpoint()
    return [
        tiled.filter(F.col("__tile") == i + 1).drop("__tile")
        for i in range(n)
    ]


def _write_ordered_batches(df: DataFrame, src: str, order_cols, n: int = 3):
    """Time-ordered micro-batch files for a plain (duplicate-free) replay."""
    _write_ordered_files(_time_tiles(df, order_cols, n), src)


# Artifacts shared by every replay key. Before round 10's optimization
# pass, EVERY replay key re-ran the global ntile sort, re-wrote the same
# three tile files, and re-collected min/max(ts) -- ~10 keys x (1 sort + 3
# write jobs + a collect) of identical work per bench sweep (guide
# §1.2/§2.4).
@artifact
def _tiles_cached(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """The canonical (ts, event_id) time tiles of the events fixture,
    localCheckpointed once per (session, fixture)."""
    return _time_tiles(load_table(spark, sf_dir, "events"), ["ts", "event_id"])


@artifact(
    setup="stream_tiles",
    used_by=(
        "s_cdc_upsert",
        "s_stream_dedup",
        "s_stream_sessions",
        "s_stream_join",
        "s_stream_late",
        "s_stateful_counts",
        "s_stream_enrich",
        "s_stream_topk",
        "s_stream_restart",
        "s_stream_join_outer",
    ),
)
def _tile_files(spark: SparkSession, sf_dir: str) -> list[str]:
    """Single-file parquet materializations of the canonical tiles,
    written once per application and fixture and COPIED byte-for-byte into
    each replay's source dir by ``_write_ordered_files`` -- the replay
    input is identical to a per-key write, minus ~3 write jobs per key."""
    scratch = scratch_mkdtemp(prefix="spark_tile_files_")
    paths = []
    for i, tile in enumerate(_tiles_cached(spark, sf_dir)):
        sub = os.path.join(scratch, f"t{i}")
        tile.coalesce(1).write.parquet(sub)
        part = next(f for f in sorted(os.listdir(sub)) if f.endswith(".parquet"))
        paths.append(os.path.join(sub, part))
    return paths


@artifact
def _events_span(spark: SparkSession, sf_dir: str) -> tuple:
    """(min ts, max ts) of the events fixture, collected once per
    application and fixture -- sentinel placement metadata, not a data
    path."""
    return tuple(
        load_table(spark, sf_dir, "events")
        .agg(F.min("ts"), F.max("ts"))
        .collect()[0]
    )


def _replay(
    spark: SparkSession, prefix: str, batches, query, output_mode: str = "append"
) -> str:
    """Replay ``batches`` (``_write_ordered_files`` entries) as time-ordered
    micro-batch files in a fresh scratch dir, run ``query`` over the file
    stream to completion, and return the dir its emissions landed in."""
    scratch = scratch_mkdtemp(prefix=prefix)
    src, out, ckpt = (os.path.join(scratch, d) for d in ("src", "out", "ckpt"))
    _write_ordered_files(batches, src)
    with _replay_shuffle_partitions(spark):
        runtime.run_available_now(
            query(runtime.events_stream(spark, src)), ckpt, out, output_mode
        )
    return out


def _sentinels(spark: SparkSession, max_ts, types=("click",)) -> list[DataFrame]:
    """Two far-future single-event batches (+40d, +80d past ``max_ts``), one
    row per event type in ``types``, each a distinct synthetic user that
    joins nothing: they drag the watermark forward so the final real
    windows flush (state cleanup lags one batch, so the first sentinel
    needs the second to finalize)."""
    import datetime

    return [
        _local_events(
            spark,
            [
                (
                    10**9 + 10 * i + j,
                    max_ts + datetime.timedelta(days=days),
                    10**9 + 10 * i + j,
                    etype,
                    0.0,
                    "{}",
                )
                for j, etype in enumerate(types)
            ],
        )
        for i, days in enumerate([40, 80])
    ]


_EVENT_COL_TYPES = (
    ("event_id", "bigint"),
    ("ts", "timestamp"),
    ("user_id", "bigint"),
    ("event_type", "string"),
    ("value", "double"),
    ("props", "string"),
)


def _local_events(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """JVM-local events relation: ``range(1)`` + one literal column per
    field, one union branch per row. A pickled-RDD ``createDataFrame``
    relation costs ~4.5 s PER WRITE JOB at local[32] in Python-worker
    round-trips (measured, round-10 optimization probe: 1-row sentinel
    parquet writes read 4.6-5.6 s vs 0.3 s for this form -- guide §4's
    boundary tax in its purest form); literal rows never leave the JVM.
    Values are unchanged: same epoch-us timestamps, same doubles, same
    strings, cast to the exact EVENTS_SCHEMA column types."""
    dfs = [
        spark.range(1).select(
            *[
                F.lit(v).cast(t).alias(c)
                for v, (c, t) in zip(row, _EVENT_COL_TYPES)
            ]
        )
        for row in rows
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized view, EXECUTED: the fixture events replayed
    as three micro-batches through the real streaming maintenance path
    (``runtime.materialize_daily_rollup``: watermarked update-mode
    streaming aggregate -> one partition-pruned MERGE per batch into the
    versioned table), then the final committed table returned -- so the
    driver's value hash independently proves the incremental refresh
    machinery converges to EXACTLY the batch rollup the oracle computes
    (n_events + total_value per (event_date, event_type)).

    The replay uses a full-span lateness horizon: the batch split is by
    event_id, not time, so rows of any age arrive in every micro-batch and
    the admitted-row set must be the whole corpus for batch equality to BE
    the invariant under proof (a deployment instead sizes the horizon to
    its source's max disorder; the DROP-and-evict behavior at a finite
    horizon is pinned by tests/test_streaming.py's watermark tests).
    Scale shape: per-refresh cost is the arriving batch's aggregate plus a
    MERGE that rewrites only the (event_date) partitions the batch
    touched -- table size never enters -- and update mode emits only
    changed groups, each carrying the cumulative value from the state
    store. Runs once per (session, fixture); the history manifest records
    the expected MATERIALIZE + MERGE commit per batch."""
    from ..storage import read_table

    return (
        read_table(spark, _mv_table(spark, sf_dir))
        .select("event_date", "event_type", "n_events", "total_value")
        .orderBy("event_date", "event_type")
    )


@artifact
def _mv_table(spark: SparkSession, sf_dir: str) -> str:
    """The committed ``incremental_mv`` table."""
    scratch = scratch_mkdtemp(prefix="spark_incr_mv_")
    src, tbl, ckpt = (os.path.join(scratch, d) for d in ("src", "tbl", "ckpt"))
    events = load_table(spark, sf_dir, "events")
    _write_ordered_files(
        [events.filter(F.col("event_id") % 3 == i) for i in range(3)], src
    )
    with _replay_shuffle_partitions(spark):
        runtime.materialize_daily_rollup(
            runtime.events_stream(spark, src), tbl, ckpt, delay="3650 days"
        )
    return tbl


def cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply, EXECUTED: the fixture events replayed as three
    TIME-ORDERED micro-batches (a CDC log is ordered; mtime-stamped files
    pin the replay order) through the real streaming upsert sink
    (``runtime.stream_upsert_to_table``: within-batch latest-wins collapse
    -> one partition-pruned MERGE per batch keyed on user_id), then the
    final committed table returned. The driver's value hash proves the
    sink lands EXACTLY the batch keep-latest-per-user view (d_keep_latest
    semantics, same oracle shape) -- most users update across all three
    batches, so the MERGE's matched-update path does real cross-batch
    work, including key moves between event_type partitions (a user's
    latest event type changes), which merge_into deletes from the old
    partition rather than orphaning.

    Scale shape: per-batch cost is the batch's own dedup window plus a
    MERGE rewriting only partitions holding affected keys -- the
    incremental trickle never pays table size. Determinism: the fixture
    has no (user_id, ts) ties at any SF (checked), so latest-wins is a
    total order on both engines. Runs once per (session, fixture)."""
    from ..storage import read_table

    return (
        read_table(spark, _cdc_table(spark, sf_dir))
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("user_id")
    )


@artifact
def _cdc_table(spark: SparkSession, sf_dir: str) -> str:
    """The committed ``cdc_upsert`` table."""
    scratch = scratch_mkdtemp(prefix="spark_cdc_upsert_")
    src, tbl, ckpt = (os.path.join(scratch, d) for d in ("src", "tbl", "ckpt"))
    _write_ordered_files(_tile_files(spark, sf_dir), src)
    with _replay_shuffle_partitions(spark):
        runtime.stream_upsert_to_table(
            runtime.events_stream(spark, src),
            tbl,
            key_cols=["user_id"],
            partition_cols=["event_type"],
            checkpoint_dir=ckpt,
            order_col="ts",
        )
    return tbl


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming dedup, EXECUTED: the fixture events replayed
    as three time-ordered micro-batches where batches 2 and 3 carry
    INJECTED exact duplicates of every 5th batch-1 row (the at-least-once
    redelivery shape), run through the real bounded-state path
    (``runtime.dedup_within_watermark``:
    ``dropDuplicatesWithinWatermark(["event_id"])`` under the 2-day
    horizon). The emitted row set must equal the original events table
    EXACTLY -- each duplicate is excluded either by dedup state (its key
    is newer than the watermark, so the state entry is live) or by the
    watermark's late filter (older than the horizon -- and then its
    first copy was already emitted in batch 1), so the oracle is simply
    the input relation and any leak or loss flips the driver hash.

    Scale shape: state is bounded by the lateness horizon x arrival
    rate, NOT the stream's history -- the property that distinguishes
    this from plain ``dropDuplicates`` at 100 TB. Runs once per
    (session, fixture); emissions land in parquet via foreachBatch."""
    return (
        spark.read.parquet(_dedup_out(spark, sf_dir))
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("event_id")
    )


@artifact
def _dedup_out(spark: SparkSession, sf_dir: str) -> str:
    b1, b2, b3 = _tiles_cached(spark, sf_dir)
    f1, _f2, _f3 = _tile_files(spark, sf_dir)
    dups = b1.filter(F.col("event_id") % 5 == 0)
    return _replay(
        spark,
        "spark_stream_dedup_",
        [f1, b2.unionByName(dups), b3.unionByName(dups)],
        runtime.dedup_within_watermark,
    )


def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization, EXECUTED: the fixture events replayed as
    three TIME-ORDERED micro-batches through the real watermarked
    ``session_window`` path (``runtime.session_counts``: merge-on-overlap
    session state, append mode -- a session emits only once the watermark
    passes its end + gap, so sessions SPANNING batch boundaries are held
    open and merged across batches before finalizing), flushed with the
    two-sentinel pattern (+40d/+80d single-row batches; state cleanup
    lags one batch, so the first sentinel needs the second to finalize
    under -- the test_streaming equivalence test's shape, here made
    driver-visible). The committed emissions, sentinels excluded, must
    equal the batch session aggregation EXACTLY -- same oracle as
    ``s_session_window``, so the driver's value hash proves the
    stateful merge path converges to the batch answer.

    Scale shape: session state is bounded by (lateness horizon x active
    users), never stream history; each append emission is final (no
    retractions downstream). The one driver-side scalar is max(ts) for
    sentinel placement -- a replay-harness parameter, not data."""
    return (
        spark.read.parquet(_sessions_out(spark, sf_dir))
        .filter(F.col("user_id") < 10**9)
        .select("user_id", "session_start", "n_events", "total_value")
        .orderBy("user_id", "session_start")
    )


@artifact
def _sessions_out(spark: SparkSession, sf_dir: str) -> str:
    _, max_ts = _events_span(spark, sf_dir)
    return _replay(
        spark,
        "spark_stream_sess_",
        list(_tile_files(spark, sf_dir)) + _sentinels(spark, max_ts),
        runtime.session_counts,
    )


def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, EXECUTED: the fixture events replayed
    as three TIME-ORDERED micro-batches through the real watermarked
    self-join path (``runtime.purchase_attribution``: both sides
    watermarked, the 1-day interval condition bounding the buffered-click
    state), emissions committed via foreachBatch. A click meeting its
    purchase in a LATER batch does real cross-batch state work: the click
    is buffered, survives eviction (the 2-day watermark delay exceeds the
    1-day join interval, and time-ordered tiles mean no input is ever
    late), and matches eagerly when the purchase arrives. The committed
    pairs must equal the batch interval join EXACTLY -- same oracle as
    ``s_interval_join``, so the driver's value hash proves the join-state
    buffering/eviction machinery loses and invents nothing.

    Scale shape: join state is bounded by (interval + watermark delay) x
    arrival rate per side -- never stream history; that bound is the whole
    reason the interval condition is mandatory at 100 TB."""
    return (
        spark.read.parquet(_join_out(spark, sf_dir))
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            "click_ts",
            "purchase_ts",
            "purchase_value",
        )
        .orderBy("click_id", "purchase_id")
    )


@artifact
def _join_out(spark: SparkSession, sf_dir: str) -> str:
    return _replay(
        spark,
        "spark_stream_join_",
        _tile_files(spark, sf_dir),
        runtime.purchase_attribution,
    )


def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data DROP, EXECUTED: the fixture events replayed as
    three time-ordered micro-batches where batch 3 also carries INJECTED
    rows stamped with the corpus's OLDEST timestamp -- by then far behind
    the watermark (the in-operator guard asserts their day-window closed
    before batch 3's watermark), so the append-mode tumbling aggregate
    (``runtime.tumbling_counts``) must silently drop every one of them
    rather than re-open the already-finalized day. Two far-future
    sentinel batches then drag the watermark forward to flush the final
    real windows (state cleanup lags one batch -- the two-sentinel
    pattern of ``stream_sessions``). The committed windows, sentinels
    excluded, must equal the batch daily rollup over the ORIGINAL events
    only -- any leaked late row emits a duplicate window_start and flips
    the driver hash. This is the finite-horizon semantics that
    ``s_incremental_mv`` deliberately side-stepped with its full-span
    horizon: here lateness beyond the horizon is the behavior under
    proof, not a hazard to be avoided.

    Scale shape: the drop is exactly what bounds aggregate state at
    100 TB -- state holds only windows newer than (max event time -
    horizon), so a deployment prices state as horizon x group arity,
    never stream history."""
    _, max_ts = _events_span(spark, sf_dir)
    out = _late_out(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .filter(F.col("window_start") <= F.lit(max_ts))
        .select("window_start", "event_type", "n_events", "total_value")
        .orderBy("window_start", "event_type")
    )


@artifact
def _late_out(spark: SparkSession, sf_dir: str) -> str:
    import datetime

    _b1, b2, b3 = _tiles_cached(spark, sf_dir)
    f1, f2, _f3 = _tile_files(spark, sf_dir)
    min_ts, max_ts = _events_span(spark, sf_dir)
    # Batch 3 evaluates rows against the watermark set at batch 2's end
    # (max ts seen - 2-day delay); the injected rows' 1-day window must
    # already have closed under it or the test proves nothing. The
    # fixtures span 30 days so this holds with ~25 days of margin; a
    # reshaped fixture fails loudly.
    t2_max = b2.agg(F.max("ts")).collect()[0][0]
    wm_at_b3 = t2_max - datetime.timedelta(days=2)
    win_end = min_ts.replace(
        hour=0, minute=0, second=0, microsecond=0
    ) + datetime.timedelta(days=1)
    if win_end >= wm_at_b3:
        raise ValueError(
            f"late-row window end {win_end} not behind the "
            f"batch-3 watermark {wm_at_b3}; fixture too short"
        )
    late = _local_events(
        spark,
        [
            (2 * 10**9 + i, min_ts, 999_000 + i, "purchase", 77.77, "{}")
            for i in range(7)
        ],
    )
    return _replay(
        spark,
        "spark_stream_late_",
        [f1, f2, b3.unionByName(late)] + _sentinels(spark, max_ts),
        runtime.tumbling_counts,
    )


def stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator, EXECUTED: running per-user count/sum via
    ``applyInPandasWithState`` (``runtime.running_user_micros``) replayed
    over three time-ordered micro-batches, update-mode emissions
    committed per batch. Each emission carries the CUMULATIVE state (the
    value sum as order-free integer micro-units, so the cross-batch
    accumulator is bit-reproducible); a user active in all three batches
    emits three strictly-growing rows, and the final row per user (argmax
    n_events -- strictly monotone, tie-free) must equal the batch
    groupBy. The driver's value hash therefore proves the state-store
    round-trip itself: get -> accumulate -> update -> re-read next batch,
    across real checkpointed micro-batch commits -- the escape-hatch API
    the built-in aggregates can't replace, here held to the same oracle
    standard as the built-ins.

    Scale shape: one shuffle by key per batch; state is one (n, micros)
    pair per ACTIVE user (RocksDB-resident on a real cluster), sized by
    key cardinality, never stream length."""
    return _final_user_rows(spark, _stateful_out(spark, sf_dir))


@artifact
def _stateful_out(spark: SparkSession, sf_dir: str) -> str:
    return _replay(
        spark,
        "spark_stateful_counts_",
        _tile_files(spark, sf_dir),
        runtime.running_user_micros,
        "update",
    )


def _final_user_rows(spark: SparkSession, out: str) -> DataFrame:
    """Latest update-mode emission per user from a committed
    ``running_user_micros`` replay (argmax n_events -- strictly monotone
    per user, so tie-free), projected to the batch-rollup shape."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        spark.read.parquet(out)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round(F.col("micros") / F.lit(1_000_000.0), 2).alias(
                "total_value"
            ),
        )
        .orderBy("user_id")
    )


def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE-mode streaming leaderboard, EXECUTED: the fixture events
    replayed as three time-ordered micro-batches through the real
    complete-mode path (``runtime.top_spenders``: unwatermarked agg ->
    streaming sort -> limit 10 -- sorting a streaming Dataset is legal
    ONLY after aggregation in complete mode, which this key exercises),
    every batch re-emitting the full top-10 snapshot, foreachBatch
    OVERWRITING the committed table each time. The surviving final
    snapshot must equal the batch top-10, proving the third output mode
    end-to-end and completing the append (enrich/join/sessions) /
    update (mv/stateful) / complete triple at the driver-oracle
    standard. Value totals ride as order-free integer micro-units so the
    cross-batch state is bit-reproducible; user_id breaks exact-micro
    ties deterministically.

    Scale shape: complete mode's state holds EVERY group, so it is only
    priced for bounded-cardinality results (a dashboard keyed by users,
    never by events) -- the constraint this key documents by existing."""
    return (
        spark.read.parquet(_topk_out(spark, sf_dir))
        .select(
            "user_id",
            "n_events",
            F.round(F.col("micros") / F.lit(1_000_000.0), 2).alias(
                "total_value"
            ),
        )
        .orderBy(F.col("total_value").desc(), "user_id")
    )


@artifact
def _topk_out(spark: SparkSession, sf_dir: str) -> str:
    return _replay(
        spark,
        "spark_stream_topk_",
        _tile_files(spark, sf_dir),
        runtime.top_spenders,
        "complete",
    )


def stream_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint RESTART recovery, EXECUTED: tiles 1-2 of the fixture run
    through the stateful ``running_user_micros`` path to termination, THEN
    tile 3 lands in the source dir and a brand-new query starts on the
    SAME checkpoint. The second query must restore both halves of the
    checkpoint or the driver hash flips: the file-source offset log
    (re-admitting tiles 1-2 would double-count into live state) and the
    per-user state store (losing it would make batch-3 emissions restart
    from zero, so the max-n_events row per user would miss tile 3). The
    accumulated update-mode emissions across BOTH query lifetimes reduce
    to the batch per-user rollup -- the ``s_stateful_counts`` oracle
    verbatim -- so this key proves the property every production stream
    actually relies on: kill -9 between micro-batches loses nothing.

    Scale shape: recovery cost is the checkpoint read (offsets + state
    store files), independent of stream history length."""
    return _final_user_rows(spark, _restart_out(spark, sf_dir))


@artifact
def _restart_out(spark: SparkSession, sf_dir: str) -> str:
    f1, f2, f3 = _tile_files(spark, sf_dir)
    out = _replay(
        spark,
        "spark_stream_restart_",
        [f1, f2],
        runtime.running_user_micros,
        "update",
    )
    # Land tile 3 only after query 1 has fully terminated, stamped after
    # the first two so discovery order stays the log order, then restart
    # on the SAME checkpoint (``_replay``'s src/ckpt siblings of ``out``).
    scratch = os.path.dirname(out)
    src, ckpt = os.path.join(scratch, "src"), os.path.join(scratch, "ckpt")
    _write_ordered_files([f3], src)
    with _replay_shuffle_partitions(spark):
        runtime.run_available_now(
            runtime.running_user_micros(runtime.events_stream(spark, src)),
            ckpt,
            out,
            "update",
        )
    return out


def stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join, EXECUTED: the fixture
    events replayed as three time-ordered micro-batches through the real
    watermarked outer-join path (``runtime.purchase_attribution`` with
    ``how="leftOuter"``),
    then two far-future sentinel batches each carrying one click AND one
    purchase (distinct synthetic users, so they can never join anything)
    to drag BOTH sides' watermarks forward -- the global watermark is
    their MIN, so a one-sided sentinel flushes nothing. Matched pairs
    emit eagerly; an unmatched click's NULL-purchase row emits ONLY when
    the watermark passes ``click_ts + 1 day`` and its state is evicted,
    which is the semantics under proof here: the outer emission is a
    side effect of state cleanup, the reason Spark rejects un-bounded
    outer stream-stream joins outright. The committed rows, sentinels
    excluded, must equal the batch left-outer interval join EXACTLY --
    every fixture click appears exactly once per match or once with
    NULLs, so a click evicted early, flushed twice, or never flushed
    flips the driver hash.

    Scale shape: identical state bound to the inner form ((interval +
    delay) x arrival rate per side); the outer rows add zero state, only
    an emission at eviction time."""
    _, max_ts = _events_span(spark, sf_dir)
    out = _join_outer_out(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .filter(F.col("click_ts") <= F.lit(max_ts))
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            "click_ts",
            "purchase_ts",
            "purchase_value",
        )
        .orderBy("click_id", "purchase_id")
    )


@artifact
def _join_outer_out(spark: SparkSession, sf_dir: str) -> str:
    _, max_ts = _events_span(spark, sf_dir)
    return _replay(
        spark,
        "spark_stream_join_outer_",
        list(_tile_files(spark, sf_dir))
        + _sentinels(spark, max_ts, ("click", "purchase")),
        lambda stream: runtime.purchase_attribution(stream, "leftOuter"),
    )


def stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment, EXECUTED: the fixture events
    replayed as three time-ordered micro-batches through the real
    stream-static join path (``runtime.enrich_with_static_dim``: each
    event picks up its user's segment from a BATCH dimension table,
    broadcast and re-read per micro-batch -- zero state, zero stream-side
    shuffle), emissions committed via foreachBatch. The dim is derived
    deterministically from the corpus (``user_id % 2`` -> even/odd
    segment) so the DuckDB oracle can recompute the enrichment inline;
    the committed rows must equal the batch broadcast join row-for-row,
    proving the per-batch dim re-read + broadcast plan loses and invents
    nothing across replay commits.

    Scale shape: the canonical lookup-enrichment -- at 100 TB the dim
    broadcast is the same decision as the batch ``j_broadcast``, and
    the per-micro-batch re-read is what lets a slowly-changing dim
    update without restarting the stream."""
    return (
        spark.read.parquet(_enrich_out(spark, sf_dir))
        .select("event_id", "user_id", "ts", "event_type", "value", "user_segment")
        .orderBy("event_id")
    )


@artifact
def _enrich_out(spark: SparkSession, sf_dir: str) -> str:
    dim = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn(
            "user_segment",
            F.when(F.col("user_id") % 2 == 0, F.lit("even")).otherwise(
                F.lit("odd")
            ),
        )
    )
    return _replay(
        spark,
        "spark_stream_enrich_",
        _tile_files(spark, sf_dir),
        lambda stream: runtime.enrich_with_static_dim(stream, dim),
    )


QUERIES = {
    "s_tumbling_daily": tumbling_daily,
    "s_sliding_2d_1d": sliding_2d_1d,
    "s_session_window": session_windows,
    "s_interval_join": click_purchase_attribution,
    "s_interval_join_outer": click_purchase_attribution_outer,
    "s_incremental_mv": incremental_mv,
    "s_cdc_upsert": cdc_upsert,
    "s_stream_dedup": stream_dedup,
    "s_stream_sessions": stream_sessions,
    "s_stream_join": stream_join,
    "s_stream_late": stream_late_data,
    "s_stateful_counts": stateful_counts,
    "s_stream_enrich": stream_enrich,
    "s_stream_topk": stream_topk,
    "s_stream_restart": stream_restart,
    "s_stream_join_outer": stream_join_outer,
}

ORACLES = {
    # The engine side EXECUTES the streaming refresh loop (3 micro-batches
    # of update-mode aggregate + MERGE into the versioned table); the
    # oracle is the batch rollup that loop must converge to. CASTs mirror
    # materialize_daily_rollup: day window start -> DATE, decimal(18,6)
    # sum rounded to 2 then read back as DOUBLE.
    "s_incremental_mv": """
        SELECT CAST(date_trunc('day', ts) AS DATE) AS event_date,
               event_type,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    # The engine side EXECUTES the CDC apply loop; the oracle is the batch
    # keep-latest view it must land (d_keep_latest's form: latest row per
    # user under (ts DESC, event_id DESC) -- the fixture has no
    # (user_id, ts) ties, so the engine's within/cross-batch latest-wins
    # and this window agree deterministically).
    "s_cdc_upsert": """
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               event_type, value
        FROM (
            SELECT user_id, event_id, ts, event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        WHERE rn = 1
        ORDER BY user_id
    """,
    # The engine side EXECUTES the watermark-bounded dedup over a replay
    # carrying injected at-least-once duplicates; the oracle is the input
    # relation itself -- exactly-once means output == input, row for row.
    "s_stream_dedup": """
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               event_type, value
        FROM events
        ORDER BY event_id
    """,
    # The engine side EXECUTES the applyInPandasWithState replay (integer
    # micro-unit value accumulator: floor(value*1e6 + 0.5), half-up ==
    # SQL ROUND for the fixture's non-negative values); the final
    # update-mode emission per user must equal the batch per-user rollup.
    "s_stateful_counts": """
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT))
                          / 1000000.0, 2) AS DOUBLE) AS total_value
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    # The engine side EXECUTES the complete-mode agg -> sort -> limit
    # replay, foreachBatch overwriting the snapshot per batch; the final
    # snapshot must equal the batch top-10 (micro-unit total ranks,
    # user_id breaks exact-micro ties).
    "s_stream_topk": """
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT))
                          / 1000000.0, 2) AS DOUBLE) AS total_value
        FROM events
        GROUP BY user_id
        ORDER BY SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) DESC,
                 user_id
        LIMIT 10
    """,
    # The engine side EXECUTES the stream-static broadcast-enrichment
    # replay; the dim is a pure function of user_id, so the oracle
    # recomputes the segment inline over the original events.
    "s_stream_enrich": """
        SELECT event_id,
               user_id,
               CAST(ts AS TIMESTAMP) AS ts,
               event_type,
               value,
               CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END
                   AS user_segment
        FROM events
        ORDER BY event_id
    """,
    "s_tumbling_daily": """
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "s_sliding_2d_1d": """
        WITH member AS (
            SELECT date_trunc('day', ts) AS window_start, value FROM events
            UNION ALL
            SELECT date_trunc('day', ts) - INTERVAL 1 DAY, value FROM events
        )
        SELECT window_start,
               COUNT(*) AS n_events,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 2) AS avg_value
        FROM member
        GROUP BY 1
        ORDER BY 1
    """,
    "s_session_window": """
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w >= INTERVAL 1 HOUR
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sessions AS (
            SELECT user_id, ts, value,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        FROM sessions
        GROUP BY user_id, session_id
        ORDER BY user_id, session_start
    """,
    # Spark floors the fixture's ns timestamps to us (fixtures.load_table);
    # CASTs below apply the same truncation on the DuckDB side so the
    # interval boundary comparisons agree.
    "s_interval_join": """
        SELECT c.event_id AS click_id,
               p.event_id AS purchase_id,
               c.user_id AS user_id,
               CAST(c.ts AS TIMESTAMP) AS click_ts,
               CAST(p.ts AS TIMESTAMP) AS purchase_ts,
               ROUND(p.value, 2) AS purchase_value
        FROM events c
        JOIN events p
          ON c.user_id = p.user_id
         AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
         AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 DAY
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        ORDER BY click_id, purchase_id
    """,
    # NULLS FIRST on both engines: Spark's asc default, which
    # click_purchase_attribution_outer's orderBy states; DuckDB defaults
    # NULLS LAST, so the oracle says it explicitly.
    "s_interval_join_outer": """
        SELECT c.event_id AS click_id,
               p.event_id AS purchase_id,
               c.user_id AS user_id,
               CAST(c.ts AS TIMESTAMP) AS click_ts,
               CAST(p.ts AS TIMESTAMP) AS purchase_ts,
               ROUND(p.value, 2) AS purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
         AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 DAY
        ORDER BY click_id, purchase_id NULLS FIRST
    """,
}

# Each replay key converges to its batch twin's oracle; one line per key
# names the invariant the replay proves.
# Session replay: finalized sessions, sentinels excluded, equal the batch.
ORACLES["s_stream_sessions"] = ORACLES["s_session_window"]
# Interval-join replay: buffered click state loses and invents no pair.
ORACLES["s_stream_join"] = ORACLES["s_interval_join"]
# Late-row replay: the watermark drops every injected beyond-horizon row.
ORACLES["s_stream_late"] = ORACLES["s_tumbling_daily"]
# Restart replay: offsets and state survive a new query on one checkpoint.
ORACLES["s_stream_restart"] = ORACLES["s_stateful_counts"]
# Outer-join replay: each unmatched click's NULL row emits once, at eviction.
ORACLES["s_stream_join_outer"] = ORACLES["s_interval_join_outer"]
