"""Structured Streaming execution tests (SURVEY.md §2.12 streaming row).

Strategy (§7.4 risk 3): never wall-clock. Micro-batch sequences are driven by
dropping files into a source dir and re-running ``availableNow`` against one
checkpoint; watermark state persists in the checkpoint, so late-data behavior
is deterministic.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delta_lake_stock_pipeline_spark.sources.fixtures import load_table
from delta_lake_stock_pipeline_spark.streaming import runtime
from delta_lake_stock_pipeline_spark.streaming.windows import tumbling_daily

from conftest import SF_DIR


def test_events_fixture_has_no_user_ts_ties(spark):
    """s_cdc_upsert precondition (ADVICE r9): the engine's within-batch
    latest-wins tiebreak (xxhash64 over all columns) and the DuckDB
    oracle's ``event_id DESC`` tiebreak only agree because the fixture
    carries no (user_id, ts) ties -- enforce the invariant at both the
    local test SF and the driver's correctness SF (sf0.01) so a
    regenerated or larger fixture with ties fails loudly here instead of
    silently diverging the driver hash."""
    for d in sorted({SF_DIR, "/root/testdata/sf0.01"}):
        ties = (
            load_table(spark, d, "events")
            .groupBy("user_id", "ts")
            .count()
            .filter("count > 1")
            .count()
        )
        assert ties == 0, f"(user_id, ts) ties in {d}/events.parquet"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events fixture rewritten as a 4-file parquet directory (file source
    needs a directory; multiple files exercise maxFilesPerTrigger batching)."""
    out = str(tmp_path_factory.mktemp("events_src"))
    load_table(spark, SF_DIR, "events").repartition(4).write.mode("overwrite").parquet(
        out
    )
    return out


def test_streaming_tumbling_equals_batch(spark, events_dir, tmp_path):
    """availableNow over the full fixture == batch window agg (complete mode:
    every window emitted regardless of watermark)."""
    stream = runtime.events_stream(spark, events_dir)
    got = runtime.run_available_now(
        runtime.tumbling_counts(stream),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
        output_mode="complete",
    )
    want = tumbling_daily(spark, SF_DIR)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_static_enrichment_equals_batch_join(spark, events_dir, tmp_path):
    """Stream-static broadcast join: every streamed event picks up its
    user's segment from the batch dim, identically to the batch join."""
    dim = (
        load_table(spark, SF_DIR, "events")
        .select("user_id")
        .distinct()
        .withColumn(
            "user_segment",
            F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"),
        )
    )
    stream = runtime.events_stream(spark, events_dir)
    got = runtime.run_available_now(
        runtime.enrich_with_static_dim(stream, dim),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )
    want = load_table(spark, SF_DIR, "events").join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "ts", "event_type", "value", "user_segment"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_dedup_within_watermark(spark, tmp_path):
    """Duplicate event_ids inside the watermark horizon are dropped."""
    src = str(tmp_path / "src")
    events = load_table(spark, SF_DIR, "events").limit(100)
    events.union(events).repartition(2).write.mode("overwrite").parquet(src)

    stream = runtime.events_stream(spark, src)
    got = runtime.run_available_now(
        runtime.dedup_within_watermark(stream),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )
    assert got.count() == 100
    assert got.select("event_id").distinct().count() == 100


def test_watermark_drops_late_data(spark, tmp_path):
    """Batch 1 advances the watermark far past January; batch 2's January
    events are late beyond the 2-day delay -> excluded from appended windows."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    events = load_table(spark, SF_DIR, "events")
    # Batch 1: the fixture (Jan 2024) plus one far-future sentinel row that
    # drags the watermark to (2025-01-01 - 2 days), finalizing every January
    # window so append mode emits them.
    sentinel = spark.createDataFrame(
        [(10**9, "2025-01-01 00:00:00", 0, "click", 0.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    events.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(src)

    stream = runtime.events_stream(spark, src)
    result = runtime.tumbling_counts(stream)
    first = runtime.run_available_now(result, ckpt, str(tmp_path / "out1"))
    jan_counts = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in first.collect()
        if r["window_start"].year == 2024
    }
    assert jan_counts, "January windows should be finalized and emitted"

    # Batch 2: replay 50 January events (now > 2 days late). Re-run on the
    # same checkpoint: no January window may be (re-)emitted.
    events.limit(50).coalesce(1).write.mode("append").parquet(src)
    second = runtime.run_available_now(
        runtime.tumbling_counts(runtime.events_stream(spark, src)),
        ckpt,
        str(tmp_path / "out2"),
    )
    new_rows = [r for r in second.collect() if r["window_start"].year == 2024]
    assert new_rows == [], f"late January data must be dropped, got {new_rows}"


def test_stateful_running_counts_across_batches(spark, tmp_path):
    """applyInPandasWithState accumulates per-user state across micro-batches:
    after feeding the same 200 events twice, the running count per user is
    exactly 2x the single-pass count."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    events = load_table(spark, SF_DIR, "events").limit(200)
    events.coalesce(1).write.mode("overwrite").parquet(src)

    out1 = runtime.run_available_now(
        runtime.running_user_counts(runtime.events_stream(spark, src)),
        ckpt,
        str(tmp_path / "out1"),
        output_mode="update",
    )
    base = {r["user_id"]: r["n_events"] for r in out1.collect()}

    events.coalesce(1).write.mode("append").parquet(src)
    out2 = runtime.run_available_now(
        runtime.running_user_counts(runtime.events_stream(spark, src)),
        ckpt,
        str(tmp_path / "out2"),
        output_mode="update",
    )
    # update-mode memory sink accumulates emissions; take the latest per user.
    latest = {
        r["user_id"]: r["n_events"]
        for r in out2.orderBy("n_events").collect()
    }
    for uid, n in base.items():
        assert latest[uid] == 2 * n, f"user {uid}: {latest[uid]} != 2*{n}"


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Inner stream-stream interval join over the full fixture emits exactly
    the batch interval-join rows. Single-file source: one micro-batch, so no
    event is late relative to the watermark (the multi-file case correctly
    evicts state for out-of-order batches -- that is watermark semantics,
    not join semantics, and is covered by test_watermark_drops_late_data)."""
    from delta_lake_stock_pipeline_spark.streaming.windows import (
        click_purchase_attribution,
    )

    src = str(tmp_path / "src")
    load_table(spark, SF_DIR, "events").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    stream = runtime.events_stream(spark, src)
    got = runtime.run_available_now(
        runtime.purchase_attribution(stream),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )
    want = click_purchase_attribution(spark, SF_DIR)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_streaming_session_windows_equal_batch(spark, tmp_path):
    """Watermarked session windows under availableNow (APPEND mode -- a
    session emits once the watermark passes its end + gap, the
    finalized-results semantics) == the batch session_window aggregation
    over the fixture. Uses the same two-sentinel flush as the outer-join
    test: one watermark side here, but state cleanup still lags one
    batch, so the +80d file gives the +40d watermark its own batch to
    finalize under. The final watermark (+78d) flushes the +40d
    sentinel's own 1-event session too, so sentinel users are excluded
    before comparing (their flush timing is a stopping-point detail)."""
    import datetime
    import time as _time

    from delta_lake_stock_pipeline_spark.streaming.windows import (
        session_windows,
    )

    src = str(tmp_path / "src")
    events = load_table(spark, SF_DIR, "events")
    events.coalesce(1).write.mode("overwrite").parquet(src)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    for i, days in enumerate([40, 80]):
        sentinel = spark.createDataFrame(
            [
                (
                    10**9 + i,
                    max_ts + datetime.timedelta(days=days),
                    10**9 + i,
                    "click",
                    0.0,
                    "{}",
                )
            ],
            events.schema,
        )
        _time.sleep(1.1)
        sentinel.coalesce(1).write.mode("append").parquet(src)

    got = runtime.run_available_now(
        runtime.session_counts(runtime.events_stream(spark, src)),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )
    want = session_windows(spark, SF_DIR)
    got_rows = sorted(
        tuple(r) for r in got.collect() if r["user_id"] < 10**9
    )
    assert got_rows == sorted(map(tuple, want.collect()))
    assert len(got_rows) > 0


def test_stream_outer_interval_join_evicts_and_emits_nulls(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: matched rows emit as they
    join; unmatched clicks emit their NULL-purchase row only when the
    watermark passes click_ts + 1 day and state is evicted. A far-future
    sentinel click (fresh user, +40 days -- it can match nothing and is
    itself not yet evictable) arrives in a SECOND file and drags the
    watermark past every fixture click's eviction horizon (a second,
    farther sentinel gives that watermark its own cleanup batch -- see
    the comment below); the accumulated emissions must equal the batch
    LEFT OUTER join over the fixture exactly."""
    import datetime
    import time as _time

    from delta_lake_stock_pipeline_spark.streaming.windows import (
        click_purchase_attribution_outer,
    )

    src = str(tmp_path / "src")
    events = load_table(spark, SF_DIR, "events")
    events.coalesce(1).write.mode("overwrite").parquet(src)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    # Each sentinel file carries a click AND a purchase (on two fresh,
    # distinct users, so neither can ever match anything): the join's
    # global watermark is the MIN over both withWatermark sides, so a
    # click-only sentinel advances nothing -- measured as 13 missing
    # NULL rows for the fixture's last-watermark-hop clicks. TWO files,
    # because state cleanup always lags one batch (batch N's watermark
    # is applied while processing batch N+1, and availableNow stops
    # after the last data batch): the +80d file gives the +40d
    # watermark its own batch to evict under.
    for i, days in enumerate([40, 80]):
        ts = max_ts + datetime.timedelta(days=days)
        sentinel = spark.createDataFrame(
            [
                (10**9 + 2 * i, ts, 10**9 + 2 * i, "click", 0.0, "{}"),
                (
                    10**9 + 2 * i + 1,
                    ts,
                    10**9 + 2 * i + 1,
                    "purchase",
                    0.0,
                    "{}",
                ),
            ],
            events.schema,
        )
        _time.sleep(1.1)  # distinct mtime: the file source orders by it
        sentinel.coalesce(1).write.mode("append").parquet(src)

    stream = runtime.events_stream(spark, src)
    got = runtime.run_available_now(
        runtime.purchase_attribution_outer(stream),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )
    want = click_purchase_attribution_outer(spark, SF_DIR)
    # sentinel clicks are excluded before comparing: whether the run's
    # final cleanup batch has already evicted them is a stopping-point
    # detail, not join semantics
    got_rows = sorted(
        tuple(r) for r in got.collect() if r["click_id"] < 10**9
    )
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows
    # the outer rows are the point: the fixture must contain unconverted
    # clicks, or this test silently degrades to the inner-join case
    assert any(r[1] is None for r in want_rows)


def test_stream_upsert_cdc_apply(spark, tmp_path):
    """foreachBatch CDC apply: two micro-batches land as STREAM WRITE then
    pruned MERGE; the final table equals batch-2 updates applied over
    batch-1, and untouched partitions carry over by reference."""
    from delta_lake_stock_pipeline_spark import storage

    src = str(tmp_path / "src")
    events = load_table(spark, SF_DIR, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    base = events.limit(200)
    base.coalesce(1).write.mode("overwrite").parquet(src)

    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    schema = base.schema

    def upsert_stream():
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        runtime.stream_upsert_to_table(
            s, tbl, ["event_id"], ["event_date"], ckpt
        )

    upsert_stream()
    n0 = storage.read_table(spark, tbl).count()
    assert n0 == 200

    # Batch 2: bump value on 50 existing events + 10 brand-new event_ids.
    updated = base.limit(50).withColumn("value", F.col("value") + 1000.0)
    fresh = (
        events.limit(210)
        .join(base.select("event_id"), "event_id", "left_anti")
        .limit(10)
    )
    updated.unionByName(fresh).coalesce(1).write.mode("append").parquet(src)
    upsert_stream()

    after = storage.read_table(spark, tbl)
    assert after.count() == n0 + 10
    assert after.filter(F.col("value") >= 1000.0).count() == 50
    ops = [r["operation"] for r in storage.history(spark, tbl).collect()]
    assert ops[0].startswith("STREAM WRITE") and "MERGE" in ops[1:]


def _have_protobuf() -> bool:
    """transformWithStateInPandas spawns a Python driver worker that needs
    google.protobuf (state-server protocol); absent in this container."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _have_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (not installed)",
)
def test_transform_with_state_matches_apply_in_pandas(spark, tmp_path):
    """The Spark 4 ``transformWithStateInPandas`` twin must emit exactly the
    same per-user running aggregates as ``applyInPandasWithState`` when fed
    the same two micro-batch sequence."""
    src = str(tmp_path / "src")
    events = load_table(spark, SF_DIR, "events")
    events.limit(150).coalesce(1).write.mode("overwrite").parquet(src)

    def run(fn, tag, provider=None):
        old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        if provider:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
        try:
            out = runtime.run_available_now(
                fn(runtime.events_stream(spark, src)),
                str(tmp_path / f"ckpt_{tag}"),
                str(tmp_path / f"out_{tag}"),
                output_mode="update",
            )
            return sorted(map(tuple, out.collect()))
        finally:
            if provider and old:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
            elif provider:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    rocks = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    got_tws = run(runtime.running_user_counts_tws, "tws", provider=rocks)
    got_aip = run(runtime.running_user_counts, "aip")
    assert got_tws == got_aip and len(got_tws) > 0


def test_materialized_rollup_equals_batch(spark, tmp_path):
    """The incrementally-maintained rollup table, after the stream drains
    across two micro-batches, equals the batch aggregate over all data --
    and the second batch's merges only rewrote partitions (days) it
    touched."""
    from delta_lake_stock_pipeline_spark import storage

    src = str(tmp_path / "src")
    events = load_table(spark, SF_DIR, "events")
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.mode("overwrite").parquet(src)

    tbl, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")

    def run():
        # The fixture halves are unordered across the table's whole time
        # span, so the lateness horizon must cover it for the streamed
        # rollup to equal the batch rollup -- exactly how a deployment
        # sizes the watermark to its source's max disorder. (The default
        # 2-day horizon's DROP behavior is asserted by
        # test_watermark_drops_late_data.)
        runtime.materialize_daily_rollup(
            runtime.events_stream(spark, src), tbl, ckpt, delay="90 days"
        )

    run()
    half2.coalesce(1).write.mode("append").parquet(src)
    run()

    got = storage.read_table(spark, tbl).select(
        "event_date", "event_type", "n_events", "total_value"
    )
    want = (
        events.groupBy(F.to_date("ts").alias("event_date"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    ops = [r["operation"] for r in storage.history(spark, tbl).collect()]
    assert ops[0].startswith("MATERIALIZE") and "MERGE" in ops


def test_write_ordered_batches_pins_admission_order(spark, tmp_path):
    """The CDC replay helper must produce one data file per tile with
    STRICTLY increasing mtimes (the file source admits by modification
    time, so equal stamps would race) and tile membership must follow the
    (ts, event_id) order -- batch 1 holds the oldest third."""
    import os

    from delta_lake_stock_pipeline_spark.streaming.windows import (
        _write_ordered_batches,
    )

    src = str(tmp_path / "src")
    events = load_table(spark, SF_DIR, "events")
    _write_ordered_batches(events, src, ["ts", "event_id"])
    parts = sorted(
        (os.path.getmtime(os.path.join(src, f)), f)
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    assert len(parts) == 3
    stamps = [t for t, _ in parts]
    assert stamps[0] < stamps[1] < stamps[2]
    # The oldest-stamped file must hold the globally oldest rows.
    first = spark.read.parquet(os.path.join(src, parts[0][1]))
    rest = [
        spark.read.parquet(os.path.join(src, f)) for _, f in parts[1:]
    ]
    max_first = first.agg(F.max("ts")).collect()[0][0]
    for df in rest:
        assert df.agg(F.min("ts")).collect()[0][0] >= max_first


def test_registered_streaming_lifecycle_keys_commit_incrementally(spark):
    """The two EXECUTED streaming query keys (s_incremental_mv,
    s_cdc_upsert) must (a) replay the fixture as 3 micro-batches -- the
    version history shows the initial write plus one MERGE per later
    batch, proof the path is incremental, not a single overwrite -- and
    (b) serve repeat calls from the committed table artifact (same path,
    no new commit), not a re-run. Value parity with the batch twins is
    the oracle suite's job; this pins the EXECUTION shape."""
    from delta_lake_stock_pipeline_spark import storage
    from delta_lake_stock_pipeline_spark.artifacts import clear_all
    from delta_lake_stock_pipeline_spark.streaming import windows as sw

    clear_all()
    try:
        for query, table, first_op in (
            (sw.incremental_mv, sw._mv_table, "MATERIALIZE"),
            (sw.cdc_upsert, sw._cdc_table, "STREAM WRITE"),
        ):
            query(spark, SF_DIR).collect()
            tbl = table(spark, SF_DIR)
            ops = [
                r["operation"]
                for r in storage.history(spark, tbl).collect()
            ]
            assert ops[0].startswith(first_op), ops
            assert ops.count("MERGE") == 2, ops
            # Repeat call must reuse the committed table, not re-stream.
            query(spark, SF_DIR).collect()
            assert table(spark, SF_DIR) == tbl
            assert storage.history(spark, tbl).count() == len(ops)
    finally:
        clear_all()


def test_python_datasource_stream_resumes_from_checkpoint(spark, tmp_path):
    """The custom connector's streaming face (Spark 4
    SimpleDataSourceStreamReader): each availableNow run drains exactly
    one micro-batch and commits its offset, so N runs against ONE
    checkpoint yield N disjoint batches -- no duplicates, no gaps -- and
    every delivered row matches the deterministic bar formula
    (readBetweenOffsets replays bit-identically after restart)."""
    from delta_lake_stock_pipeline_spark.sources.ticks import (
        register_ticks_source,
        tick_row,
    )

    register_ticks_source(spark)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    for _ in range(3):
        q = (
            spark.readStream.format("spark_graft_ticks")
            .option("ticker", "AAPL")
            .option("batch", "5")
            .option("max_seq", "1000")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
    rows = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert rows == sorted(tick_row("AAPL", 0, s) for s in range(15))
