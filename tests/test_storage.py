"""Storage lifecycle tests -- the reference's invariants as assertions
(SURVEY.md §5.2): row preservation around maintenance, uniform per-ticker
counts, partition layout, compaction, file-skipping stats, time travel,
external DDL.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from delta_lake_stock_pipeline_spark import storage
from delta_lake_stock_pipeline_spark.storage import stocks


@pytest.fixture(scope="module")
def bars(spark):
    """2 tickers x 3 days x 60 bars -- small but multi-partition."""
    return storage.with_derived_columns(
        storage.synthesize_bars(spark, n_tickers=2, n_days=3, bars_per_day=60)
    )


@pytest.fixture(scope="module")
def table_path(spark, bars, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stocks_tbl") / "stocks")
    # Fragment into many tasks first: recreates the reference's small-file
    # pathology (DESIGN.md:16-24) so OPTIMIZE has something to fix.
    storage.write_partitioned(bars.repartition(16), path)
    return path


def test_schema_parity(bars):
    base_fields = {f.name: f.dataType.simpleString() for f in stocks.STOCK_SCHEMA.fields}
    got = {f.name: f.dataType.simpleString() for f in bars.schema.fields}
    for name, dt in base_fields.items():
        assert got[name] == dt, f"{name}: {got[name]} != {dt}"
    assert got["event_time_utc"] == "timestamp"
    assert got["trade_date"] == "date"


def test_golden_invariants(bars):
    """Reference invariants: uniform rows/ticker (README.md:76-90); OHLC
    envelope ordering; vwap within [low, high]; minute alignment."""
    per_ticker = {r[0]: r[1] for r in bars.groupBy("ticker").count().collect()}
    assert set(per_ticker.values()) == {180}
    bad = bars.filter(
        (F.col("low") > F.least("open", "close"))
        | (F.col("high") < F.greatest("open", "close"))
        | (F.col("vwap") < F.col("low"))
        | (F.col("vwap") > F.col("high"))
        | (F.col("timestamp_ms") % 60000 != 0)
    ).count()
    assert bad == 0


def test_partition_layout(spark, table_path):
    """partitionBy(ticker, trade_date) -> tickers x days directories
    (DESIGN.md:41 expectation)."""
    v0 = os.path.join(table_path, "v0000")
    ticker_dirs = [d for d in os.listdir(v0) if d.startswith("ticker=")]
    assert len(ticker_dirs) == 2
    date_dirs = [
        d for d in os.listdir(os.path.join(v0, ticker_dirs[0])) if d.startswith("trade_date=")
    ]
    assert len(date_dirs) == 3


def test_partition_pruning(spark, table_path):
    """A ticker+date predicate must prune to one partition directory in the
    physical plan -- the layout's whole purpose (DESIGN.md:27-33)."""
    df = storage.read_table(spark, table_path).filter(
        (F.col("ticker") == "AAPL") & (F.col("trade_date") == "2024-01-08")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert df.count() == 60


def test_optimize_compacts_and_preserves_rows(spark, table_path):
    before = storage.health_check(spark, table_path)
    storage.optimize(spark, table_path, zorder_by="timestamp_ms")
    after = storage.health_check(spark, table_path)
    diff = storage.compare_health(before, after)
    assert diff["rows_preserved"], "row count changed across OPTIMIZE"
    assert after.num_files < before.num_files
    # 2 tickers x 3 days, one file per partition dir after compaction
    assert after.num_files == 6


def test_zorder_tightens_file_ranges(spark, table_path):
    """After sort-clustering on timestamp_ms, per-file [min,max] ranges are
    disjoint within each partition -- the stats a reader skips files by."""
    from delta_lake_stock_pipeline_spark.storage.maintenance import file_timestamp_ranges

    ranges = sorted(file_timestamp_ranges(table_path))
    assert len(ranges) == 6
    for lo, hi in ranges:
        assert hi - lo <= 60 * 60_000, "file covers more than its hour of bars"


def test_history_and_time_travel(spark, table_path):
    hist = storage.history(spark, table_path).collect()
    assert [r["operation"] for r in hist][:2] == [
        "WRITE",
        "OPTIMIZE ZORDER BY (timestamp_ms)",
    ]
    v0 = storage.read_table(spark, table_path, version=0)
    v1 = storage.read_table(spark, table_path, version=1)
    assert v0.count() == v1.count() == 360


def test_vacuum_removes_old_versions(spark, table_path):
    removed = storage.vacuum(table_path, retain_last=1)
    assert removed == [0]
    assert not os.path.exists(os.path.join(table_path, "v0000"))
    assert storage.read_table(spark, table_path).count() == 360  # current intact


def test_external_ddl_and_reference_queries(spark, table_path):
    kind = storage.register_external(spark, "stocks_external", table_path)
    assert kind in ("table", "view")
    got = spark.sql(
        """SELECT ticker, trade_date, COUNT(*) AS bar_count,
                  MIN(low) AS day_low, MAX(high) AS day_high
           FROM stocks_external GROUP BY ticker, trade_date
           ORDER BY ticker, trade_date"""
    ).collect()
    assert len(got) == 6 and all(r["bar_count"] == 60 for r in got)
    assert all(r["day_high"] >= r["day_low"] for r in got)

    top = stocks.top_volume_days(storage.read_table(spark, table_path), k=5).collect()
    assert len(top) == 5
    vols = [r["total_volume"] for r in top]
    assert vols == sorted(vols, reverse=True)
    spark.sql("DROP TABLE IF EXISTS stocks_external")


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Co-located join: both sides bucketed on the join key -> the physical
    plan contains ZERO Exchange operators, and results match the plain join."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    storage.write_bucketed(orders, "orders_b", "o_orderkey", n_buckets=4)
    storage.write_bucketed(lineitem, "lineitem_b", "l_orderkey", n_buckets=4)
    # The fixtures are tiny enough to broadcast, which would bypass the
    # bucketed scan; disable auto-broadcast so the plan is the one a
    # 100 TB fact-fact join gets (sort-merge over co-located buckets).
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = storage.bucketed_join(
            spark, "orders_b", "lineitem_b", ("o_orderkey", "l_orderkey")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        expected = orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        ).count()
        assert joined.count() == expected > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_write_bucketed_writes_one_file_per_bucket(spark):
    """4 input tasks x 8 buckets: one file per bucket, not one per (task,
    bucket) pair."""
    df = spark.range(0, 400, numPartitions=4).withColumnRenamed("id", "k")
    try:
        storage.write_bucketed(df, "one_file_per_bucket", "k", n_buckets=8)
        assert len(spark.table("one_file_per_bucket").inputFiles()) == 8
    finally:
        spark.sql("DROP TABLE IF EXISTS one_file_per_bucket")


def test_merge_and_delete(spark, bars, tmp_path_factory):
    """MERGE upsert + DELETE produce correct snapshots, are logged in the
    manifest, and leave prior versions readable (time travel)."""
    path = str(tmp_path_factory.mktemp("stocks_merge") / "stocks")
    storage.write_partitioned(bars, path)
    n0 = storage.read_table(spark, path).count()

    # Updates: bump volume on one existing minute (update) + one brand-new
    # minute bar (insert), keyed by (ticker, timestamp_ms).
    first = storage.read_table(spark, path).orderBy("ticker", "timestamp_ms").limit(1)
    updated = first.withColumn("volume", (F.col("volume") + 1000).cast("long"))
    inserted = first.withColumn(
        "timestamp_ms", (F.col("timestamp_ms") - 60000).cast("long")
    )
    v1 = storage.merge_into(
        spark, path, updated.unionByName(inserted), ["ticker", "timestamp_ms"]
    )
    after = storage.read_table(spark, path)
    assert after.count() == n0 + 1  # one insert, one in-place update
    key = first.collect()[0]
    got = after.filter(
        (F.col("ticker") == key["ticker"])
        & (F.col("timestamp_ms") == key["timestamp_ms"])
    ).collect()
    assert len(got) == 1 and got[0]["volume"] == key["volume"] + 1000

    v2 = storage.delete_where(spark, path, f"ticker = '{key['ticker']}'")
    remaining = storage.read_table(spark, path)
    assert remaining.filter(F.col("ticker") == key["ticker"]).count() == 0
    assert remaining.count() == after.filter(F.col("ticker") != key["ticker"]).count()

    ops = [r["operation"] for r in storage.history(spark, path).collect()]
    assert ops == ["WRITE", "MERGE", "DELETE"]
    # Time travel: the pre-merge snapshot still reads exactly as written.
    assert storage.read_table(spark, path, version=0).count() == n0
    assert v1 == 1 and v2 == 2


def test_restore_rolls_back_as_new_metadata_commit(spark, bars, tmp_path_factory):
    """RESTORE returns the live table to an old snapshot without copying
    data, as a NEW version -- the rolled-back history stays readable."""
    path = str(tmp_path_factory.mktemp("stocks_restore") / "stocks")
    storage.write_partitioned(bars, path)
    n0 = storage.read_table(spark, path).count()

    one = storage.read_table(spark, path).orderBy("ticker", "timestamp_ms").limit(1)
    key = one.collect()[0]
    storage.delete_where(spark, path, f"ticker = '{key['ticker']}'")
    assert storage.read_table(spark, path).count() < n0

    v2 = storage.restore(path, 0)
    assert v2 == 2
    assert storage.read_table(spark, path).count() == n0  # live == v0 again
    assert storage.read_table(spark, path, version=1).filter(
        F.col("ticker") == key["ticker"]
    ).count() == 0  # the deleted state is still time-travelable
    ops = [r["operation"] for r in storage.history(spark, path).collect()]
    assert ops == ["WRITE", "DELETE", "RESTORE"]
    # Metadata-only: no new version directory was written.
    assert storage.snapshot_of(path, 2) == storage.snapshot_of(path, 0)


def test_time_travel_by_timestamp(spark, bars, tmp_path_factory):
    """timestampAsOf: reads resolve to the last version committed at or
    before the given instant; too-early timestamps raise."""
    import time as _time

    path = str(tmp_path_factory.mktemp("stocks_tsasof") / "stocks")
    storage.write_partitioned(bars, path)
    n0 = storage.read_table(spark, path).count()
    ts0 = [r for r in storage.history(spark, path).collect()][0]["timestamp"]
    _time.sleep(1.1)  # manifest timestamps are second-granularity
    key = storage.read_table(spark, path).limit(1).collect()[0]
    storage.delete_where(spark, path, f"ticker = '{key['ticker']}'")

    assert storage.read_table(spark, path, timestamp=ts0).count() == n0
    assert (
        storage.read_table(spark, path, timestamp="9999-12-31T00:00:00Z").count()
        == storage.read_table(spark, path).count()
    )
    with pytest.raises(ValueError):
        storage.read_table(spark, path, timestamp="1999-01-01T00:00:00Z")
    with pytest.raises(ValueError):
        storage.read_table(spark, path, version=0, timestamp=ts0)


def test_merge_evolves_schema_with_null_backfill(spark, bars, tmp_path_factory):
    """evolve_schema MERGE: updates carrying a NEW column commit, with old
    rows (touched and untouched partitions alike) reading NULL for it."""
    path = str(tmp_path_factory.mktemp("stocks_evolve") / "stocks")
    storage.write_partitioned(bars, path)
    n0 = storage.read_table(spark, path).count()

    one = storage.read_table(spark, path).orderBy("ticker", "timestamp_ms").limit(1)
    updates = one.withColumn("adj_close", F.col("close") * 0.5)
    storage.merge_into(
        spark, path, updates, ["ticker", "timestamp_ms"], evolve_schema=True
    )
    after = storage.read_table(spark, path)
    assert "adj_close" in after.columns
    assert after.count() == n0
    assert after.filter(F.col("adj_close").isNotNull()).count() == 1
    key = one.collect()[0]
    got = after.filter(
        (F.col("ticker") == key["ticker"])
        & (F.col("timestamp_ms") == key["timestamp_ms"])
    ).collect()
    assert len(got) == 1 and got[0]["adj_close"] == key["close"] * 0.5


def test_write_with_expectations_gates_and_tracks(spark, bars, tmp_path_factory):
    """fail-mode: a violated rule rolls the commit back entirely;
    track-mode: the write commits and reports per-rule counts."""
    path = str(tmp_path_factory.mktemp("stocks_expect") / "stocks")

    with pytest.raises(storage.ExpectationError) as ei:
        storage.write_with_expectations(
            bars,
            path,
            {"positive_volume": "volume > 0", "absurd_price": "close > 1e12"},
        )
    # close > 1e12 fails for every row; the commit must have vanished.
    assert ei.value.violations["absurd_price"] > 0
    assert storage.current_version(path) is None

    version, violations = storage.write_with_expectations(
        bars,
        path,
        {"positive_volume": "volume > 0", "absurd_price": "close > 1e12"},
        on_violation="track",
    )
    assert version == 0
    assert violations["positive_volume"] == 0
    assert violations["absurd_price"] == bars.count()
    assert storage.read_table(spark, path).count() == bars.count()


def test_merge_matches_table_wide_across_partitions(spark, bars, tmp_path_factory):
    """Delta-MERGE semantics: an update that carries a NEW partition value
    for an existing key must delete the old row from its old partition --
    not leave a duplicate behind by manifest reference."""
    path = str(tmp_path_factory.mktemp("stocks_xpart") / "stocks")
    storage.write_partitioned(bars, path)
    n0 = storage.read_table(spark, path).count()

    one = storage.read_table(spark, path).orderBy("ticker", "timestamp_ms").limit(1)
    # Corrected trade_date: same (ticker, timestamp_ms) key, different
    # partition value -> the row must MOVE, old partition rewritten.
    moved = one.withColumn("trade_date", F.date_add(F.col("trade_date"), 365))
    storage.merge_into(spark, path, moved, ["ticker", "timestamp_ms"])

    after = storage.read_table(spark, path)
    key = one.collect()[0]
    got = after.filter(
        (F.col("ticker") == key["ticker"])
        & (F.col("timestamp_ms") == key["timestamp_ms"])
    ).collect()
    assert len(got) == 1, "key duplicated across partitions after MERGE"
    import datetime

    assert got[0]["trade_date"] == key["trade_date"] + datetime.timedelta(days=365)
    assert after.count() == n0


def test_merge_is_partition_pruned(spark, bars, tmp_path_factory):
    """MERGE rewrites ONLY partitions containing update keys; everything
    else enters the new snapshot by manifest reference (copy-on-write at
    partition granularity). DELETE on a partition predicate writes nothing.
    VACUUM keeps old version dirs while the live snapshot references them."""
    path = str(tmp_path_factory.mktemp("stocks_cow") / "stocks")
    storage.write_partitioned(bars, path)
    n_parts = len(storage.snapshot_of(path, 0))
    n0 = storage.read_table(spark, path).count()

    one = storage.read_table(spark, path).orderBy("ticker", "timestamp_ms").limit(1)
    updates = one.withColumn("volume", (F.col("volume") + 7).cast("long"))
    storage.merge_into(spark, path, updates, ["ticker", "timestamp_ms"])

    snap = storage.snapshot_of(path, 1)
    assert len(snap) == n_parts
    rewritten = [rel for rel, v in snap.items() if v == 1]
    referenced = [rel for rel, v in snap.items() if v == 0]
    assert len(rewritten) == 1  # update touched exactly one (ticker, day)
    assert len(referenced) == n_parts - 1
    assert storage.read_table(spark, path).count() == n0
    hist = {r["version"]: json.loads(r["operationMetrics"])
            for r in storage.history(spark, path).collect()}
    assert hist[1]["numRewrittenPartitions"] == 1
    assert hist[1]["numReferencedPartitions"] == n_parts - 1

    # VACUUM below the current version must NOT remove v0: the live
    # snapshot still references its partitions.
    assert storage.vacuum(path, retain_last=1) == []
    assert storage.read_table(spark, path).count() == n0

    # Partition-predicate DELETE: affected partitions drop out wholesale.
    key = one.collect()[0]
    storage.delete_where(spark, path, f"ticker = '{key['ticker']}'")
    snap2 = storage.snapshot_of(path, 2)
    assert all(not rel.startswith(f"ticker={key['ticker']}") for rel in snap2)
    assert (
        storage.read_table(spark, path).filter(
            F.col("ticker") == key["ticker"]
        ).count()
        == 0
    )
    # OPTIMIZE collapses the multi-version snapshot into one dir; vacuum
    # can then actually reclaim the old version dirs.
    storage.optimize(spark, path)
    assert set(storage.snapshot_of(path, 3).values()) == {3}
    removed = storage.vacuum(path, retain_last=1)
    assert sorted(removed) == [0, 1, 2]


def test_analyze_table_records_cbo_stats(spark, bars, tmp_path_factory):
    """ANALYZE TABLE records row/size statistics that the cost-based
    optimizer then exposes on the table's optimized plan."""
    path = str(tmp_path_factory.mktemp("stocks_stats") / "stocks")
    storage.write_partitioned(bars, path)
    kind = storage.register_external(spark, "stocks_stats_tbl", path)
    if kind != "table":
        pytest.skip("catalog DDL unavailable; stats need a catalog table")
    stats = storage.analyze_table(
        spark, "stocks_stats_tbl", columns=["ticker", "volume"]
    )
    n = storage.read_table(spark, path).count()
    assert stats.get("rowCount") == n
    assert stats.get("sizeInBytes", 0) > 0
    # The optimizer exposes the recorded row count once CBO is on; the
    # session default keeps it off (no catalog stats on the bare-parquet
    # fixture reads), so enable it just for this assertion -- the
    # analyze-then-enable flow the session docstring prescribes.
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        plan_stats = (
            spark.table("stocks_stats_tbl")._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .toString()
        )
        assert f"rowCount={n}" in plan_stats, plan_stats
    finally:
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.sql("DROP TABLE IF EXISTS stocks_stats_tbl")


def test_max_records_per_file_and_codec(spark, bars, tmp_path_factory):
    """The file-size governor rolls files at the record cap, and the codec
    option lands in the parquet file names."""
    path = str(tmp_path_factory.mktemp("stocks_sized") / "stocks")
    storage.write_partitioned(
        bars.coalesce(1), path, max_records_per_file=25, codec="zstd"
    )
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(path, "v0000"))
        for f in fs
        if f.endswith(".parquet")
    ]
    # 60 rows per (ticker, day) partition / 25-row cap -> 3 files each.
    assert len(files) == 6 * 3
    assert all(".zstd." in os.path.basename(f) for f in files)
    assert storage.read_table(spark, path).count() == bars.count()


def test_table_changes_replays_commits(spark, bars, tmp_path_factory):
    """CDF emulation: changes (insert/delete rows per commit) replay the
    table from any version to any later one -- v_from rows + inserts -
    deletes == v_to rows, as multisets -- and updates surface as a
    delete+insert pair in the same commit."""
    path = str(tmp_path_factory.mktemp("stocks_cdf") / "stocks")
    storage.write_partitioned(bars, path)

    first = storage.read_table(spark, path).orderBy("ticker", "timestamp_ms").limit(1)
    updated = first.withColumn("volume", (F.col("volume") + 1000).cast("long"))
    inserted = first.withColumn(
        "timestamp_ms", (F.col("timestamp_ms") - 60000).cast("long")
    )
    storage.merge_into(
        spark, path, updated.unionByName(inserted), ["ticker", "timestamp_ms"]
    )
    key = first.collect()[0]
    storage.delete_where(spark, path, f"ticker = '{key['ticker']}'")

    ch = storage.table_changes(spark, path, from_version=1).cache()
    assert set(ch.select("_change_type").distinct().toPandas()["_change_type"]) == {
        "insert",
        "delete",
    }
    # The MERGE commit: 1 update (delete+insert of the same key) + 1 insert.
    m = ch.filter(F.col("_commit_version") == 1)
    assert m.filter(F.col("_change_type") == "insert").count() == 2
    assert m.filter(F.col("_change_type") == "delete").count() == 1
    # Replay: v0 + inserts - deletes == current table, as multisets.
    data_cols = [c for c in ch.columns if c not in ("_change_type", "_commit_version")]
    base = storage.read_table(spark, path, version=0)
    ins = ch.filter(F.col("_change_type") == "insert").select(*data_cols)
    dels = ch.filter(F.col("_change_type") == "delete").select(*data_cols)
    replayed = base.select(*data_cols).unionByName(ins).exceptAll(dels)
    current = storage.read_table(spark, path).select(*data_cols)
    assert replayed.exceptAll(current).count() == 0
    assert current.exceptAll(replayed).count() == 0
    ch.unpersist()


def test_clone_is_zero_copy_and_independent(spark, bars, tmp_path_factory):
    """CLONE: hard-linked snapshot -- no data bytes copied (shared inodes),
    reads equal, and the clone versions independently of the source."""
    root = tmp_path_factory.mktemp("stocks_clone")
    src, dst = str(root / "src"), str(root / "dst")
    storage.write_partitioned(bars, src)
    storage.clone_table(src, dst)

    s = storage.read_table(spark, src)
    d = storage.read_table(spark, dst)
    assert s.exceptAll(d).count() == 0 and d.exceptAll(s).count() == 0

    # Zero-copy: every cloned parquet shares its inode with a source file.
    import os as _os

    src_inodes = set()
    for dirpath, _dirs, files in _os.walk(src):
        src_inodes |= {
            _os.stat(_os.path.join(dirpath, f)).st_ino
            for f in files
            if f.endswith(".parquet")
        }
    for dirpath, _dirs, files in _os.walk(dst):
        for f in files:
            if f.endswith(".parquet"):
                assert _os.stat(_os.path.join(dirpath, f)).st_ino in src_inodes

    # Independence: deleting in the clone does not touch the source.
    tick = bars.select("ticker").orderBy("ticker").first()["ticker"]
    storage.delete_where(spark, dst, f"ticker = '{tick}'")
    assert storage.read_table(spark, dst).filter(F.col("ticker") == tick).count() == 0
    assert storage.read_table(spark, src).filter(F.col("ticker") == tick).count() > 0
    assert storage.current_version(src) == 0
    ops = [r["operation"] for r in storage.history(spark, dst).collect()]
    assert ops == ["CLONE", "DELETE"]


def test_clone_of_fully_emptied_table_reads_as_zero_rows(
    spark, bars, tmp_path_factory
):
    """Cloning a table whose live snapshot was emptied by DELETE must yield
    a clone that reads back as a ZERO-ROW frame with the source schema
    (round-2 advice: it used to raise FileNotFoundError because the clone's
    own history had no non-empty snapshot to recover the schema from)."""
    root = tmp_path_factory.mktemp("stocks_clone_empty")
    src, dst = str(root / "src"), str(root / "dst")
    storage.write_partitioned(bars, src)
    storage.delete_where(spark, src, "true")
    assert storage.read_table(spark, src).count() == 0

    storage.clone_table(src, dst)
    d = storage.read_table(spark, dst)
    assert d.count() == 0
    assert set(d.columns) == set(storage.read_table(spark, src).columns)
    # Faithful history: the clone's v0 IS the empty state that was cloned --
    # time travel must NOT resurrect the source's pre-delete rows, and the
    # CLONE commit must report zero files (the schema carrier is metadata).
    assert storage.read_table(spark, dst, version=0).count() == 0
    clone_row = storage.history(spark, dst).filter("operation = 'CLONE'").first()
    assert json.loads(clone_row["operationMetrics"])["numFiles"] == 0
    # Still a live, independently-versioning table: inserts work on top.
    storage.merge_into(spark, dst, bars.limit(2), ["ticker", "timestamp_ms"])
    assert storage.read_table(spark, dst).count() == 2
    assert storage.read_table(spark, src).count() == 0


def test_clone_of_never_populated_table_raises_clear_error(
    bars, tmp_path_factory
):
    root = tmp_path_factory.mktemp("stocks_clone_never")
    src = str(root / "src")
    os.makedirs(src, exist_ok=True)
    # Manifest exists but no version ever held data.
    with open(os.path.join(src, "_manifest.jsonl"), "w") as f:
        f.write(
            json.dumps(
                {"version": 0, "timestamp": "2026-01-01T00:00:00Z",
                 "operation": "WRITE", "snapshot": {}}
            )
            + "\n"
        )
    with pytest.raises((ValueError, FileNotFoundError)):
        storage.clone_table(src, str(root / "dst"))


def test_table_changes_spans_schema_evolution(spark, bars, tmp_path_factory):
    """CDF across a MERGE that evolved the schema: the old snapshot is
    NULL-aligned to the new columns before diffing (instead of crashing on
    column-count mismatch), and the evolved column's values come through."""
    path = str(tmp_path_factory.mktemp("stocks_cdf_evo") / "stocks")
    storage.write_partitioned(bars, path)
    first = storage.read_table(spark, path).orderBy("ticker", "timestamp_ms").limit(1)
    upd = first.withColumn("quality_flag", F.lit("GOOD"))
    storage.merge_into(
        spark, path, upd, ["ticker", "timestamp_ms"], evolve_schema=True
    )
    ch = storage.table_changes(spark, path, from_version=1)
    assert "quality_flag" in ch.columns
    ins = ch.filter(F.col("_change_type") == "insert").collect()
    assert [r["quality_flag"] for r in ins] == ["GOOD"]
    # The matching delete is the pre-evolution row: NULL in the new column.
    dels = ch.filter(F.col("_change_type") == "delete").collect()
    assert len(dels) == 1 and dels[0]["quality_flag"] is None


def test_schema_evolution_append_rewrites_zero_base_bytes(spark, tmp_path_factory):
    """The st_schema_evolution_rollup shape: an APPEND commit in a disjoint
    partition must carry every base partition by manifest reference (zero
    rewritten), and the mixed-version read must NULL-align the added
    column for base rows."""
    from delta_lake_stock_pipeline_spark import storage

    path = str(tmp_path_factory.mktemp("evo") / "t")
    base = spark.range(10).select(
        F.col("id"), F.lit("base").alias("batch")
    )
    storage.write_partitioned(base, path, ["batch"])
    delta = spark.range(3).select(
        F.col("id"),
        F.lit("delta").alias("batch"),
        (F.col("id") * 2).cast("int").alias("extra"),
    )
    storage.write_partitioned(
        delta, path, ["batch"], operation="APPEND",
        base_snapshot=storage.snapshot_of(path, 0),
    )
    from delta_lake_stock_pipeline_spark.storage.table import _read_manifest

    m = next(e for e in _read_manifest(path) if e["version"] == 1)[
        "operationMetrics"
    ]
    assert m["numRewrittenPartitions"] == 1  # only batch=delta written
    assert m["numReferencedPartitions"] == 1  # batch=base carried by ref
    live = storage.read_table(spark, path)
    assert "extra" in live.columns
    rows = {(r["batch"], r["id"]): r["extra"] for r in live.collect()}
    assert len(rows) == 13
    assert all(v is None for (b, _), v in rows.items() if b == "base")
    assert all(v is not None for (b, _), v in rows.items() if b == "delta")


def test_restore_and_cdf_reject_nonexistent_versions(spark, bars, tmp_path_factory):
    """restore() to a version that never existed must raise instead of
    committing an empty (unreadable) snapshot; table_changes beyond the
    latest version must raise instead of fabricating phantom deletes."""
    path = str(tmp_path_factory.mktemp("stocks_guard") / "stocks")
    storage.write_partitioned(bars, path)
    with pytest.raises(ValueError, match="nonexistent version"):
        storage.restore(path, 99)
    assert storage.current_version(path) == 0  # no bad commit appended
    storage.read_table(spark, path).count()  # still readable
    with pytest.raises(ValueError, match="beyond latest"):
        storage.table_changes(spark, path, from_version=1, to_version=5)


def test_version_at_timestamp_parses_instants(spark, bars, tmp_path_factory):
    """timestampAsOf resolution must compare instants, not strings:
    sub-second and no-'Z' inputs after the commit time resolve to it."""
    from delta_lake_stock_pipeline_spark.storage import table as tbl

    path = str(tmp_path_factory.mktemp("stocks_ts") / "stocks")
    storage.write_partitioned(bars, path)
    committed = tbl._read_manifest(path)[0]["timestamp"]  # ...T..:..:..Z
    sub_second = committed.replace("Z", ".500Z")
    assert tbl.version_at_timestamp(path, sub_second) == 0
    assert tbl.version_at_timestamp(path, committed.replace("Z", "")) == 0
    with pytest.raises(ValueError, match="no version"):
        tbl.version_at_timestamp(path, "1999-01-01T00:00:00Z")


def test_multicolumn_zorder_tightens_second_column(spark, bars, tmp_path_factory):
    """ZORDER BY (timestamp_ms, volume): with the Morton key, per-file
    min/max stats stay tight on BOTH columns -- a plain timestamp sort
    leaves each file spanning ~the full volume range, so volume predicates
    can never skip files."""
    from delta_lake_stock_pipeline_spark.storage.maintenance import (
        file_column_ranges,
    )

    def avg_span(table_path, version, col):
        ranges = file_column_ranges(table_path, col, version)
        assert ranges, f"no stats for {col} in {table_path} v{version}"
        return sum(hi - lo for lo, hi in ranges) / len(ranges)

    root = tmp_path_factory.mktemp("zorder_multi")
    single, multi = str(root / "single"), str(root / "multi")
    for p in (single, multi):
        storage.write_partitioned(bars, p)
    storage.optimize(spark, single, zorder_by="timestamp_ms", max_records_per_file=15)
    storage.optimize(
        spark, multi, zorder_by=["timestamp_ms", "volume"], max_records_per_file=15
    )
    assert storage.read_table(spark, multi).count() == bars.count()

    vol_single = avg_span(single, 1, "volume")
    vol_multi = avg_span(multi, 1, "volume")
    assert vol_multi < 0.8 * vol_single, (vol_multi, vol_single)
    # And the multi-col files still cluster time far tighter than a day.
    assert avg_span(multi, 1, "timestamp_ms") < 12 * 60 * 60_000
    ops = [r["operation"] for r in storage.history(spark, multi).collect()]
    assert ops[-1] == "OPTIMIZE ZORDER BY (timestamp_ms, volume)"


def test_table_changes_scans_only_touched_partitions(spark, bars, tmp_path_factory):
    """The CDF diff is partition-pruned from manifest metadata: a MERGE that
    touched one (ticker, trade_date) partition must produce a changes scan
    whose input files all live under that partition's directories -- never
    a full-table read (the analogue of Delta reading one commit's files)."""
    path = str(tmp_path_factory.mktemp("stocks_cdf_prune") / "stocks")
    storage.write_partitioned(bars, path)
    first = storage.read_table(spark, path).orderBy("ticker", "timestamp_ms").limit(1)
    key = first.collect()[0]
    storage.merge_into(
        spark,
        path,
        first.withColumn("volume", (F.col("volume") + 7).cast("long")),
        ["ticker", "timestamp_ms"],
    )
    ch = storage.table_changes(spark, path, from_version=1)
    rel = f"ticker={key['ticker']}/trade_date={key['trade_date']}"
    files = ch.inputFiles()
    assert files, "changes scan read no files"
    assert all(rel in f for f in files), [f for f in files if rel not in f][:3]


def test_restore_rejects_vacuumed_target(spark, bars, tmp_path_factory):
    """A manifest entry can outlive its data: restoring to a version whose
    directories VACUUM removed must raise, not commit an unreadable table."""
    path = str(tmp_path_factory.mktemp("stocks_rvac") / "stocks")
    storage.write_partitioned(bars, path)
    storage.write_partitioned(
        storage.read_table(spark, path), path, operation="WRITE"
    )
    storage.vacuum(path, retain_last=1)
    with pytest.raises(ValueError, match="vacuumed"):
        storage.restore(path, 0)
    storage.read_table(spark, path).count()  # table still readable


def test_zorder_key_guards(spark, bars, tmp_path_factory):
    """zorder_key must reject non-numeric columns and sign-bit overflow
    loudly instead of crashing or silently mis-sorting."""
    from delta_lake_stock_pipeline_spark.storage.maintenance import zorder_key

    with pytest.raises(ValueError, match="numeric"):
        zorder_key(bars, ["ticker", "volume"])
    with pytest.raises(ValueError, match="exceeds 62"):
        zorder_key(bars, ["volume"] * 8, bits=8)
    # All-NULL column degrades to a degenerate bucket, not a crash.
    nulled = bars.withColumn("nullcol", F.lit(None).cast("double"))
    key = zorder_key(nulled, ["volume", "nullcol"])
    assert nulled.select(key.alias("z")).filter(F.col("z").isNull()).count() == 0


def test_delete_all_rows_leaves_readable_empty_table(spark, bars, tmp_path_factory):
    """A DELETE matching every row empties every partition; the table must
    read back as a zero-row frame with its schema intact (not crash), and
    CDF must report every row as deleted."""
    path = str(tmp_path_factory.mktemp("stocks_delall") / "stocks")
    storage.write_partitioned(bars, path)
    n0 = storage.read_table(spark, path).count()
    storage.delete_where(spark, path, "volume >= 0")
    emptied = storage.read_table(spark, path)
    assert emptied.count() == 0
    assert set(emptied.columns) == set(bars.columns)
    ch = storage.table_changes(spark, path, from_version=1)
    assert ch.filter(F.col("_change_type") == "delete").count() == n0
    assert ch.filter(F.col("_change_type") == "insert").count() == 0


def test_zorder_key_sends_nulls_to_bottom_bucket(spark):
    """NULL z-order values must land in bucket 0 (with the column minimum),
    never the TOP bucket -- Spark's least/greatest skip NULLs, so a naive
    clamp would interleave NULL rows with max-value rows and give every
    file they touch a full-width stats range (round-3 review)."""
    from delta_lake_stock_pipeline_spark.storage.maintenance import zorder_key

    df = spark.createDataFrame(
        [(None, 1.0), (0, 1.0), (100, 1.0)], "x INT, y DOUBLE"
    )
    keys = {
        r["x"]: r["k"]
        for r in df.withColumn("k", zorder_key(df, ["x", "y"])).collect()
    }
    assert keys[None] == keys[0], "NULL must share bucket 0 with the minimum"
    assert keys[None] < keys[100]


def test_vacuum_rejects_retention_that_would_delete_current(bars, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stocks_vacuum_guard") / "t")
    storage.write_partitioned(bars, path)
    with pytest.raises(ValueError, match="retain_last"):
        storage.vacuum(path, retain_last=0)


def test_merge_commit_writes_one_file_per_partition(spark, bars, tmp_path_factory):
    """The MERGE/DELETE rewrite hash-distributes onto the partition
    columns before the partitionBy write (write_partitioned's
    ``distribute_by_partition``, guide §6): a pruned commit lands exactly
    ONE file per rewritten partition instead of (upstream tasks x
    partitions) small files -- the round-11 fix for the streaming MERGE
    paths' commit amplification (92 files per 150-row commit before)."""
    path = str(tmp_path_factory.mktemp("stocks_merge_files") / "stocks")
    storage.write_partitioned(bars, path)

    # Updates spread over MANY upstream tasks: without the distribution
    # each of the 16 tasks would open a file in every partition it hits.
    updates = (
        storage.read_table(spark, path)
        .withColumn("volume", (F.col("volume") + 7).cast("long"))
        .repartition(16)
    )
    storage.merge_into(spark, path, updates, ["ticker", "timestamp_ms"])
    hist = {r["operation"]: json.loads(r["operationMetrics"])
            for r in storage.history(spark, path).collect()}
    m = hist["MERGE"]
    assert m["numFiles"] == m["numRewrittenPartitions"], m

    storage.delete_where(spark, path, "volume % 2 = 0")
    hist = {r["operation"]: json.loads(r["operationMetrics"])
            for r in storage.history(spark, path).collect()}
    d = hist["DELETE"]
    assert d["numFiles"] == d["numRewrittenPartitions"], d
