"""The manifest log as the only thing a table read consults: recorded data
schemas, job-free read planning, log-only versions, a torn log tail, and
the parsed-log cache. And the one commit path every write takes: failed or
killed writers leave nothing behind, a stale writer is refused, concurrent
writers get distinct versions, and the log is only appended to.
"""

from __future__ import annotations

import itertools
import json
import os
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from delta_lake_stock_pipeline_spark import storage
from delta_lake_stock_pipeline_spark.storage import table as tbl

KEYS = ["ticker", "timestamp_ms"]
_group_ids = itertools.count()


@pytest.fixture(scope="module")
def bars(spark):
    """2 tickers x 3 days x 30 bars: six (ticker, trade_date) partitions."""
    return storage.with_derived_columns(
        storage.synthesize_bars(spark, n_tickers=2, n_days=3, bars_per_day=30)
    )


def _inferred(spark, path, version):
    """A snapshot read that infers each version dir's schema from its
    parquet footers -- the reference the recorded schemas must match."""
    by_ver: dict[int, list[str]] = {}
    for rel, sv in storage.snapshot_of(path, version).items():
        by_ver.setdefault(sv, []).append(rel)
    parts = []
    for sv, rels in sorted(by_ver.items()):
        vdir = tbl._version_dir(path, sv)
        paths = [os.path.join(vdir, rel) if rel else vdir for rel in sorted(rels)]
        parts.append(spark.read.option("basePath", vdir).parquet(*paths))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p, allowMissingColumns=True)
    return df


def _jobs_to_plan(spark, build) -> list[int]:
    """Spark jobs launched while ``build()`` constructs and analyzes a
    DataFrame (job group counted once the listener bus has drained)."""
    sc = spark.sparkContext
    group = f"plan-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        build().schema
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_commit_records_data_schema_without_partition_columns(spark, bars, tmp_path):
    path = str(tmp_path / "t")
    storage.write_partitioned(bars, path)
    (entry,) = tbl._read_manifest(path)
    names = [f["name"] for f in entry["dataSchema"]["fields"]]
    assert names == [c for c in bars.columns if c not in ("ticker", "trade_date")]


def test_read_schema_equals_inference_for_every_commit_kind(spark, bars, tmp_path):
    """For every kind of commit, the log-planned read resolves the schema
    footer inference gives for the same version. The one exception is the
    evolved clone, where one footer of the mixed dir is the wrong answer."""
    from delta_lake_stock_pipeline_spark.streaming.runtime import stream_upsert_to_table

    path = str(tmp_path / "t")
    t0 = bars.select("ticker").orderBy("ticker").first()["ticker"]
    storage.write_partitioned(bars, path)  # v0 WRITE
    storage.write_partitioned(  # v1 evolved APPEND
        bars.filter(F.col("ticker") == t0)
        .withColumn("ticker", F.lit("ZZZ"))
        .withColumn("quality", F.lit("A")),
        path,
        operation="APPEND",
        base_snapshot=storage.snapshot_of(path, 0),
    )
    one = bars.orderBy(*KEYS).limit(1).withColumn("flag", F.lit(True))
    storage.merge_into(spark, path, one, KEYS, evolve_schema=True)  # v2 MERGE
    storage.delete_where(spark, path, "volume % 3 = 0")  # v3 DELETE
    storage.optimize(spark, path, zorder_by="timestamp_ms")  # v4
    storage.optimize(spark, path, zorder_by=["timestamp_ms", "volume"])  # v5
    storage.restore(path, 3)  # v6 RESTORE
    ops = [e["operation"] for e in tbl._read_manifest(path)]
    assert ops == [
        "WRITE", "APPEND", "MERGE", "DELETE", "OPTIMIZE ZORDER BY (timestamp_ms)",
        "OPTIMIZE ZORDER BY (timestamp_ms, volume)", "RESTORE",
    ]

    src = tmp_path / "stream_src"
    days = sorted(r[0] for r in bars.select("trade_date").distinct().collect())
    for d in days[:2]:
        bars.filter(F.col("trade_date") == d).coalesce(1).write.mode("append").parquet(
            str(src)
        )
    streamed = str(tmp_path / "streamed")
    stream_upsert_to_table(
        spark.readStream.schema(bars.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        streamed,
        key_cols=KEYS,
        partition_cols=["ticker", "trade_date"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        order_col="timestamp_ms",
    )
    assert tbl._read_manifest(streamed)[0]["operation"].startswith("STREAM WRITE")

    plain = str(tmp_path / "plain")
    storage.write_partitioned(bars, plain)
    plain_clone = str(tmp_path / "plain_clone")
    storage.clone_table(plain, plain_clone)

    for p in (path, streamed, plain_clone):
        for v in range(storage.current_version(p) + 1):
            got = storage.read_table(spark, p, version=v).schema
            assert got == _inferred(spark, p, v).schema, (p, v)

    evolved_clone = str(tmp_path / "evolved_clone")
    storage.clone_table(path, evolved_clone)
    assert set(storage.read_table(spark, evolved_clone).columns) == set(
        storage.read_table(spark, path).columns
    )


def test_clone_keeps_columns_added_after_the_first_write(spark, tmp_path):
    """The clone's hard-linked dir mixes files written before and after an
    added column; it must read back every column of the source snapshot
    with the source's values, not the schema of whichever footer is read."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    storage.write_partitioned(
        spark.range(10).select("id", F.lit("base").alias("batch")), src, ["batch"]
    )
    storage.write_partitioned(
        spark.range(3).select(
            "id",
            F.lit("delta").alias("batch"),
            (F.col("id") * 2).cast("int").alias("extra"),
        ),
        src,
        ["batch"],
        operation="APPEND",
        base_snapshot=storage.snapshot_of(src, 0),
    )
    storage.clone_table(src, dst)
    s, d = storage.read_table(spark, src), storage.read_table(spark, dst)
    assert sorted(d.columns) == ["batch", "extra", "id"]
    assert _rows(d) == _rows(s)


@pytest.mark.parametrize(
    "kind", ["single", "merged_and_deleted", "time_travel", "changes"]
)
def test_table_read_runs_no_spark_job(spark, bars, tmp_path, kind):
    path = str(tmp_path / "t")
    storage.write_partitioned(bars, path)
    if kind != "single":
        upd = bars.orderBy(*KEYS).limit(2).withColumn("volume", F.col("volume") + 1)
        storage.merge_into(spark, path, upd, KEYS)
        t0 = bars.select("ticker").orderBy("ticker").first()["ticker"]
        storage.delete_where(spark, path, f"ticker = '{t0}' AND volume % 2 = 0")
        assert len(set(storage.snapshot_of(path, 2).values())) > 1
    build = {
        "single": lambda: storage.read_table(spark, path),
        "merged_and_deleted": lambda: storage.read_table(spark, path),
        "time_travel": lambda: storage.read_table(spark, path, version=1),
        "changes": lambda: storage.table_changes(spark, path, from_version=0),
    }[kind]
    assert _jobs_to_plan(spark, build) == []


def test_log_without_data_schema_is_read_with_inference(spark, bars, tmp_path):
    """A log written before schemas were recorded still reads: its entries
    have no ``dataSchema``, so each dir's schema is inferred."""
    path = str(tmp_path / "t")
    storage.write_partitioned(bars, path)
    storage.merge_into(spark, path, bars.orderBy(*KEYS).limit(3), KEYS)
    expected = storage.read_table(spark, path)
    expected_schema, expected_rows = expected.schema, _rows(expected)
    entries = [json.loads(json.dumps(e, default=dict)) for e in tbl._read_manifest(path)]
    for e in entries:
        del e["dataSchema"]
    with open(tbl._manifest_path(path), "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in entries)
    assert all("dataSchema" not in e for e in tbl._read_manifest(path))
    got = storage.read_table(spark, path)
    assert got.schema == expected_schema
    assert _rows(got) == expected_rows


def test_uncommitted_version_dir_is_neither_readable_nor_restorable(
    spark, bars, tmp_path
):
    """A crash between the data write and the log append leaves an orphan
    version dir. Only the log says what is committed: the orphan is not a
    version, so time travel to it and RESTORE to it both raise."""
    path = str(tmp_path / "t")
    storage.write_partitioned(bars, path)
    orphan = tbl._version_dir(path, 1)
    bars.limit(3).write.partitionBy("ticker", "trade_date").parquet(orphan)
    assert storage.current_version(path) == 0
    with pytest.raises(ValueError, match="nonexistent version"):
        storage.read_table(spark, path, version=1)
    with pytest.raises(ValueError, match="nonexistent version"):
        storage.restore(path, 1)
    assert storage.current_version(path) == 0
    assert storage.read_table(spark, path).count() == bars.count()
    # The next commit removes the orphan and takes its version number.
    assert storage.write_partitioned(bars.limit(5), path) == 1
    assert storage.read_table(spark, path).count() == 5


def test_failed_write_job_leaves_no_version_dir(spark, bars, tmp_path):
    """Fault injection: the write job fails part-way on one poisoned row.
    Nothing is committed, no ``v0001/`` is left behind, and the next write
    commits version 1."""
    path = str(tmp_path / "t")
    storage.write_partitioned(bars, path)
    first = bars.orderBy(*KEYS).first()
    poison = (F.col("ticker") == first["ticker"]) & (
        F.col("timestamp_ms") == first["timestamp_ms"]
    )
    poisoned = bars.withColumn(
        "volume", F.when(poison, F.raise_error("poisoned row")).otherwise(F.col("volume"))
    )
    with pytest.raises(Exception, match="poisoned row"):
        storage.write_partitioned(poisoned, path)
    assert not os.path.exists(tbl._version_dir(path, 1))
    assert storage.current_version(path) == 0
    assert storage.write_partitioned(bars.limit(5), path) == 1
    assert storage.read_table(spark, path).count() == 5


def test_failed_expectation_leaves_the_log_untouched(bars, tmp_path):
    """A ``fail``-mode expectation raises inside the commit: the log keeps
    its bytes and its file state, and no version dir is left."""
    path = str(tmp_path / "t")
    storage.write_partitioned(bars, path)
    mp = tbl._manifest_path(path)

    def state():
        st = os.stat(mp)
        with open(mp, "rb") as f:
            return f.read(), (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)

    before = state()
    with pytest.raises(storage.ExpectationError):
        storage.write_with_expectations(bars, path, {"never": "volume < 0"})
    assert state() == before
    assert sorted(os.listdir(path)) == [tbl.MANIFEST, "v0000"]


def _batches(spark, rows: dict[int, int]):
    """``rows[b]`` ids in partition ``batch=b``."""
    df = None
    for b, n in rows.items():
        part = spark.range(n).select("id", F.lit(b).alias("batch"))
        df = part if df is None else df.unionByName(part)
    return df


def test_stale_commit_raises_and_changes_nothing(spark, tmp_path):
    """First committer wins: a writer that read v0 may not commit after v1
    landed, even on another partition -- committing would carry v0's
    ``batch=0`` forward and silently drop v1's row there."""
    path = str(tmp_path / "t")
    storage.write_partitioned(_batches(spark, {0: 3, 1: 3}), path, ["batch"])
    read_at_v0 = storage.snapshot_of(path, 0)
    storage.merge_into(spark, path, _batches(spark, {0: 4}), ["id", "batch"], ["batch"])
    mp = tbl._manifest_path(path)
    with open(mp, "rb") as f:
        log = f.read()
    rows = _rows(storage.read_table(spark, path))
    with pytest.raises(storage.CommitConflictError):
        storage.write_partitioned(
            _batches(spark, {1: 5}),
            path,
            ["batch"],
            operation="APPEND",
            base_snapshot=read_at_v0,
            replaced=["batch=1"],
        )
    with open(mp, "rb") as f:
        assert f.read() == log
    assert _rows(storage.read_table(spark, path)) == rows
    assert not os.path.exists(tbl._version_dir(path, 2))


def test_concurrent_blind_writes_get_distinct_versions(spark, tmp_path):
    path = str(tmp_path / "t")
    with ThreadPoolExecutor(2) as pool:
        versions = list(
            pool.map(
                lambda b: storage.write_partitioned(_batches(spark, {b: 3}), path, ["batch"]),
                [0, 1],
            )
        )
    assert sorted(versions) == [0, 1]
    assert [e["version"] for e in tbl._read_manifest(path)] == [0, 1]
    assert storage.read_table(spark, path).count() == 3


def test_emptied_table_survives_vacuum(spark, bars, tmp_path):
    """An emptied snapshot reads its schema from its own log entry, so it
    stays readable, clonable and restorable after VACUUM removed every
    version that held data."""
    path = str(tmp_path / "t")
    storage.write_partitioned(bars, path)
    schema = storage.read_table(spark, path).schema
    storage.delete_where(spark, path, "volume >= 0")  # v1: empty
    assert storage.vacuum(path) == [0]
    emptied = storage.read_table(spark, path)
    assert emptied.schema == schema and emptied.count() == 0

    clone = str(tmp_path / "clone")
    storage.clone_table(path, clone)
    cloned = storage.read_table(spark, clone)
    assert cloned.schema == schema and cloned.count() == 0

    storage.write_partitioned(bars.limit(4), path)  # v2
    assert storage.restore(path, 1) == 3
    storage.vacuum(path)
    restored = storage.read_table(spark, path)
    assert restored.schema == schema and restored.count() == 0


def test_torn_log_tail_is_skipped_then_cut_by_the_next_commit(spark, bars, tmp_path):
    """Fault injection: the last append died mid-line. Readers skip the
    torn line (it was never committed); the next commit cuts it off
    instead of gluing its own entry onto the fragment."""
    path = str(tmp_path / "t")
    mp = tbl._manifest_path(path)
    storage.write_partitioned(bars, path)
    n = bars.count()
    storage.restore(path, 0)  # v1, metadata only
    with open(mp, "rb") as f:
        data = f.read()
    last = data.rstrip(b"\n").rfind(b"\n") + 1
    with open(mp, "wb") as f:
        f.write(data[: last + (len(data) - last) // 2])

    assert [e["version"] for e in tbl._read_manifest(path)] == [0]
    assert storage.read_table(spark, path).count() == n

    t0 = bars.select("ticker").orderBy("ticker").first()["ticker"]
    assert storage.delete_where(spark, path, f"ticker = '{t0}'") == 1
    with open(mp, "rb") as f:
        lines = f.read().split(b"\n")
    assert lines[-1] == b""
    assert [json.loads(line)["operation"] for line in lines[:-1]] == ["WRITE", "DELETE"]
    kept = bars.filter(F.col("ticker") != t0).count()
    assert storage.read_table(spark, path).count() == kept

    # A complete last entry that only lost its newline is kept, and the
    # next commit starts on a line of its own.
    with open(mp, "rb+") as f:
        f.truncate(os.path.getsize(mp) - 1)
    assert storage.current_version(path) == 1
    assert storage.restore(path, 0) == 2
    with open(mp) as f:
        assert [json.loads(line)["version"] for line in f] == [0, 1, 2]
    assert storage.read_table(spark, path).count() == n


def test_log_cache_follows_appends(spark, bars, tmp_path):
    path = str(tmp_path / "t")
    storage.write_partitioned(bars, path)
    first = tbl._read_manifest(path)
    assert tbl._read_manifest(path) is first  # unchanged log: parsed once

    storage.restore(path, 0)
    assert [e["version"] for e in tbl._read_manifest(path)] == [0, 1]

    with pytest.raises(storage.ExpectationError):
        storage.write_with_expectations(bars, path, {"never": "volume < 0"})
    # The failed write was never appended; the cache serves the log as is.
    assert [e["version"] for e in tbl._read_manifest(path)] == [0, 1]
    assert storage.current_version(path) == 1


def test_log_entries_are_read_only(bars, tmp_path):
    path = str(tmp_path / "t")
    storage.write_partitioned(bars, path)
    entry = tbl._read_manifest(path)[0]
    with pytest.raises(TypeError):
        entry["operation"] = "DELETE"
    with pytest.raises(TypeError):
        entry["snapshot"]["ticker=X/trade_date=2024-01-01"] = 0
    with pytest.raises(AttributeError):
        entry["dataSchema"]["fields"].append({})
    again = tbl._read_manifest(path)[0]
    assert again["operation"] == "WRITE"
    assert "ticker=X/trade_date=2024-01-01" not in again["snapshot"]
