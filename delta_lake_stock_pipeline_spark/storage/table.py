"""Versioned partitioned parquet tables with a manifest log.

Re-expresses the reference's Delta lifecycle on plain parquet (SURVEY.md
§7.4 risk 2 fallback): each write lands an immutable version directory
``v0000, v0001, ...`` under the table path and appends one JSONL manifest
entry ``{version, timestamp, operation, operationMetrics, snapshot,
dataSchema}`` -- the shape ``DeltaTable.history()`` exposes
(``maintenance.py:87-91``) plus what a reader needs: ``snapshot`` maps each
partition dir of the table at that version to the version dir holding it,
and ``dataSchema`` is the schema of the files the commit wrote: the written
frame's schema minus the partition columns (``StructType.jsonValue()``; a
RESTORE writes no files and records none).

Isolation model: the log is the only source of truth. A version exists iff
it has a log entry, and a read plans from the log alone: the snapshot names
the dirs, each dir is read with the ``dataSchema`` its own commit recorded
(partition columns are typed by path discovery on the driver), so planning
a read opens no data file and launches no Spark job. A commit whose snapshot
is empty also records the table's full ``schema``, so an emptied table reads
back as a zero-row frame without any data file. Version dirs are immutable
and writers only add new ones, so a reader that resolved a version only
ever sees its files. A log entry without ``dataSchema`` (a log written
before schemas were recorded) is read with schema inference.

Commit rule: every write goes through :func:`_commit`, which holds an
exclusive ``flock`` on the log from picking the version through the data
write to appending the entry. Under the lock it refuses a writer whose read
is stale (the first committer wins, as in Delta) and removes any version
dir the log does not hold: debris of a failed or killed writer. A writer
that raises leaves no dir and no entry; the log is only appended to. Scope:
``flock`` arbitrates writers on one host; writers on several hosts need a
put-if-absent commit of the log entry, as Delta uses on object stores.
"""

from __future__ import annotations

import contextlib
import fcntl
import functools
import json
import os
import re
import shutil
import time
from collections.abc import Iterable, Mapping, Sequence
from types import MappingProxyType

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST = "_manifest.jsonl"

# Reference partition layout: stock_harvester.py:172,180.
DEFAULT_PARTITION_COLS = ("ticker", "trade_date")


def _manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST)


def _frozen(obj):
    """Read-only deep view of parsed JSON: the parsed log is shared by
    every caller, so no caller may mutate what the next one sees."""
    if isinstance(obj, dict):
        return MappingProxyType({k: _frozen(v) for k, v in obj.items()})
    if isinstance(obj, list):
        return tuple(_frozen(v) for v in obj)
    return obj


@functools.lru_cache(maxsize=64)
def _parse_manifest(mp: str, size: int, mtime_ns: int, ino: int) -> tuple:
    """Parse the first ``size`` bytes of the log; cached per file state, so
    the log is parsed once per change however many reads consult it. An
    unterminated last line that does not parse is a torn append (the
    writer died mid-line) and is skipped: it was never committed."""
    with open(mp, "rb") as f:
        data = f.read(size)
    lines = data.split(b"\n")
    tail = lines.pop()  # b"" when the log ends with a newline
    entries = [json.loads(line) for line in lines if line.strip()]
    if tail.strip():
        try:
            entries.append(json.loads(tail))
        except ValueError:
            pass
    return tuple(_frozen(e) for e in entries)


def _read_manifest(path: str) -> tuple[Mapping, ...]:
    mp = _manifest_path(path)
    try:
        st = os.stat(mp)
    except FileNotFoundError:
        return ()
    return _parse_manifest(mp, st.st_size, st.st_mtime_ns, st.st_ino)


class CommitConflictError(ValueError):
    """Another writer committed since this one read the table (its
    ``base_snapshot`` is stale). Nothing was written; re-read and retry."""


def _append_entry(log, entry: dict) -> None:
    """Append ``entry`` as one line through the open, locked log handle."""
    line = (json.dumps(entry, default=dict) + "\n").encode()
    end = log.seek(0, os.SEEK_END)
    if end:
        log.seek(end - 1)
        if log.read(1) != b"\n":
            # Unterminated tail: a complete entry keeps its line, a torn
            # one is cut off so this commit does not glue onto it.
            log.seek(0)
            cut = log.read().rfind(b"\n") + 1
            log.seek(cut)
            try:
                json.loads(log.read())
                line = b"\n" + line
            except ValueError:
                log.truncate(cut)
    log.write(line)


@contextlib.contextmanager
def _commit(path: str, base_snapshot: Mapping[str, int] | None = None):
    """The one commit path of every table write (the "Commit rule" above).
    ``base_snapshot`` is the snapshot the writer read (None: a blind write).
    Yields ``(dir, entry)``: the writer puts its files in ``dir`` and its
    fields in ``entry``, whose ``version`` is set; the entry is appended on
    exit. If the block raises, ``dir`` is removed and nothing is appended (a
    straggling task of a failed Spark job that recreates files there is
    swept by the next commit)."""
    os.makedirs(path, exist_ok=True)
    with open(_manifest_path(path), "a+b") as log:
        fcntl.flock(log, fcntl.LOCK_EX)  # released when the log is closed
        held = {e["version"]: e["snapshot"] for e in _read_manifest(path)}
        if base_snapshot is not None and (
            not held or dict(held[max(held)]) != dict(base_snapshot)
        ):
            raise CommitConflictError(f"{path} changed since it was read")
        for name in os.listdir(path):
            if re.fullmatch(r"v\d{4,}", name) and int(name[1:]) not in held:
                shutil.rmtree(os.path.join(path, name))
        entry = {"version": max(held, default=-1) + 1}
        out = _version_dir(path, entry["version"])
        try:
            yield out, entry
            ts = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
            _append_entry(log, {"version": entry["version"], "timestamp": ts, **entry})
        except BaseException:
            shutil.rmtree(out, ignore_errors=True)
            raise


def _version_dir(path: str, version: int) -> str:
    return os.path.join(path, f"v{version:04d}")


def _entry_for(path: str, version: int) -> Mapping:
    for e in _read_manifest(path):
        if e["version"] == version:
            return e
    raise ValueError(f"nonexistent version {version} of {path}: it has no log entry")


def snapshot_of(path: str, version: int) -> dict[str, int]:
    """The table snapshot at ``version``: map of partition-relative dir ->
    version whose directory physically holds that partition's files. Full
    writes map every partition to their own version; pruned MERGE/DELETE
    snapshots reference untouched partitions from earlier versions (the
    Delta-log model: a commit lists files, most carried over by reference).
    Raises ValueError for a version the log does not hold."""
    return {k: int(v) for k, v in _entry_for(path, version)["snapshot"].items()}


def _recorded_schema(path: str, version: int, key: str = "dataSchema") -> StructType | None:
    """A schema ``version``'s commit recorded: ``dataSchema`` (its own dir's
    files) or ``schema`` (the whole table, when its snapshot is empty)."""
    js = _entry_for(path, version).get(key)
    if js is None:
        return None
    # fromJson takes plain dicts, not the log's read-only views.
    return StructType.fromJson(json.loads(json.dumps(js, default=dict)))


def _union_schema(schemas: Iterable[StructType]) -> StructType:
    """Fields of all ``schemas`` by name, first occurrence first -- the
    column set ``unionByName(allowMissingColumns=True)`` resolves."""
    fields: dict = {}
    for s in schemas:
        for f in s.fields:
            fields.setdefault(f.name, f)
    return StructType(list(fields.values()))


def snapshot_dirs(path: str, version: int) -> list[str]:
    """Absolute partition directories making up ``version``'s snapshot."""
    return [
        os.path.join(_version_dir(path, v), rel) if rel else _version_dir(path, v)
        for rel, v in snapshot_of(path, version).items()
    ]


def current_version(path: str) -> int | None:
    return max((e["version"] for e in _read_manifest(path)), default=None)


def _dir_file_stats(root: str) -> tuple[list[str], int, int]:
    """(partition dirs holding parquet files, num files, total bytes) under
    ``root`` -- the reference's local walk (``maintenance.py:55-62``). Dirs
    are relative (e.g. ``ticker=T00/trade_date=...``; ``""`` when flat)."""
    rels, n, size = set(), 0, 0
    for dirpath, _dirs, files in os.walk(root):
        parquet = [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
        if parquet:
            rel = os.path.relpath(dirpath, root)
            rels.add("" if rel == "." else rel)
        n += len(parquet)
        size += sum(map(os.path.getsize, parquet))
    return sorted(rels), n, size


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = DEFAULT_PARTITION_COLS,
    operation: str = "WRITE",
    base_snapshot: dict[str, int] | None = None,
    replaced: Sequence[str] | None = None,
    max_records_per_file: int | None = None,
    codec: str | None = None,
    distribute_by_partition: bool = False,
) -> int:
    """Write a new table version partitioned by ``partition_cols`` (S4/S5,
    ``stock_harvester.py:170-181``) and log it. Returns the new version.

    Row count is captured via ``observe`` so the write job itself produces
    the metric -- no second scan over the data (at 100 TB a metrics
    ``count()`` would double the job).

    ``max_records_per_file`` is the file-size governor (the "~1 GB not
    1 KB" target the reference motivates, ``DESIGN.md:20``): writers roll
    to a new file at the cap, bounding the other direction of the
    small-file problem -- files too LARGE to parallelize a read over.
    ``codec`` picks the parquet compression (e.g. ``zstd`` for cold data,
    ``snappy``/default for hot).

    ``distribute_by_partition`` is Iceberg's ``write.distribution-mode =
    hash`` (guide §6): shuffle rows onto the partition columns before the
    ``partitionBy`` write so each partition value is written by ONE task
    -- without it, every upstream task holding rows of a partition opens
    its own file there, and a commit fans out to (tasks x partitions)
    small files (measured on the streaming MERGE paths: 92 files per
    150-row commit across 30 day-partitions; 30 after). Opt-in because
    callers that pre-arrange their own layout (OPTIMIZE's
    repartition + sortWithinPartitions z-ordering) must not be
    re-shuffled. The shuffle width follows spark.sql.shuffle.partitions
    + AQE coalescing, so it stays scale-adaptive.

    ``base_snapshot`` is the snapshot the caller read: the commit carries
    its partitions minus ``replaced`` by reference, and raises
    :class:`CommitConflictError` if another commit landed since."""
    with _commit(path, base_snapshot) as (out, entry):
        _write_into(
            out, entry, df, partition_cols, operation, base_snapshot, replaced,
            max_records_per_file, codec, distribute_by_partition,
        )
    return entry["version"]


def _write_into(
    out: str, entry: dict, df: DataFrame, partition_cols: Sequence[str], operation: str,
    base_snapshot=None, replaced=None, max_records_per_file=None, codec=None,
    distribute_by_partition=False,
) -> None:
    """The body of :func:`write_partitioned` inside its commit: write
    ``df`` into the version dir ``out`` and fill the log ``entry``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if distribute_by_partition and partition_cols:
        df = df.repartition(*[F.col(c) for c in partition_cols])
    version = entry["version"]
    obs = Observation(f"write_v{version}")
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    writer = observed.write.mode("error").partitionBy(*partition_cols)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if codec is not None:
        writer = writer.option("compression", codec)
    writer.parquet(out)
    rels, n_files, size = _dir_file_stats(out)
    own = {rel: version for rel in rels}
    # Pruned commit: carry forward unaffected partitions by reference,
    # override/add the partitions this version rewrote, drop the ones it
    # emptied (``replaced`` that produced no output dir).
    gone = set(replaced or ())
    snapshot = {rel: v for rel, v in (base_snapshot or {}).items() if rel not in gone} | own
    entry.update(
        operation=operation,
        operationMetrics={
            "numOutputRows": obs.get["rows"],
            "numFiles": n_files,
            "sizeBytes": size,
            "partitionBy": list(partition_cols),
            "numRewrittenPartitions": len(own),
            "numReferencedPartitions": len(snapshot) - len(own),
        },
        snapshot=snapshot,
        dataSchema=StructType(
            [f for f in df.schema.fields if f.name not in partition_cols]
        ).jsonValue(),
    )
    if not snapshot:
        entry["schema"] = df.schema.jsonValue()


def _parse_ts(ts: str):
    """ISO-8601 -> aware datetime (naive inputs assumed UTC). Parsing --
    not string comparison -- so sub-second or no-'Z' inputs resolve
    correctly against the manifest's second-granularity 'Z' format."""
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(ts.replace("Z", "+00:00"))
    return dt if dt.tzinfo else dt.replace(tzinfo=timezone.utc)


def version_at_timestamp(path: str, timestamp: str) -> int:
    """Delta ``timestampAsOf`` resolution: the last version committed at or
    before ``timestamp`` (ISO-8601; naive strings are taken as UTC).
    Raises if the table has no version that old."""
    want = _parse_ts(timestamp)
    candidates = [
        e["version"]
        for e in _read_manifest(path)
        if _parse_ts(e["timestamp"]) <= want
    ]
    if not candidates:
        raise ValueError(f"no version at or before {timestamp} in {path}")
    return max(candidates)


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp: str | None = None,
) -> DataFrame:
    """Scan a table version (S7; default latest). ``version`` (Delta
    ``versionAsOf``) or ``timestamp`` (``timestampAsOf``, resolved against
    manifest commit times) is time travel: old version dirs are immutable
    until VACUUM removes them.

    Resolves the version's SNAPSHOT from the log: after a pruned
    MERGE/DELETE the live table is a union of partition dirs across version
    dirs (see ``_read_rels``). Planning opens no data file and launches no
    Spark job. A version the log does not hold raises ValueError."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_at_timestamp(path, timestamp)
    v = current_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versions at {path}")
    snap = snapshot_of(path, v)
    if not snap:
        # A DELETE can empty every partition: the table is legitimately
        # zero-row, not unreadable. Its commit recorded the full schema.
        schema = _recorded_schema(path, v, "schema")
        if schema is None:
            raise FileNotFoundError(f"no data and no recorded schema at {path} v{v}")
        return spark.createDataFrame([], schema)
    return _read_rels(spark, path, snap, snap)


def restore(path: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION (Delta ``RESTORE``,
    reference maintenance surface extension): roll the LIVE table back to
    ``version``'s snapshot as a NEW commit -- pure manifest metadata, zero
    bytes copied (the old version dirs are immutable until VACUUM), and
    the rolled-back versions stay readable, so a bad restore is itself
    restorable. Returns the new version number."""
    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no versions at {path}")
    target = _entry_for(path, version)
    # A manifest entry can outlive its data (VACUUM removes version dirs,
    # not history): every directory the target snapshot references must
    # still exist, or the restore would commit an unreadable table.
    missing = [d for d in snapshot_dirs(path, version) if not os.path.isdir(d)]
    if missing:
        raise ValueError(
            f"cannot restore {path} to version {version}: "
            f"{len(missing)} referenced dirs were vacuumed (e.g. {missing[0]})"
        )
    with _commit(path, snapshot_of(path, cur)) as (_, entry):
        entry.update(
            operation="RESTORE",
            operationMetrics={
                "restoredVersion": version,
                "numReferencedPartitions": len(target["snapshot"]),
                "numRewrittenPartitions": 0,
            },
            snapshot=target["snapshot"],
        )
        if "schema" in target:  # an emptied target: keep its schema readable
            entry["schema"] = target["schema"]
    return entry["version"]


def _read_rels(
    spark: SparkSession, path: str, snap: dict[str, int], rels: Iterable[str]
) -> DataFrame | None:
    """Scan only ``rels`` partitions of a snapshot, planned from the log
    alone: one read per contributing version dir, with the data schema that
    version recorded (so no footer is read to infer it) and its dir as
    ``basePath`` (so partition columns materialize and filters on them
    still prune). A version's whole set of own partitions takes the plain
    whole-dir scan. Versions are unioned with ``allowMissingColumns`` --
    schema evolution on read: a snapshot can mix versions written before
    and after an added column (Delta reads such tables the same way --
    absent columns are NULL). None when the snapshot holds none of
    ``rels``."""
    by_ver: dict[int, list[str]] = {}
    for rel in rels:
        if rel in snap:
            by_ver.setdefault(snap[rel], []).append(rel)
    parts = []
    for sv, vrels in sorted(by_ver.items()):
        vdir = _version_dir(path, sv)
        reader = spark.read
        schema = _recorded_schema(path, sv)
        if schema is not None:
            reader = reader.schema(schema)
        own = {rel for rel, owner in snapshot_of(path, sv).items() if owner == sv}
        if set(vrels) == own:
            parts.append(reader.parquet(vdir))
        else:
            paths = [os.path.join(vdir, rel) if rel else vdir for rel in sorted(vrels)]
            parts.append(reader.option("basePath", vdir).parquet(*paths))
    if not parts:
        return None
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p, allowMissingColumns=True)
    return df


def table_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change Data Feed emulation (Delta ``table_changes`` /
    ``readChangeFeed``): every row inserted or deleted in versions
    ``[from_version, to_version]`` (both inclusive, Delta CDF's
    semantics), tagged ``_change_type`` in {'insert','delete'} and
    ``_commit_version``. Updates surface as a delete+insert pair --
    exactly how Delta reconstructs changes for commits without per-row
    CDC files (add/remove file diffing).

    Scale shape: the snapshot diff identifies the partitions each commit
    touched (manifest metadata, no data read), and only THOSE partitions
    are scanned -- the analogue of Delta reading just the add/remove files
    of a commit. Row-level changes come from ``exceptAll`` (multiset
    semantics, so duplicate rows diff correctly), one shuffle per changed
    commit over changed partitions only. Snapshots that straddle a MERGE
    schema evolution are NULL-aligned before diffing, mirroring how
    ``read_table`` unions mixed-schema snapshots.
    """
    from pyspark.sql import functions as F

    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no versions at {path}")
    to_v = cur if to_version is None else to_version
    if to_v > cur:
        raise ValueError(f"to_version {to_v} is beyond latest version {cur}")
    if from_version > to_v:
        # A silent empty feed here would read as "no changes" to a consumer
        # resuming from a stale bookmark -- fail loudly instead.
        raise ValueError(
            f"from_version {from_version} is beyond to_version {to_v}"
        )

    def _align(df: DataFrame, other: DataFrame) -> DataFrame:
        """Add ``other``'s missing columns as typed NULLs (schema evolution
        on read, same contract as read_table's allowMissingColumns)."""
        have = set(df.columns)
        for f in other.schema.fields:
            if f.name not in have:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        return df

    frames: list[DataFrame] = []
    for v in range(from_version, to_v + 1):
        snap_new = snapshot_of(path, v)
        snap_old = snapshot_of(path, v - 1) if v > 0 else {}
        changed = {
            rel
            for rel in set(snap_old) | set(snap_new)
            if snap_old.get(rel) != snap_new.get(rel)
        }
        if not changed:
            continue
        old_df = _read_rels(spark, path, snap_old, changed)
        new_df = _read_rels(spark, path, snap_new, changed)

        def _tag(df: DataFrame, kind: str) -> DataFrame:
            return df.withColumn("_change_type", F.lit(kind)).withColumn(
                "_commit_version", F.lit(v)
            )

        if old_df is None and new_df is not None:
            frames.append(_tag(new_df, "insert"))
        elif new_df is None and old_df is not None:
            frames.append(_tag(old_df, "delete"))
        elif old_df is not None and new_df is not None:
            old_a = _align(old_df, new_df)
            new_a = _align(new_df, old_df).select(*old_a.columns)
            frames.append(_tag(new_a.exceptAll(old_a), "insert"))
            frames.append(_tag(old_a.exceptAll(new_a), "delete"))
    if not frames:
        empty = read_table(spark, path, version=to_v).limit(0)
        return (
            empty.withColumn("_change_type", F.lit(None).cast("string"))
            .withColumn("_commit_version", F.lit(None).cast("int"))
        )
    df = frames[0]
    for p in frames[1:]:
        df = df.unionByName(p, allowMissingColumns=True)
    return df


def clone_table(src_path: str, dst_path: str) -> int:
    """CREATE TABLE CLONE: materialize the source's CURRENT snapshot as a
    brand-new self-contained table at ``dst_path`` without copying data --
    every parquet file is hard-linked (falling back to copy across
    filesystems). Delta's shallow clone gets zero-copy by referencing the
    source's files in its log; hard links give the same property while
    keeping the clone's metadata self-contained, so the two tables then
    version, MERGE, VACUUM, and RESTORE fully independently (and immutable
    version files make sharing the inodes safe).
    """
    src_cur = current_version(src_path)
    if src_cur is None:
        raise FileNotFoundError(f"no versions at {src_path}")
    src = _entry_for(src_path, src_cur)
    snap = snapshot_of(src_path, src_cur)
    if not snap and "schema" not in src:
        raise FileNotFoundError(
            f"cannot clone {src_path}: its snapshot is empty and records no schema"
        )
    with _commit(dst_path) as (out, entry):
        if entry["version"] != 0:
            raise FileExistsError(f"{dst_path} is already a table")
        for rel, sv in snap.items():
            src_dir = os.path.join(_version_dir(src_path, sv), rel)
            dst_dir = os.path.join(out, rel)
            os.makedirs(dst_dir, exist_ok=True)
            for fn in os.listdir(src_dir):
                if not fn.endswith(".parquet"):
                    continue
                s, d = os.path.join(src_dir, fn), os.path.join(dst_dir, fn)
                try:
                    os.link(s, d)
                except OSError:
                    shutil.copy2(s, d)
        rels, n_files, size = _dir_file_stats(out)
        entry.update(
            operation="CLONE",
            operationMetrics={
                "sourceTable": src_path,
                "sourceVersion": src_cur,
                "numFiles": n_files,
                "sizeBytes": size,
            },
            snapshot={rel: 0 for rel in rels},
        )
        if snap:
            # The hard-linked dir mixes files of every contributing source
            # version, so it is read with their union schema -- the columns
            # the source's read_table resolves -- not with one footer's.
            schemas = [_recorded_schema(src_path, sv) for sv in sorted(set(snap.values()))]
            entry["dataSchema"] = None if None in schemas else _union_schema(schemas).jsonValue()
        else:
            entry["schema"] = src["schema"]
    return 0


class ExpectationError(ValueError):
    """Raised when a ``fail``-mode expectation is violated; carries the
    per-rule violation counts."""

    def __init__(self, violations: dict[str, int]):
        super().__init__(f"expectations violated: {violations}")
        self.violations = violations


def write_with_expectations(
    df: DataFrame,
    path: str,
    expectations: dict[str, str],
    on_violation: str = "fail",
    partition_cols: Sequence[str] = DEFAULT_PARTITION_COLS,
    **write_kwargs,
) -> tuple[int | None, dict[str, int]]:
    """Data-quality-gated write (Delta CHECK constraints / DLT
    expectations): each rule is a SQL boolean that every row must satisfy.

    Violation counts are measured with ``observe`` DURING the write job --
    no second scan at any scale. ``on_violation``:

    * ``"fail"``  -- constraint semantics: if any rule is violated
      :class:`ExpectationError` raises inside the commit, so the write is
      never committed: no log entry, no version dir.
    * ``"track"`` -- DLT-style monitoring: the write commits regardless and
      the counts are returned for the caller's quality dashboard.

    Returns ``(version, violations)``.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if on_violation not in ("fail", "track"):
        raise ValueError(f"on_violation must be fail|track, got {on_violation}")
    obs = Observation("expectations")
    observed = df.observe(
        obs,
        *[
            F.sum(F.when(~F.expr(rule), 1).otherwise(0)).alias(name)
            for name, rule in expectations.items()
        ],
    )
    with _commit(path, write_kwargs.get("base_snapshot")) as (out, entry):
        _write_into(out, entry, observed, partition_cols, "WRITE", **write_kwargs)
        violations = {k: int(v or 0) for k, v in obs.get.items()}
        if on_violation == "fail" and any(violations.values()):
            raise ExpectationError({k: v for k, v in violations.items() if v})
    return entry["version"], violations


def history(spark: SparkSession, path: str) -> DataFrame:
    """Manifest as a DataFrame -- version/timestamp/operation/metrics ordered
    by version (M4, ``maintenance.py:87-91``)."""
    entries = [
        (
            e["version"],
            e["timestamp"],
            e["operation"],
            json.dumps(e.get("operationMetrics", {}), default=dict),
        )
        for e in _read_manifest(path)
    ]
    return spark.createDataFrame(
        entries, "version INT, timestamp STRING, operation STRING, operationMetrics STRING"
    ).orderBy("version")


def _partition_pred(keys: list[dict]):
    """OR-of-conjunctions predicate selecting the listed partition keys --
    static, so Catalyst prunes non-matching partition dirs at planning."""
    from functools import reduce

    from pyspark.sql import functions as F

    def one(k: dict):
        return reduce(
            lambda a, b: a & b, (F.col(c) == F.lit(v) for c, v in k.items())
        )

    return reduce(lambda a, b: a | b, (one(k) for k in keys))


def _rel_dir(key: dict) -> str:
    """Hive-style relative dir for a partition key, matching what
    ``partitionBy`` writes for the scalar types used here (strings without
    special characters, dates, ints)."""
    return "/".join(f"{c}={v}" for c, v in key.items())


def merge_into(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    partition_cols: Sequence[str] = DEFAULT_PARTITION_COLS,
    evolve_schema: bool = False,
) -> int:
    """MERGE (upsert): rows in ``updates`` replace current rows with the
    same key; unmatched update rows are inserted. The Delta-class operation
    the reference's storage layer implies but never calls (its writes are
    full overwrites, ``stock_harvester.py:170-181``).

    Partition-pruned copy-on-write, the shape that survives 100 TB: only
    partitions actually containing update keys are rewritten --

        rewritten = updates ∪ (current ⋂ affected-partitions ⟕anti updates)

    -- and every untouched partition enters the new snapshot by manifest
    REFERENCE, zero bytes moved. The affected-partition list is
    partition-granular metadata (collected to the driver exactly like
    Delta reads its log); the kept-rows scan carries a static partition
    predicate so pruning happens at planning time, and the anti join's
    build side is just the update keys (broadcast when small). Requires
    ``updates`` to carry the partition columns; Delta's MERGE needs the
    same to prune.

    Matching is TABLE-WIDE, like Delta MERGE: the affected set is the
    partitions the updates land in PLUS any partition currently holding a
    matching key -- so an update that moves a key to a new partition value
    (a corrected trade_date) deletes the old row rather than leaving a
    duplicate behind. Finding those partitions costs one column-pruned
    scan of (keys, pcols) semi-joined to the update keys; when the caller
    KNOWS partition values are key-determined, that scan returns nothing
    new and AQE makes it cheap."""
    from pyspark.sql import functions as F

    cur_v = current_version(path)
    current = read_table(spark, path, version=cur_v)
    keys = list(key_cols)
    pcols = list(partition_cols)
    upd_keys = updates.select(*keys).distinct()
    # Landing partitions (from the updates) and matching partitions (from
    # the current table, semi-joined to the update keys) are ONE unioned
    # collect: two separate jobs cost a full scheduler round-trip each for
    # a few metadata rows (round-10 optimization; measured ~0.5-1.0 s per
    # MERGE at local[32] -- at cluster scale one job also lists/plans the
    # table read once instead of twice).
    affected_rows = (
        updates.select(*pcols)
        .distinct()
        .unionByName(
            current.join(F.broadcast(upd_keys), keys, "left_semi")
            .select(*pcols)
            .distinct()
        )
        .distinct()
        .collect()
    )
    affected = [r.asDict() for r in affected_rows]  # distinct already
    if not affected:
        return cur_v
    pred = _partition_pred(affected)
    kept = current.filter(pred).join(upd_keys, keys, "left_anti")
    if evolve_schema:
        # Delta autoMerge semantics: updates may ADD columns; kept rows
        # (and, via read_table's allowMissingColumns union, every untouched
        # partition) surface NULL for them.
        merged = updates.unionByName(kept, allowMissingColumns=True)
    else:
        merged = updates.select(*current.columns).unionByName(kept)
    return write_partitioned(
        merged,
        path,
        pcols,
        operation="MERGE",
        base_snapshot=snapshot_of(path, cur_v),
        replaced=[_rel_dir(k) for k in affected],
        # One file per rewritten partition instead of (tasks x partitions)
        # -- the incremental MERGE trickle is the commit-amplified path
        # (guide §6 small-files; see write_partitioned).
        distribute_by_partition=True,
    )


def delete_where(
    spark: SparkSession,
    path: str,
    condition: str,
    partition_cols: Sequence[str] = DEFAULT_PARTITION_COLS,
) -> int:
    """DELETE: remove rows matching ``condition`` (Delta ``DELETE FROM``)
    as a partition-pruned copy-on-write commit: only partitions that
    contain at least one matching row are rewritten (minus their matching
    rows; a partition emptied entirely just drops out of the snapshot);
    all other partitions carry over by reference. A condition on partition
    columns only makes the rewrite metadata-cheap -- matching partitions
    vanish without writing a row."""
    from pyspark.sql import functions as F

    cur_v = current_version(path)
    current = read_table(spark, path, version=cur_v)
    pcols = list(partition_cols)
    cond = F.expr(condition)
    affected = [
        r.asDict()
        for r in current.filter(cond).select(*pcols).distinct().collect()
    ]
    if not affected:
        return cur_v
    pred = _partition_pred(affected)
    remaining = current.filter(pred).filter(~cond)
    return write_partitioned(
        remaining,
        path,
        pcols,
        operation="DELETE",
        base_snapshot=snapshot_of(path, cur_v),
        replaced=[_rel_dir(k) for k in affected],
        distribute_by_partition=True,
    )


def register_external(
    spark: SparkSession, name: str, path: str, version: int | None = None
) -> str:
    """External-table DDL over a version directory (D1-D3,
    ``external_table.py:135-140``): DROP IF EXISTS then CREATE ... USING
    parquet LOCATION. Dropping later removes only the catalog entry; data
    files are untouched (the external-table ownership semantics the
    reference documents, ``DESIGN.md:69-78``). Falls back to a temp view
    when catalog DDL is unavailable (D4, ``external_table.py:83-86``)."""
    v = current_version(path) if version is None else version
    if len(set(snapshot_of(path, v).values())) > 1:
        # Snapshot spans version dirs (pruned MERGE/DELETE since the last
        # full write) -- no single LOCATION exists, so register the view
        # form (D4 fallback, ``external_table.py:83-86``). OPTIMIZE
        # collapses the snapshot back into one dir, re-enabling D3.
        read_table(spark, path, v).createOrReplaceTempView(name)
        return "view"
    loc = _version_dir(path, v)
    try:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"CREATE TABLE {name} USING parquet LOCATION '{loc}'")
        spark.sql(f"MSCK REPAIR TABLE {name}")  # discover partition dirs
        return "table"
    except Exception:
        spark.read.parquet(loc).createOrReplaceTempView(name)
        return "view"


def analyze_table(
    spark: SparkSession, name: str, columns: Sequence[str] | None = None
) -> dict:
    """ANALYZE TABLE: record table (and optionally column) statistics in
    the catalog for cost-based optimization -- the optimizer-level
    analogue of the reference's ``DESCRIBE DETAIL`` file statistics (D5,
    ``maintenance.py:42-46``). With stats present (and CBO enabled in
    ``session.py``), Catalyst reorders multi-way joins and picks
    broadcast sides from real row counts rather than file-size guesses --
    at 100 TB the difference between a plan that broadcasts a filtered
    dimension and one that shuffles it.

    Returns the recorded statistics parsed back from DESCRIBE EXTENDED
    (``sizeInBytes``, ``rowCount``)."""
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {cols}")
    stats_line = next(
        (
            r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
            if r["col_name"] == "Statistics"
        ),
        "",
    )
    out: dict = {"raw": stats_line}
    for part in stats_line.split(","):
        part = part.strip()
        if part.endswith("bytes"):
            out["sizeInBytes"] = int(part.split()[0])
        elif part.endswith("rows"):
            out["rowCount"] = int(part.split()[0])
    return out


def remove_versions_before(path: str, keep_from: int) -> list[int]:
    """Delete version dirs below ``keep_from``; used by VACUUM (M2).

    A version dir is retained even below the cutoff while any RETAINED
    version's snapshot still references partitions inside it (the Delta
    VACUUM rule: eligibility is "unreferenced by the retained log", not
    age alone -- deleting by age would tear partitions out from under a
    pruned-merge snapshot)."""
    versions = [e["version"] for e in _read_manifest(path)]
    referenced = {sv for v in versions if v >= keep_from for sv in snapshot_of(path, v).values()}
    removed = [
        v for v in versions
        if v < keep_from and v not in referenced and os.path.exists(_version_dir(path, v))
    ]
    for v in removed:
        shutil.rmtree(_version_dir(path, v))
    return removed
