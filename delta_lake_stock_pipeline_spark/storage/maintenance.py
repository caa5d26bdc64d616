"""Table maintenance: OPTIMIZE (compaction + sort-clustering), VACUUM,
health checks -- the reference's physical layer (SURVEY.md §2.10 M1-M5)
re-expressed on the versioned parquet layout.

Z-ORDER note: real multi-dimensional Z-ordering needs Delta. For the
single-column case the reference actually uses (``timestamp_ms``,
``maintenance.py:149``), range-partition + in-partition sort gives the same
file-skipping property: every output file covers a tight, disjoint
timestamp range, so parquet row-group min/max stats prune time-range scans
(SURVEY.md §7.3). That emulation IS the idiomatic Spark form:
``repartitionByRange(col).sortWithinPartitions(col)``.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .table import (
    _dir_file_stats,
    _version_dir,
    current_version,
    read_table,
    remove_versions_before,
    snapshot_dirs,
    snapshot_of,
    write_partitioned,
)


def zorder_key(df: DataFrame, cols: Sequence[str], bits: int = 8):
    """Morton (Z-curve) key for MULTI-column clustering: quantize each
    column to ``bits`` buckets over its [min, max] range, then interleave
    the bucket bits. Sorting by this key gives every run of consecutive
    rows locality in ALL the columns at once -- per-file min/max stats stay
    tight on every z-ordered column, which a single-column sort only
    achieves for its first column.

    Numeric columns only (the bucket is a linear range quantization; string
    Z-ordering needs an order-preserving byte encoding and is not emulated
    here -- a clear ValueError beats a driver-side crash). The ranges come
    from one column-pruned min/max aggregate over just the listed columns
    (an extra pass at this scale; a 100 TB deployment reads the same two
    values per column from parquet footer stats instead); the key itself
    is a pure bitwise Catalyst expression, so the clustering write stays
    codegen'd.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if bits * len(cols) > 62:
        # Bit 63 is the long sign bit: interleaving into it would sort
        # those rows FIRST and silently destroy the clustering.
        raise ValueError(
            f"bits*cols = {bits * len(cols)} exceeds 62: lower bits= or cluster fewer columns"
        )
    for c in cols:
        if not isinstance(df.schema[c].dataType, T.NumericType):
            raise ValueError(
                f"zorder_key needs numeric columns; {c} is {df.schema[c].dataType.simpleString()}"
            )
    stats = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()
    scale = (1 << bits) - 1
    quantized = []
    for c in cols:
        mn_raw, mx_raw = stats[f"mn_{c}"], stats[f"mx_{c}"]
        if mn_raw is None:  # empty table / all-NULL column: degenerate bucket
            quantized.append(F.lit(0).cast("long"))
            continue
        mn, mx = float(mn_raw), float(mx_raw)
        span = (mx - mn) or 1.0
        # NULLs must land in bucket 0 BEFORE the clamp: Spark's
        # least/greatest SKIP nulls, so clamping a NULL would return the
        # other operand (the TOP bucket) and NULL rows would interleave
        # with max-value rows, giving every file they touch a full-width
        # min/max range on this column.
        val = F.coalesce(F.col(c).cast("double"), F.lit(mn))
        q = F.floor((val - F.lit(mn)) / F.lit(span) * scale)
        quantized.append(
            F.greatest(F.lit(0), F.least(F.lit(scale), q)).cast("long")
        )
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, q in enumerate(quantized):
            bit = F.shiftright(q, i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, i * len(quantized) + j))
    return key


def optimize(
    spark: SparkSession,
    path: str,
    partition_cols: Sequence[str] = ("ticker", "trade_date"),
    zorder_by: str | Sequence[str] | None = None,
    max_records_per_file: int | None = None,
) -> int:
    """Compact the current version into a new one (M1).

    * Compaction: ``repartition(partition_cols)`` routes every row of a
      partition to one task -> few output files per partition directory
      instead of one-per-input-task (the small-file problem,
      ``DESIGN.md:16-24``); ``max_records_per_file`` bounds the other
      direction.
    * ``zorder_by``: sort within tasks by the cluster column(s) so each
      output file covers a tight value range (file-skipping stats). A
      single column sorts directly (the idiomatic
      range-partition+sort emulation); MULTIPLE columns sort by the Morton
      key from :func:`zorder_key` -- real multi-dimensional Z-ordering, so
      files stay skippable on every listed column.

    Returns the new version; the old version remains readable until VACUUM
    (row-preservation is asserted by callers/tests, ``maintenance.py:204-207``).
    """
    from pyspark.sql import functions as F

    v = current_version(path)
    df = read_table(spark, path, version=v)
    snap = snapshot_of(path, v)
    parts = [F.col(c) for c in partition_cols]
    compacted = df.repartition(*parts)
    zcols = (
        [zorder_by] if isinstance(zorder_by, str) else list(zorder_by or ())
    )
    if len(zcols) == 1:
        compacted = compacted.sortWithinPartitions(*partition_cols, zcols[0])
    elif zcols:
        zname = "__z"
        while zname in df.columns:  # collision-proof: never clobber data
            zname += "_"
        compacted = (
            compacted.withColumn(zname, zorder_key(df, zcols))
            .sortWithinPartitions(*partition_cols, zname)
            .drop(zname)
        )
    return write_partitioned(
        compacted,
        path,
        partition_cols=partition_cols,
        operation="OPTIMIZE"
        + (f" ZORDER BY ({', '.join(zcols)})" if zcols else ""),
        max_records_per_file=max_records_per_file,
        # Every partition read is rewritten; a commit since the read raises.
        base_snapshot=snap,
        replaced=list(snap),
    )


def vacuum(path: str, retain_last: int = 1) -> list[int]:
    """Remove version directories older than the newest ``retain_last``
    (M2; the reference's RETAIN-hours knob maps to retained versions in a
    manifest-versioned layout -- local runs use 0h/aggressive retention,
    ``maintenance.py:167-171``). Returns removed versions."""
    if retain_last < 1:
        # retain_last=0 would delete the CURRENT version's directory while
        # the manifest still references it, bricking the table.
        raise ValueError(f"retain_last must be >= 1, got {retain_last}")
    cur = current_version(path)
    if cur is None:
        return []
    return remove_versions_before(path, cur - retain_last + 1)


@dataclass
class HealthReport:
    """Before/after table health (M3, ``StockTableHealthCheck``
    ``maintenance.py:28-106``): file stats + row count + per-key counts."""

    num_files: int
    total_mb: float
    avg_mb: float
    row_count: int
    key_counts: dict = field(default_factory=dict)


def health_check(
    spark: SparkSession, path: str, key_col: str = "ticker"
) -> HealthReport:
    v = current_version(path)
    if v is None:
        raise FileNotFoundError(f"no versions at {path}")
    n_files, size = 0, 0
    for d in snapshot_dirs(path, v):  # snapshot may span version dirs
        _, nf, sz = _dir_file_stats(d)
        n_files += nf
        size += sz
    df = read_table(spark, path)
    counts = {r[0]: r[1] for r in df.groupBy(key_col).count().collect()}
    return HealthReport(
        num_files=n_files,
        total_mb=round(size / 1e6, 3),
        avg_mb=round(size / 1e6 / n_files, 3) if n_files else 0.0,
        row_count=sum(counts.values()),
        key_counts=counts,
    )


def compare_health(before: HealthReport, after: HealthReport) -> dict:
    """The reference's before/after maintenance diff + row-preservation
    verdict (``maintenance.py:195-207``)."""
    return {
        "files_delta": after.num_files - before.num_files,
        "avg_mb_delta": round(after.avg_mb - before.avg_mb, 3),
        "rows_preserved": before.row_count == after.row_count,
    }


def file_column_ranges(
    path: str, column: str, version: int | None = None
) -> list[tuple]:
    """Per-file (min, max) of ``column`` from parquet footer stats -- how a
    scan planner skips files; used to assert the Z-ORDER emulation actually
    tightened per-file ranges (on every clustered column)."""
    import pyarrow.parquet as pq

    v = current_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versions at {path}")
    out = []
    for dirpath, _dirs, files in (
        w for root in snapshot_dirs(path, v) for w in os.walk(root)
    ):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(dirpath, fn)).metadata
            schema_names = md.schema.to_arrow_schema().names
            if column not in schema_names:
                continue
            idx = schema_names.index(column)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is not None:
                    mins.append(st.min)
                    maxs.append(st.max)
            if mins:
                out.append((min(mins), max(maxs)))
    return out


def file_timestamp_ranges(path: str, version: int | None = None) -> list[tuple]:
    """Backward-compatible alias: footer ranges of ``timestamp_ms``."""
    return file_column_ranges(path, "timestamp_ms", version)
