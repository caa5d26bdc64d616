"""Storage lifecycle (SURVEY.md §2.1 S4-S8, §2.9 DDL, §2.10 maintenance).

The reference's differentiator is its Delta table lifecycle: partitioned
write -> OPTIMIZE + Z-ORDER -> VACUUM -> history audit -> external-table
DDL -> health checks. delta-spark is optional in this environment
(``session.have_delta()``), so this package re-expresses the lifecycle on
plain parquet with a versioned layout + JSONL manifest:

* ``stocks``       -- the reference's OHLCV data model, synthesized
                      distributively (no driver-side row loop).
* ``table``        -- versioned partitioned writes, reads (with time
                      travel), manifest history, external-table DDL.
* ``maintenance``  -- compaction (OPTIMIZE), sort-clustering (Z-ORDER
                      emulation), VACUUM, before/after health checks.

Each version is an immutable directory ``v0000, v0001, ...`` under the
table path; the manifest records (version, timestamp, operation, metrics,
snapshot, data schema), and reads plan from it alone (``table.py``).
Every write commits through one locked path, so a stale writer raises
:class:`CommitConflictError` and a failed one leaves nothing behind.
Readers resolve the latest version -- writers never mutate files a
concurrent reader may hold open, the same isolation Delta's log provides.
At 100 TB this layout is object-store friendly: no renames of data files,
only directory-scoped additions plus a small append-only manifest.
"""

from .bucketed import bucketed_join, write_bucketed
from .maintenance import HealthReport, compare_health, health_check, optimize, vacuum
from .stocks import STOCK_SCHEMA, synthesize_bars, with_derived_columns
from .table import (
    CommitConflictError,
    ExpectationError,
    analyze_table,
    clone_table,
    current_version,
    delete_where,
    history,
    merge_into,
    read_table,
    register_external,
    restore,
    snapshot_dirs,
    snapshot_of,
    table_changes,
    write_partitioned,
    write_with_expectations,
)

__all__ = [
    "CommitConflictError",
    "ExpectationError",
    "clone_table",
    "restore",
    "table_changes",
    "write_with_expectations",
    "STOCK_SCHEMA",
    "analyze_table",
    "HealthReport",
    "bucketed_join",
    "write_bucketed",
    "compare_health",
    "current_version",
    "delete_where",
    "health_check",
    "merge_into",
    "history",
    "optimize",
    "read_table",
    "register_external",
    "snapshot_dirs",
    "snapshot_of",
    "synthesize_bars",
    "vacuum",
    "with_derived_columns",
    "write_partitioned",
]
