#!/usr/bin/env python
"""Pre-driver gate: one command that simulates everything the external
driver will check, plus the repo's own plan-quality bar. Exits non-zero on
any failure. Run before ending a round:

    PYTHONPATH=/root/repo python tools/predriver_check.py

Stages (each previously an ad-hoc step; failures here caught the round-2
decimal and round-3 HUGEINT bugs only AFTER a driver run -- this script
runs them all up front):

1. **Oracle type sweep** -- every oracle's DuckDB result schema must use
   only engine-portable types (no HUGEINT/DECIMAL/...); seconds, no Spark.
2. **Vanilla-session parity** -- all oracled keys compared against DuckDB
   at sf0.001 AND sf0.01 under a VANILLA SparkSession (the driver does not
   apply session.py's configs, so any conf the engine needs must be set at
   runtime inside the queries themselves). Each frame first passes the
   blanket plan audit (``plans.audit_plan``: no CartesianProduct, BNLJ and
   pickle only on their allowlists).
3. **Rows-only keys** -- non-SQL-expressible keys still must run and
   return >= 0 rows with a stable schema at sf0.01, after the same plan
   audit.
4. **Per-operator plan gates** -- pytest tests/test_plans.py (pushdown,
   pruning, broadcast, top-k and spread gates per operator class).

Set SPARK_GRAFT_PREDRIVER_STAGES=1,2 (comma list) to run a subset.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")
ROWS_ONLY_SF = "/root/testdata/sf0.01"


def _stage_enabled(n: int) -> bool:
    sel = os.environ.get("SPARK_GRAFT_PREDRIVER_STAGES")
    return sel is None or str(n) in sel.split(",")


def stage1_oracle_type_sweep() -> list[str]:
    import duckdb  # noqa: F401

    from __spark_entry__ import oracle_sql
    from delta_lake_stock_pipeline_spark.testing import (
        _PORTABLE_DUCKDB_TYPES,
        duckdb_connection,
    )

    failures = []
    # Driver-window sanity: every window slot must be an oracled key or it
    # wastes a correctness row. Size imported from the one definition.
    from __spark_entry__ import queries
    from delta_lake_stock_pipeline_spark.operators import DRIVER_WINDOW_SIZE

    window = list(queries())[:DRIVER_WINDOW_SIZE]
    orc = oracle_sql()
    unoracled = [k for k in window if k not in orc]
    if unoracled:
        failures.append(f"driver window contains un-oracled keys: {unoracled}")
    con = duckdb_connection(SF_DIRS[0])
    for key, sql in sorted(orc.items()):
        try:
            rel = con.sql(sql)
            bad = [
                (c, str(t))
                for c, t in zip(rel.columns, rel.types)
                if str(t).split("(")[0].upper() not in _PORTABLE_DUCKDB_TYPES
            ]
            if bad:
                failures.append(f"{key}: non-portable oracle types {bad}")
        except Exception as exc:  # noqa: BLE001 -- gate reports, never crashes
            failures.append(f"{key}: oracle errored: {exc}")
    con.close()
    return failures


def _vanilla_spark():
    """The driver's session: NO session.py configs beyond master/shuffle."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("predriver-check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def stage2_vanilla_parity(spark) -> list[str]:
    from __spark_entry__ import oracle_sql, queries
    from delta_lake_stock_pipeline_spark.plans import audit_plan
    from delta_lake_stock_pipeline_spark.testing import compare, duckdb_connection

    q, o = queries(), oracle_sql()
    failures = []
    for sf in SF_DIRS:
        con = duckdb_connection(sf)
        t0 = time.time()
        for key in q:
            if key not in o:
                continue
            try:
                df = q[key](spark, sf)
                audit_plan(key, df)
                res = compare(key, df, con, o[key])
                if not res.ok:
                    failures.append(f"{key} @ {os.path.basename(sf)}: {res.detail}")
            except Exception as exc:  # noqa: BLE001
                failures.append(f"{key} @ {os.path.basename(sf)}: errored: {exc}")
        con.close()
        print(
            f"  parity @ {os.path.basename(sf)}: {len(o)} keys in "
            f"{time.time() - t0:.0f}s",
            flush=True,
        )
    return failures


def stage3_rows_only(spark) -> list[str]:
    from __spark_entry__ import oracle_sql, queries
    from delta_lake_stock_pipeline_spark.plans import audit_plan

    q, o = queries(), oracle_sql()
    failures = []
    for key in sorted(set(q) - set(o)):
        try:
            df = q[key](spark, ROWS_ONLY_SF)
            audit_plan(key, df)
            if not df.columns:
                failures.append(f"{key}: empty schema")
            elif df.count() < 0:  # pragma: no cover -- count() is >= 0
                failures.append(f"{key}: negative count")
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{key}: errored: {exc}")
    return failures


def stage4_plan_gates() -> list[str]:
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/test_plans.py", "-x", "-q"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    if proc.returncode != 0:
        tail = "\n".join(proc.stdout.splitlines()[-15:])
        return [f"plan gates failed (exit {proc.returncode}):\n{tail}"]
    return []


def main() -> int:
    failures: list[str] = []
    t0 = time.time()

    if _stage_enabled(1):
        print("[1/4] oracle type sweep ...", flush=True)
        failures += stage1_oracle_type_sweep()

    spark = None
    if _stage_enabled(2) or _stage_enabled(3):
        spark = _vanilla_spark()
    if _stage_enabled(2):
        print("[2/4] vanilla-session parity (sf0.001 + sf0.01) ...", flush=True)
        failures += stage2_vanilla_parity(spark)
    if _stage_enabled(3):
        print("[3/4] rows-only keys ...", flush=True)
        failures += stage3_rows_only(spark)
    if spark is not None:
        spark.stop()

    if _stage_enabled(4):
        print("[4/4] per-operator plan gates (pytest tests/test_plans.py) ...", flush=True)
        failures += stage4_plan_gates()

    print(f"\npredriver_check: {time.time() - t0:.0f}s total")
    if failures:
        print(f"FAIL ({len(failures)}):")
        for f in failures:
            print(f"  - {f}")
        return 1
    print("OK: all stages green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
