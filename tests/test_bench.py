"""bench.py's per-key measurement."""

from __future__ import annotations

import pytest

from delta_lake_stock_pipeline_spark.operators import all_queries


# One pure-JVM key and one that crosses into Python workers.
@pytest.mark.parametrize("key", ["a0_flagship_daily_rollup", "u_pandas_udf"])
def test_run_key_records_wall_cpu_and_jobs_then_clears_the_group(spark, sf_dir, key):
    import bench

    rec = bench._run_key(spark, key, all_queries()[key], sf_dir)
    assert set(rec) == {"wall_s", "cpu_s", "jobs"}
    assert rec["jobs"] >= 1
    assert rec["cpu_s"] > 0
    assert rec["wall_s"] > 0
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
