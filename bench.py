"""Benchmark harness: run every registered query end-to-end and print ONE
JSON line for the driver (BENCH_r{N}.json).

Usage: python bench.py
  * data:    $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
  * master:  local[$SPARK_GRAFT_CPUS] (default local[*])

Each query is forced through full execution with the ``noop`` sink (count()
alone would let Catalyst prune projected expressions and under-report).

Each key runs once, under its own job group, and lands in ``layers`` as
``wall_s`` (construction plus the write), ``cpu_s`` (CPU seconds of the
whole process tree over the same span: driver, JVM and Python workers)
and ``jobs`` (the Spark jobs its group ran). ``band`` holds the same
wall/CPU pair for the whole query loop, plus the host's steal seconds
over it. Interference rule (the thresholds of
``perfbench.trace.interfered``): a key whose ``wall_s`` grew by more than
25% against an earlier sweep while its ``cpu_s`` stayed within 10% was
slowed by the host, not by the code.
"""

from __future__ import annotations

import json
import os
import sys
import time

from perfbench.trace import cpu_seconds, process_tree, steal_seconds

# Ingest-time artifacts priced as setup lines, in output order. Each is
# declared next to its builder (``@artifact(setup=..., used_by=...)``);
# this list only fixes the order of the JSON keys under "setup".
SETUP_ARTIFACTS = (
    "ann_ivf_index ann_pq_index ann_ivfpq_index dedup_postings dedup_pairs "
    "image_fingerprints audio_fingerprints image_nd_clusters audio_nd_clusters "
    "video_frames video_nd_clusters trade_adjacency trade_edges stream_tiles"
).split()


def _run_key(spark, name: str, fn, sf_dir: str) -> dict:
    """Run registry key ``name`` once through the ``noop`` sink under job
    group ``name``: wall and process-tree CPU seconds of construction plus
    the write, and the number of jobs the group ran. The group is cleared
    before returning, also when the key raises, so later jobs are not
    charged to it."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    c0, t0 = cpu_seconds(process_tree(os.getpid())), time.perf_counter()
    try:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        sc._jsc.clearJobGroup()
    wall = time.perf_counter() - t0
    cpu = cpu_seconds(process_tree(os.getpid())) - c0
    # Job ends reach the status store through the listener bus.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(name))
    return {"wall_s": round(wall, 3), "cpu_s": round(cpu, 3), "jobs": jobs}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = sf

    from delta_lake_stock_pipeline_spark.operators import all_queries
    from delta_lake_stock_pipeline_spark.session import get_spark

    spark = get_spark(app_name=f"bench-sf{sf}")
    spark.sparkContext.setLogLevel("ERROR")

    queries = all_queries()
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        prefixes = tuple(only.split(","))
        queries = {k: v for k, v in queries.items() if k.startswith(prefixes)}

    # Warm the JVM and the Python-UDF worker pool once so per-query timings
    # measure the query, not session bring-up (~20 s of fork+Arrow init
    # otherwise lands on whichever query first touches mapInPandas).
    spark.range(100).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    spark.range(100).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    # Also warm the parquet-scan + shuffle-exchange path (codegen compile,
    # AQE first use) on the smallest table so it doesn't land on the
    # alphabetically-first query.
    spark.read.parquet(f"{sf_dir}/region.parquet").groupBy("r_name").count().write.format(
        "noop"
    ).mode("overwrite").save()

    # Ingest-time artifacts, priced as explicit setup lines. The ANN index
    # builds (IVF k-means partitioned write, PQ codebook training, IVF-PQ
    # composite) and the dedup shingle-posting/pair materializations are
    # one-time per-corpus costs -- on a fresh host they would otherwise
    # land on whichever family key runs first (v_ann_ivf read 8.98 s in
    # BENCH_r06 purely because the sandbox /tmp was cold) and read as a
    # per-query regression. Building them here keeps per-key timings
    # meaning "warm query cost" while the build cost stays visible in the
    # JSON under "setup". Totals remain honest: suite wall includes setup.
    timings: dict[str, float] = {}
    layers: dict[str, dict] = {}
    failures: dict[str, str] = {}
    t_total = time.time()
    setup: dict[str, float] = {}

    def _setup(name: str, fn) -> None:
        t0 = time.time()
        try:
            fn()
            setup[name] = round(time.time() - t0, 3)
            print(f"setup {name} {setup[name]:.2f}s", file=sys.stderr, flush=True)
        except Exception as exc:
            failures[f"setup:{name}"] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"SETUP-FAIL {name}: {exc}", file=sys.stderr, flush=True)

    from delta_lake_stock_pipeline_spark.artifacts import PRICED

    for name in SETUP_ARTIFACTS:
        art = PRICED[name]
        if art.used_by & set(queries):
            _setup(name, lambda: art.prime(spark, sf_dir))

    c_queries = cpu_seconds(process_tree(os.getpid()))
    steal0, t_queries = steal_seconds(), time.time()
    for name in sorted(queries):
        try:
            rec = layers[name] = _run_key(spark, name, queries[name], sf_dir)
            timings[name] = rec["wall_s"]
            print(
                f"ok   {name} {rec['wall_s']:.2f}s cpu {rec['cpu_s']:.2f}s jobs {rec['jobs']}",
                file=sys.stderr,
                flush=True,
            )
        except Exception as exc:  # keep benching; report the failure
            failures[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"FAIL {name}: {failures[name]}", file=sys.stderr, flush=True)
    queries_wall = round(time.time() - t_queries, 3)
    band = {
        "wall_s": queries_wall,
        "cpu_s": round(cpu_seconds(process_tree(os.getpid())) - c_queries, 3),
        "steal_s": round(steal_seconds() - steal0, 3),
    }
    total = round(time.time() - t_total, 3)

    out = {
        "metric": "suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_num,
        "n_queries": len(timings),
        "n_failures": len(failures),
        # One-time ingest artifacts (ANN indexes, dedup postings) priced
        # separately so per-key timings read as warm query cost; included
        # in "value" and broken out in "queries_wall_seconds".
        "setup": setup,
        "setup_wall_seconds": round(sum(setup.values()), 3),
        "queries_wall_seconds": queries_wall,
        # The query loop's wall, process-tree CPU and host steal seconds.
        "band": band,
        # Per key: wall_s, cpu_s, jobs (see the module docstring).
        "layers": layers,
    }
    if failures:
        out["failures"] = failures
    print(json.dumps(out))
    from delta_lake_stock_pipeline_spark.artifacts import clear_all

    clear_all()
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
