"""Benchmark harness: run every registered query end-to-end and print ONE
JSON line for the driver (BENCH_r{N}.json).

Usage: python bench.py
  * data:    $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
  * master:  local[$SPARK_GRAFT_CPUS] (default local[*])

Each query is forced through full execution with the ``noop`` sink (count()
alone would let Catalyst prune projected expressions and under-report).
"""

from __future__ import annotations

import json
import os
import sys
import time

# Host-band reference (VERDICT r9 task 3): five fixed keys re-run 3x at
# sweep START and END in the same process; their per-key medians against
# the pinned reference seconds below land in the output JSON as "band",
# so a slow sweep is mechanically attributable to host drift (band
# factor >> 1 at both ends) vs a code regression (band ~1, individual
# keys slow) without multi-sweep forensics. The keys span the engine's
# hot paths: parquet scan + grouped agg (flagship), shuffle join
# (sort-merge), window, string/token HOFs, embedding arithmetic.
_BAND_KEYS = [
    "a0_flagship_daily_rollup",
    "j_sortmerge",
    "w_rank",
    "t_token_count",
    "v_cosine_topk",
]
# Pinned from two clean solo sf0.1/local[32] sessions (round 10,
# 2026-08-16, median-of-3 probes). The START probe always runs in the
# same state -- fresh JVM after the standard warmups, first touch of the
# big tables -- and reproducibly reads ~1.5x the fully-warm END state,
# so each position gets its own pinned reference. Re-pin only with a
# BENCH_NOTES entry.
_BAND_REF_SF = 0.1
_BAND_REF_SEC_START = {
    "a0_flagship_daily_rollup": 0.49,
    "j_sortmerge": 1.01,
    "w_rank": 0.25,
    "t_token_count": 0.34,
    "v_cosine_topk": 0.64,
}
_BAND_REF_SEC_END = {
    "a0_flagship_daily_rollup": 0.30,
    "j_sortmerge": 0.82,
    "w_rank": 0.18,
    "t_token_count": 0.21,
    "v_cosine_topk": 0.42,
}


# Ingest-time artifacts priced as setup lines, in output order. Each is
# declared next to its builder (``@artifact(setup=..., used_by=...)``);
# this list only fixes the order of the JSON keys under "setup".
SETUP_ARTIFACTS = (
    "ann_ivf_index ann_pq_index ann_ivfpq_index dedup_postings dedup_pairs "
    "image_fingerprints audio_fingerprints image_nd_clusters audio_nd_clusters "
    "video_frames video_nd_clusters trade_adjacency trade_edges stream_tiles"
).split()


def _band_probe(spark, queries, sf_dir: str) -> dict:
    """Median-of-3 wall seconds for each band-reference key, plus the
    band factor (median over keys of measured/pinned) when running at
    the reference SF."""
    med: dict[str, float] = {}
    for k in _BAND_KEYS:
        if k not in queries:
            continue
        runs = []
        for _ in range(3):
            t0 = time.time()
            queries[k](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(time.time() - t0)
        med[k] = round(sorted(runs)[1], 3)
    return med


def _band_factor(med: dict, ref: dict) -> float | None:
    ratios = sorted(med[k] / ref[k] for k in med if k in ref)
    if not ratios:
        return None
    return round(ratios[len(ratios) // 2], 3)


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

    band_start = _band_probe(spark, queries, sf_dir)

    t_queries = time.time()
    for name in sorted(queries):
        t0 = time.time()
        try:
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.time() - t0, 3)
            print(f"ok   {name} {timings[name]:.2f}s", file=sys.stderr, flush=True)
        except Exception as exc:  # keep benching; report the failure
            failures[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"FAIL {name}: {failures[name]}", file=sys.stderr, flush=True)
    queries_wall = round(time.time() - t_queries, 3)
    band_end = _band_probe(spark, queries, sf_dir)
    total = round(time.time() - t_total, 3)

    band = {
        "start": band_start,
        "end": band_end,
        "start_factor": _band_factor(band_start, _BAND_REF_SEC_START),
        "end_factor": _band_factor(band_end, _BAND_REF_SEC_END),
        "ref_start_sec": _BAND_REF_SEC_START,
        "ref_end_sec": _BAND_REF_SEC_END,
        "ref_sf": _BAND_REF_SF,
        "ref_provenance": "two clean solo sf0.1/local[32] sessions, round 10",
    }
    if abs(sf_num if isinstance(sf_num, float) else -1) != _BAND_REF_SF:
        # Factors are only meaningful at the reference SF; medians still
        # land so any-SF sweeps stay self-describing.
        band["start_factor"] = band["end_factor"] = None

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
        # Host-band attribution (VERDICT r9 task 3): see _BAND_KEYS.
        "band": band,
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
