#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 32 --trace 0

Run from the repository root. Each run is one fresh process: it makes its
inputs from ``--seed`` under ``.perfbench_run/`` (reset every run), starts
a ``local[<cores>]`` session, prices set-up (session start, warm-ups,
artifacts), times whole passes of the workload until ``--seconds`` would
be exceeded, then checks every output with the clock stopped. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
ones). The line before it is the full report, also written to
``.perfbench_out/``. Exits 1 when an output check fails and 2 when the
engine is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
SF = 0.1
T_PROCESS = time.perf_counter()


def _ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    return 0.0


def _pin_environment(trace: bool) -> dict:
    """Pin what the session reads at start-up. Returns the host facts."""
    cores = len(os.sched_getaffinity(0))
    ram = _ram_gb()
    # session.py defaults the driver heap to 24g; keep it well under RAM.
    driver_gb = max(1, min(4, int(ram // 4)))
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    for sub in ("local", "tmp", "data", "work", "eventlog", "warehouse"):
        os.makedirs(os.path.join(RUN_DIR, sub))
    confs = {"spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse")}
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(RUN_DIR, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEMORY": f"{driver_gb}g",
            "SPARK_LOCAL_DIRS": os.path.join(RUN_DIR, "local"),
            "TMPDIR": os.path.join(RUN_DIR, "tmp"),
            "TZ": "UTC",
            # Python workers import the engine by module path.
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {k}={v}" for k, v in confs.items())
            + " pyspark-shell",
        }
    )
    time.tzset()
    return {"cores": cores, "ram_gb": round(ram, 1), "driver_memory": f"{driver_gb}g"}


class Ctx:
    def __init__(self, spark, sf_dir, seed, tracer, work_dir):
        self.spark, self.sf_dir, self.seed = spark, sf_dir, seed
        self.tracer, self.work_dir = tracer, work_dir


def _warm_up(spark, sf_dir: str) -> None:
    """The same JVM, Python-worker and parquet/shuffle warm-ups as bench.py."""
    spark.range(100).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    spark.range(100).mapInPandas(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    spark.read.parquet(f"{sf_dir}/region.parquet").groupBy("r_name").count().write.format(
        "noop"
    ).mode("overwrite").save()


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _clear_engine_scratch() -> None:
    """The engine's own scratch dirs, cleared the way bench.py clears them."""
    from delta_lake_stock_pipeline_spark.operators.dedup import clear_posts_cache
    from delta_lake_stock_pipeline_spark.operators.formats import clear_roundtrip_dirs
    from delta_lake_stock_pipeline_spark.operators.multimodal import clear_nd_cache
    from delta_lake_stock_pipeline_spark.operators.similarity import clear_ann_dirs
    from delta_lake_stock_pipeline_spark.operators.storage_lifecycle import clear_lifecycle_dirs
    from delta_lake_stock_pipeline_spark.streaming.windows import clear_mv_dirs

    for clear in (
        clear_roundtrip_dirs,
        clear_lifecycle_dirs,
        clear_posts_cache,
        clear_nd_cache,
        clear_mv_dirs,
        clear_ann_dirs,
    ):
        clear()


def _timed_passes(workload, res, seconds: float) -> dict:
    """Whole passes until the next one would end past ``seconds``, at
    least ``workload.min_passes`` and at most ``workload.max_passes``.
    Records wall and process-tree CPU per pass."""
    from perfbench.trace import cpu_seconds, process_tree, steal_seconds

    steal0, t_start = steal_seconds(), time.perf_counter()
    while True:
        pids = process_tree(os.getpid())
        c0, w0 = cpu_seconds(pids), time.perf_counter()
        walls_before = len(res.pass_walls)
        workload.run_pass(res)
        dt = time.perf_counter() - w0
        if len(res.pass_walls) == walls_before:
            res.pass_walls.append(dt)
        res.pass_cpus.append(cpu_seconds(process_tree(os.getpid())) - c0)
        last = res.pass_walls[-1]
        n = len(res.pass_walls)
        if n >= workload.max_passes or (
            n >= workload.min_passes and sum(res.pass_walls) + last > seconds
        ):
            break
    elapsed = time.perf_counter() - t_start
    return {
        "passes": len(res.pass_walls),
        "timed_elapsed_s": elapsed,
        "steal_share": (steal_seconds() - steal0) / elapsed / max(1, os.cpu_count() or 1),
    }


def _layers(tracer, res, events, timed_from: int, passes: int, work) -> dict:
    """Per-layer metrics from the spans and the folded event log."""
    from perfbench.trace import (
        LAYER_KEYS,
        fold_event_log,
        percentile,
        self_time,
        stream_owners,
        stream_run_ids,
    )

    spans = tracer.spans
    owner = stream_owners(events, spans)
    fold = fold_event_log(events, owner)
    streams = fold.pop("__streams__")
    # Groups of the timed passes; the pass loop and the in-flow checks are not work.
    timed_names = {
        s.name for s in spans[timed_from:] if s.name != "timed" and not s.name.startswith("check")
    }
    per = max(1, passes)
    out = dict.fromkeys(LAYER_KEYS, 0.0)
    for group, vals in fold.items():
        if group in timed_names:
            for k, v in vals.items():
                out[k] += v / per
    out["operators.construct_s"] = res.detail.get("construct_s", 0.0) / per
    out["operators.eager_jobs"] = (
        sum(v["exec.jobs"] for g, v in fold.items() if g.endswith("/construct") and g in timed_names)
        / per
    )
    keys = getattr(work, "order", None)
    if keys:
        no_jobs = [
            k
            for k in keys
            if sum(fold.get(g, {}).get("exec.jobs", 0) for g in (k, f"{k}/construct", f"{k}/execute"))
            == 0
        ]
        res.detail["driver_only_keys"] = no_jobs
    else:
        # A stream run id still present as a group is a micro-batch job that
        # did not land under its phase. The warm-up flow's ingest phase is
        # ``warmup/ingest``.
        runs = stream_run_ids(events)
        res.detail["stream_runs"] = owner
        outside = {o for o in owner.values() if o.rsplit("/", 1)[-1] != "ingest"}
        res.detail["stream_jobs_outside_ingest"] = sum(
            v["exec.jobs"] for g, v in fold.items() if g in runs
        ) + sum(fold.get(o, {}).get("exec.jobs", 0) for o in outside)
    ingest = streams.get("ingest", [])
    trig = [d.get("triggerExecution", 0) / 1e3 for d in ingest if d.get("numInputRows", 0) > 0]
    out["streaming.batches"] = len(trig) / per
    out["streaming.trigger_p50_s"] = percentile(trig, 50) if trig else 0.0
    out["streaming.add_batch_s"] = sum(d.get("addBatch", 0) for d in ingest) / 1e3 / per
    out["streaming.planning_s"] = sum(d.get("queryPlanning", 0) for d in ingest) / 1e3 / per
    out["storage.table.merge_scan_bytes"] = (
        sum(fold.get(g, {}).get("scan.input_bytes", 0.0) for g in ("ingest", "restate")) / per
    )
    self_s: dict[str, float] = {}
    for i, s in enumerate(spans):
        if i >= timed_from:
            self_s[s.name] = self_s.get(s.name, 0.0) + self_time(spans, i) / per
    res.detail["span_self_s"] = self_s
    res.detail["groups"] = fold
    return out


def result_line(failed: int, attempted: int, values: dict, units: dict) -> dict:
    """The last stdout line: exactly ``correct``, ``attempted``, ``failed``
    and ``metrics``, one ``{value, unit}`` per metric named in ``units``."""
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=32)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import fixtures, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    host = _pin_environment(traced)
    try:
        import pyspark

        from delta_lake_stock_pipeline_spark import session
    except ImportError as exc:
        print(f"cannot import the engine: {exc}", file=sys.stderr)
        return 2
    host.update(
        pyspark=pyspark.__version__,
        delta_spark=session.have_delta(),
        python=sys.version.split()[0],
    )

    t_in = time.perf_counter()
    sf_dir = os.path.join(RUN_DIR, "data")
    fixtures.write_fixtures(sf_dir, SF, args.seed)
    inputs_s = time.perf_counter() - t_in

    res = workloads.Result()
    layers = res.layers
    t0 = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc
    layers["session.start_s"] = time.perf_counter() - t0

    def set_group(name):
        if name is not None:
            spark.sparkContext.setJobGroup(name, name)

    tracer = trace.Tracer(f"{args.workload}-{args.seed}", traced, set_group, set_group)
    try:
        with tracer.span("setup"):
            t1 = time.perf_counter()
            with tracer.span("warmup"):
                _warm_up(spark, sf_dir)
            layers["session.warmup_s"] = time.perf_counter() - t1
            work = workloads.WORKLOADS[args.workload](
                Ctx(spark, sf_dir, args.seed, tracer, os.path.join(RUN_DIR, "work"))
            )
            work.setup(res)
        # Input staging and output checks inside a workload's set-up are not
        # the system's set-up.
        setup_s = (
            time.perf_counter()
            - t0
            - res.detail.get("inputs_s", 0.0)
            - res.detail.get("setup_check_s", 0.0)
        )
        res.detail["inputs_s"] = res.detail.get("inputs_s", 0.0) + inputs_s
        timed_from = len(tracer.spans)
        with tracer.span("timed"):
            timing = _timed_passes(work, res, args.seconds)
        t_check = time.perf_counter()
        with tracer.span("check"):
            work.check(res)
        check_s = time.perf_counter() - t_check
        # The driver and its JVM live for the whole run; Python workers come
        # and go on an idle timeout, so their high-water marks are left out.
        rss_parts = {"driver": trace.peak_rss_mb([os.getpid()]), "jvm": trace.peak_rss_mb([jvm.pid])}
        rss = sum(rss_parts.values())
    finally:
        t_stop = time.perf_counter()
        _clear_engine_scratch()
        _stop(spark)
    timing["check_s"] = check_s
    timing["peak_rss_parts_mb"] = rss_parts
    timing["stop_s"] = time.perf_counter() - t_stop

    summary = workloads.summarize(res, work.wall_from_queries)
    e2e = {"setup_s": setup_s, **summary, "peak_rss_mb": rss}
    d = res.detail
    timing["interfered"] = trace.interfered(res.pass_walls, res.pass_cpus, timing["steal_share"])
    timing["loadavg"] = os.getloadavg()
    timing["pass_walls_s"] = res.pass_walls
    timing["pass_cpu_s"] = res.pass_cpus
    workload_metrics = {"fail_ratio": res.failed / max(1, res.attempted)}
    workload_metrics.update(work.finish(res, timing["passes"]))
    layers.update(workload_metrics, peak_rss_mb=rss)
    if traced:
        events = list(trace.event_log_lines(os.path.join(RUN_DIR, "eventlog")))
        layers.update(_layers(tracer, res, events, timed_from, timing["passes"], work))
        layers["trace.wall_s"] = summary["wall_s"]

    spec = _benchmark_spec()
    wanted = spec["per_layer"] if traced else spec["end_to_end"]
    line = result_line(
        res.failed, res.attempted, layers if traced else e2e, {m["name"]: m["unit"] for m in wanted}
    )
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": traced,
        "sf": SF,
        "host": host,
        "seconds": args.seconds,
        "end_to_end": e2e,
        "workload_metrics": workload_metrics,
        "layers": layers,
        "timing": timing,
        "failures": res.failures,
        "query_s": res.query_s,
        "detail": {k: v for k, v in d.items() if k != "groups"},
    }
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if traced:
        tracer.dump(stem + "-spans.jsonl")
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    timing["process_s"] = time.perf_counter() - T_PROCESS
    with open(stem + ".json", "w") as fh:
        json.dump({**report, "groups": d.get("groups")}, fh, indent=1, default=str)
    print(json.dumps(report, default=str))
    print(json.dumps(line))
    return 0 if line["correct"] else 1


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main())
