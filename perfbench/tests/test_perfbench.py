"""Tests of the benchmark's own rules: percentiles, span self time, the
event-log fold and the shape of the printed result.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

from perfbench import trace
from perfbench.run import result_line
from perfbench.trace import Span

HERE = os.path.dirname(os.path.abspath(__file__))
LOG_DIR = os.path.join(HERE, "data", "eventlog")
STREAM_RUN = "095e3869-a2d3-406d-9265-fb5ee4903f51"


# --- percentile rule -----------------------------------------------------------


def test_percentile_is_the_harrell_davis_estimate():
    assert trace.percentile([4, 1, 3, 2], 50) == pytest.approx(2.5)  # symmetric: the centre
    assert trace.percentile([1, 2], 50) == pytest.approx(1.5)
    assert trace.percentile([7], 90) == 7
    assert trace.percentile([5, 5, 5], 90) == pytest.approx(5)
    # Beta(9.9, 1.1) weights on 1..10 put the 90th percentile at 9.435.
    assert trace.percentile(range(1, 11), 90) == pytest.approx(9.435, abs=2e-3)


def test_percentile_is_monotone_in_q_and_bounded_by_the_sample():
    xs = [0.12, 0.1, 0.45, 0.5, 0.52, 1.3, 1.1, 0.3]
    qs = [trace.percentile(xs, q) for q in (10, 25, 50, 75, 90)]
    assert qs == sorted(qs)
    assert min(xs) <= qs[0] and qs[-1] <= max(xs)


def test_percentile_moves_little_when_samples_cross_a_gap():
    # Two clusters; the middle sample hops from one to the other. A
    # single-order-statistic median jumps by the gap, this one does not.
    low = [0.1] * 10 + [1.0] * 9
    assert abs(trace.percentile(low + [0.1], 50) - trace.percentile(low + [1.0], 50)) < 0.3


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        trace.percentile([], 50)
    with pytest.raises(ValueError):
        trace.percentile([1.0], 100)
    with pytest.raises(ValueError):
        trace.percentile([1.0], 0)


# --- span self time ------------------------------------------------------------


def _span(name, start, end, parent):
    return Span(name, start, end, parent, "r")


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        _span("root", 0.0, 10.0, None),
        _span("a", 1.0, 3.0, 0),
        _span("b", 2.0, 5.0, 0),  # overlaps a: covered once
        _span("c", 7.0, 8.0, 0),
        _span("a.child", 1.5, 2.5, 1),  # grandchild: not subtracted from root
    ]
    assert trace.self_time(spans, 0) == pytest.approx(10.0 - 4.0 - 1.0)
    assert trace.self_time(spans, 1) == pytest.approx(2.0 - 1.0)
    assert trace.self_time(spans, 3) == pytest.approx(1.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span("p", 0.0, 4.0, None), _span("late", 3.0, 9.0, 0)]
    assert trace.self_time(spans, 0) == pytest.approx(3.0)


def test_tracer_records_parents_and_calls_hooks():
    seen = []
    tr = trace.Tracer("run-1", True, seen.append, seen.append)
    with tr.span("phase"):
        with tr.span("key"):
            pass
    assert [(s.name, s.parent, s.run_id) for s in tr.spans] == [
        ("phase", None, "run-1"),
        ("key", 0, "run-1"),
    ]
    assert seen == ["phase", "key", "phase", None]
    assert all(s.end >= s.start for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = trace.Tracer("run-1", False)
    with tr.span("phase"):
        pass
    assert tr.spans == []


# --- event-log fold --------------------------------------------------------------


def _events():
    return list(trace.event_log_lines(LOG_DIR))


def _ingest_span_around_stream_start():
    started = next(e for e in _events() if e["Event"].endswith("QueryStartedEvent"))
    from datetime import datetime

    t = datetime.fromisoformat(started["timestamp"].replace("Z", "+00:00")).timestamp()
    return [_span("flow", t - 10, t + 10, None), _span("ingest", t - 1, t + 5, 0)]


def test_stream_run_maps_to_the_innermost_open_span():
    owners = trace.stream_owners(_events(), _ingest_span_around_stream_start())
    assert owners == {STREAM_RUN: "ingest"}


def test_fold_groups_task_metrics_by_job_group():
    fold = trace.fold_event_log(_events())
    k1 = fold["k1/execute"]
    assert k1["exec.jobs"] == 2
    assert k1["exec.stages"] == 3
    assert k1["exec.tasks"] == 4
    assert k1["exec.run_s"] == pytest.approx(1.0 + 0.5 + 0.3 + 2.136)
    assert k1["exec.cpu_s"] == pytest.approx(0.8 + 0.4 + 0.1 + 0.223124528)
    assert k1["exec.run_minus_cpu_s"] == pytest.approx(k1["exec.run_s"] - k1["exec.cpu_s"])
    assert k1["exec.gc_s"] == pytest.approx(0.01)
    assert k1["scan.input_bytes"] == 6144
    assert k1["scan.input_rows"] == 150
    assert k1["scan.time_s"] == pytest.approx(0.3)
    assert k1["shuffle.write_bytes"] == 768
    assert k1["shuffle.read_bytes"] == 768
    assert k1["shuffle.fetch_wait_s"] == pytest.approx(0.02)
    assert k1["shuffle.spill_bytes"] == 96
    assert k1["python.sent_bytes"] == 4304
    assert k1["python.returned_bytes"] == 4176
    assert k1["python.start_s"] == pytest.approx(1.072)
    assert k1["python.init_s"] == pytest.approx(0.334)
    assert k1["python.run_s"] == pytest.approx(1.646)
    assert fold["k2/construct"]["exec.jobs"] == 1
    assert fold[""]["exec.jobs"] == 1  # the job outside any group


def test_fold_puts_micro_batch_jobs_under_their_owner():
    unmapped = trace.fold_event_log(_events())
    assert unmapped[STREAM_RUN]["exec.jobs"] == 1
    fold = trace.fold_event_log(_events(), {STREAM_RUN: "ingest"})
    assert STREAM_RUN not in fold
    assert fold["ingest"]["exec.jobs"] == 1
    assert fold["ingest"]["scan.input_bytes"] == 1000
    batches = fold["__streams__"]["ingest"]
    assert [b["numInputRows"] for b in batches] == [100, 0]
    assert batches[0]["triggerExecution"] == 1191
    assert batches[0]["addBatch"] == 691


def test_every_fold_group_has_every_layer_key():
    fold = trace.fold_event_log(_events())
    for group, vals in fold.items():
        if group != "__streams__":
            assert set(vals) == set(trace.LAYER_KEYS)


# --- timing summary ---------------------------------------------------------------


def test_summary_reduces_each_query_to_its_median_first():
    from perfbench.workloads import Result, summarize

    res = Result()
    # One slow execution per query (a burst of host load) moves nothing.
    res.query_s = {"a": [1.0, 1.0, 9.0], "b": [2.0, 8.0, 2.0], "c": [3.0, 3.0, 3.0]}
    res.pass_walls = [7.0, 12.0, 13.0]
    out = summarize(res)
    assert out["query_p50_s"] == pytest.approx(trace.percentile([1.0, 2.0, 3.0], 50))
    assert out["query_p90_s"] == pytest.approx(trace.percentile([1.0, 2.0, 3.0], 90))
    assert out["wall_s"] == pytest.approx(trace.percentile([7.0, 12.0, 13.0], 50))
    assert summarize(res, wall_from_queries=True)["wall_s"] == pytest.approx(6.0)


# --- interference classifier ------------------------------------------------------


def test_interference_is_wall_up_with_cpu_flat():
    assert trace.interfered([10, 10, 14], [40, 40, 41], 0.0)
    assert not trace.interfered([10, 10, 14], [40, 40, 56], 0.0)  # more work, not interference
    assert not trace.interfered([10], [40], 0.0)
    assert trace.interfered([10], [40], 0.2)  # steal time


# --- output shape -------------------------------------------------------------------


def test_result_line_has_exactly_the_contract_keys():
    line = result_line(0, 12, {"wall_s": 1.25, "extra": 9}, {"wall_s": "s", "peak_rss_mb": "MiB"})
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True
    assert line["attempted"] == 12 and line["failed"] == 0
    assert line["metrics"] == {
        "wall_s": {"value": 1.25, "unit": "s"},
        "peak_rss_mb": {"value": 0.0, "unit": "MiB"},
    }
    json.dumps(line)  # serialisable as one line


def test_result_line_marks_failures_incorrect():
    line = result_line(2, 10, {}, {"wall_s": "s"})
    assert line["correct"] is False and line["failed"] == 2


def test_benchmark_spec_names_every_metric_once():
    root = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert {w["name"] for w in spec["workloads"]} == {"lifecycle", "queries"}
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_runner_fails_without_the_engine(tmp_path):
    """A directory holding only the benchmark exits non-zero, printing no result."""
    import shutil

    root = os.path.dirname(os.path.dirname(HERE))
    shutil.copytree(os.path.join(root, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(root, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "queries", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_fixtures_are_seeded():
    from perfbench.fixtures import build_tables

    a, b, c = build_tables(0.001, 7), build_tables(0.001, 7), build_tables(0.001, 8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000
    assert not math.isnan(a["events"]["value"].to_pylist()[0])
