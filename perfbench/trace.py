"""Measurement helpers for the benchmark: percentiles, spans, the Spark
event-log fold, and host readings from ``/proc``.

Nothing here imports Spark, so the rules are testable on their own.
"""

from __future__ import annotations

import json
import math
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0 < q < 100) by the Harrell-Davis estimator:
    a weighted mean of every order statistic, weighted by the Beta((n+1)p,
    (n+1)(1-p)) mass over each rank's slice of [0, 1]. Unlike picking one
    or two order statistics, it does not jump when a few samples move
    across a gap between clusters of query times, so run-to-run spread is
    lower. One sample is its own percentile; a symmetric sample's median
    is its centre."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    n = len(xs)
    if n == 1:
        return xs[0]
    p = q / 100.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    steps = 200  # midpoint rule per rank slice; avoids the endpoints
    h = 1.0 / (n * steps)
    weights = []
    for i in range(n):
        mass = 0.0
        for j in range(steps):
            x = (i * steps + j + 0.5) * h
            mass += math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - log_beta)
        weights.append(mass * h)
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(spans: list[Span], index: int) -> float:
    """Duration of ``spans[index]`` minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    me = spans[index]
    kids = sorted(
        (max(s.start, me.start), min(s.end, me.end))
        for s in spans
        if s.parent == index
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return me.duration - covered


class Tracer:
    """In-memory span recorder. When ``enabled`` is false, ``span`` only
    yields, so the untraced run pays no bookkeeping; ``on_enter`` and
    ``on_exit`` let the caller tag Spark job groups at the same
    boundaries."""

    def __init__(self, run_id: str, enabled: bool, on_enter=None, on_exit=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._on_enter = on_enter
        self._on_exit = on_exit

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), math.nan, parent, self.run_id))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        if self._on_enter:
            self._on_enter(name)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            if self._on_exit:
                self._on_exit(self.spans[self._stack[-1]].name if self._stack else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({**asdict(s), "id": i, "self_s": self_time(self.spans, i)}) + "\n")


# --- Spark event log -------------------------------------------------------

_PY_ACCUMS = {
    "data sent to Python workers": "python.sent_bytes",
    "data returned from Python workers": "python.returned_bytes",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
}
LAYER_KEYS = (
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "exec.run_minus_cpu_s",
    "scan.input_bytes",
    "scan.input_rows",
    "scan.time_s",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_s",
    "shuffle.spill_bytes",
    *_PY_ACCUMS.values(),
)


def event_log_lines(log_dir: str):
    """Yield parsed events from every uncompressed event-log file under
    ``log_dir`` (Spark 4 writes rolling ``eventlog_v2_*/events_*`` dirs)."""
    for dirpath, _dirs, files in sorted(os.walk(log_dir)):
        for fn in sorted(files):
            if fn.startswith(".") or fn.endswith((".inprogress.crc", ".crc")):
                continue
            with open(os.path.join(dirpath, fn)) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        yield json.loads(line)


def _accum_value(acc: dict) -> float:
    v = acc.get("Update", 0)
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _started(events):
    for ev in events:
        if ev.get("Event", "").endswith("StreamingQueryListener$QueryStartedEvent"):
            yield ev


def stream_run_ids(events) -> set[str]:
    """Run ids of every stream started in the log."""
    return {ev["runId"] for ev in _started(events)}


def stream_owners(events, spans: list[Span]) -> dict[str, str]:
    """Map each stream's run id to the innermost span that was open when
    its ``QueryStartedEvent`` was posted (``start()`` posts it
    synchronously, so that span is the caller's phase)."""
    from datetime import datetime

    owners = {}
    for ev in _started(events):
        t = datetime.fromisoformat(ev["timestamp"].replace("Z", "+00:00")).timestamp()
        inside = [s for s in spans if s.start <= t <= s.end]
        if inside:
            owners[ev["runId"]] = min(inside, key=lambda s: s.duration).name
    return owners


def fold_event_log(events, stream_owner: dict[str, str] | None = None) -> dict[str, dict]:
    """Fold ``SparkListenerTaskEnd`` metrics into per-job-group totals.

    A job's group is its ``spark.jobGroup.id`` property. Micro-batch jobs
    carry the stream's run id as their group; ``stream_owner`` maps a run
    id to the group that started the stream (see ``stream_owners``).
    Jobs with no group fold under ``""``. ``QueryProgressEvent`` records
    land under ``"__streams__"``, keyed by the same owner."""
    owner = dict(stream_owner or {})
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(LAYER_KEYS, 0.0))
    streams: dict[str, list[dict]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            group = owner.get(group, group)
            out[group]["exec.jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            group = stage_group.get(info.get("Stage ID"), "")
            out[group]["exec.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            _fold_task(out[group], ev)
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            prog = ev.get("progress", {})
            rows = sum(src.get("numInputRows", 0) for src in prog.get("sources", []))
            streams[prog.get("runId", "")].append({**prog.get("durationMs", {}), "numInputRows": rows})
    for vals in out.values():
        vals["exec.run_minus_cpu_s"] = vals["exec.run_s"] - vals["exec.cpu_s"]
    result = {g: dict(v) for g, v in out.items()}
    result["__streams__"] = {owner.get(k, k): v for k, v in streams.items()}
    return result


def _fold_task(acc: dict, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    acc["exec.tasks"] += 1
    acc["exec.run_s"] += tm.get("Executor Run Time", 0) / 1e3
    acc["exec.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    acc["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    inp = tm.get("Input Metrics") or {}
    acc["scan.input_bytes"] += inp.get("Bytes Read", 0)
    acc["scan.input_rows"] += inp.get("Records Read", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    acc["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    sw = tm.get("Shuffle Write Metrics") or {}
    acc["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    acc["shuffle.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = a.get("Name", "")
        key = "scan.time_s" if name == "scan time" else _PY_ACCUMS.get(name)
        if key is None:
            continue
        v = _accum_value(a)
        # "scan time" and the Python worker times are millisecond metrics.
        acc[key] += v if key.endswith("_bytes") else v / 1e3


# --- host readings ---------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants, from ``/proc/*/stat``."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids) -> float:
    """utime+stime (plus reaped children's) summed over ``pids``."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
    return total / _CLK


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM over ``pids``, in MiB."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def steal_seconds() -> float:
    """Host-wide steal time from the ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) / _CLK if len(f) > 8 else 0.0


def interfered(pass_walls: list[float], pass_cpus: list[float], steal_share: float) -> bool:
    """True when some pass took >25% longer than the median pass while its
    CPU time stayed within 10% of the median pass CPU (wall inflated, work
    flat), or when steal time exceeded 5% of the timed wall."""
    if steal_share > 0.05:
        return True
    if len(pass_walls) < 2:
        return False
    mw, mc = percentile(pass_walls, 50), percentile(pass_cpus, 50)
    return any(
        w > 1.25 * mw and c < 1.10 * mc for w, c in zip(pass_walls, pass_cpus)
    )
