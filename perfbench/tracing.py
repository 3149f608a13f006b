"""Tracing for the benchmark's traced run: spans around the calls into each
layer, Spark event-log stage metrics, a cProfile split of the kernel, and
/proc readings of the Spark process tree.

Spans live in memory and are written out with the run's detail file. The
end-to-end runs construct no tracer and start no event log.
"""

from __future__ import annotations

import cProfile
import glob
import json
import os
import pstats
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """Nested spans (name, start, end, parent, run id). While a span is
    open its id is set as a Spark local property, so every job it submits
    carries the id into the event log."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run": self.run_id,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        self._tag(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._open.pop()
            self._tag(self._open[-1] if self._open else None)

    def _tag(self, span_id):
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(
                SPAN_PROPERTY, None if span_id is None else str(span_id)
            )

    def root_of(self, span_id: int) -> int:
        while self.spans[span_id]["parent"] is not None:
            span_id = self.spans[span_id]["parent"]
        return span_id


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_PY_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "time to start Python workers": "py_start_ms",
    "time to run Python workers": "py_run_ms",
}


def stage_metrics(log_dir: str) -> list[dict]:
    """Per-stage task metrics from the (single, uncompressed) event log in
    `log_dir`: the span id the stage ran under, summed task times, bytes,
    shuffle, spill, GC, and the Python-runner SQL metrics."""
    stages: dict[int, dict] = {}
    paths = sorted(glob.glob(os.path.join(log_dir, "*")))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                    stages[sid] = _new_stage(sid, span)
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    st = stages.setdefault(ev["Stage ID"], _new_stage(ev["Stage ID"], None))
                    _add_task(st, ev["Task Metrics"])
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    st = stages.setdefault(sid, _new_stage(sid, None))
                    for acc in ev["Stage Info"].get("Accumulables", []):
                        key = _PY_METRICS.get(acc.get("Name"))
                        if key is not None:
                            st[key] += float(acc["Value"])
    return list(stages.values())


def _new_stage(sid: int, span) -> dict:
    return {
        "stage": sid,
        "span": None if span is None else int(span),
        "task_run_ms": [],
        "cpu_ns": 0,
        "gc_ms": 0,
        "output_bytes": 0,
        "shuffle_write_bytes": 0,
        "fetch_wait_ms": 0,
        "spill_bytes": 0,
        **{k: 0.0 for k in _PY_METRICS.values()},
    }


def _add_task(st: dict, m: dict) -> None:
    st["task_run_ms"].append(m["Executor Run Time"])
    st["cpu_ns"] += m["Executor CPU Time"]
    st["gc_ms"] += m["JVM GC Time"]
    st["output_bytes"] += m["Output Metrics"]["Bytes Written"]
    st["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    st["fetch_wait_ms"] += m["Shuffle Read Metrics"]["Fetch Wait Time"]
    st["spill_bytes"] += m["Disk Bytes Spilled"]


def sum_stages(stages: list[dict], key: str) -> float:
    return float(sum(st[key] for st in stages))


# ---------------------------------------------------------------------------
# Kernel profile
# ---------------------------------------------------------------------------

# kernel stage -> function names whose time it owns
KERNEL_STAGES = {
    "smooth": ("normalized_convolution",),
    "deriv": ("derivative",),
    "eig": ("eig3x3",),
    "bin": ("searchsorted", "bincount"),
}


def profile_kernel(fn) -> tuple[float, dict, dict]:
    """Run fn() under cProfile. Returns (total seconds, seconds per kernel
    stage incl. 'other', call counts per function name).

    A name can have several profile entries when a numpy wrapper calls the
    method of the same name (np.searchsorted -> ndarray.searchsorted); the
    outermost one has the largest cumulative time and contains the rest,
    so each name counts its largest entry."""
    prof = cProfile.Profile()
    t0 = time.perf_counter()
    prof.runcall(fn)
    total = time.perf_counter() - t0
    cum: dict[str, float] = {}
    calls: dict[str, int] = {}
    # (file, line, name) -> (primitive calls, calls, own s, cumulative s, callers)
    for (_f, _l, name), (_cc, nc, _tt, ct, _callers) in pstats.Stats(prof).stats.items():
        short = _short(name)
        cum[short] = max(cum.get(short, 0.0), ct)
        calls[short] = max(calls.get(short, 0), nc)
    split = {
        stage: sum(cum.get(n, 0.0) for n in names)
        for stage, names in KERNEL_STAGES.items()
    }
    split["other"] = max(0.0, total - sum(split.values()))
    return total, split, calls


def _short(name: str) -> str:
    """'{method 'searchsorted' of 'numpy.ndarray' objects}' -> 'searchsorted';
    '{built-in method numpy...bincount}' -> 'bincount'; plain names as is."""
    if name.startswith("{"):
        inner = name.strip("{}")
        if "'" in inner:
            return inner.split("'")[1]
        return inner.rsplit(".", 1)[-1].split(" ")[-1]
    return name


# ---------------------------------------------------------------------------
# /proc: the Spark process tree
# ---------------------------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root_pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used by the JVM and its Python workers so far: live
    processes' own time plus the time of children they already reaped."""
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def python_worker_pids(root_pid: int) -> list[int]:
    out = []
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd:
            out.append(pid)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Largest VmHWM (peak resident set) among `pids`, in MiB."""
    peak_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0
