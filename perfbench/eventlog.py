"""Reader for Spark's event log, folded into per-layer metrics.

Spark 4.1 writes a rolling log, `eventlog_v2_<app>/events_<n>_<app>.zstd`,
one JSON listener event per line. `fold` keeps the jobs and tasks that
started inside the given time windows and sums what the scheduler,
the executors, the shuffle and the Python workers did in them.
"""

from __future__ import annotations

import glob
import json
import os
import re

import pyarrow as pa

# SQL metrics the Python runners attach to each task (milliseconds for
# the times, bytes for the data), and where they go in the fold
_PYTHON_ACCUMS = {
    "time to start Python workers": ("python.boot_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "time to run Python workers": ("python.run_s", 1e-3),
    "data sent to Python workers": ("python.bytes_to", 1),
    "data returned from Python workers": ("python.bytes_from", 1),
}

METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_idle_s",
    "spark.driver_self_s", "exec.run_s", "exec.cpu_s", "exec.gc_s",
    "io.input_bytes", "shuffle.write_bytes", "shuffle.write_s",
    "shuffle.read_bytes", "shuffle.fetch_wait_s",
    *(name for name, _ in _PYTHON_ACCUMS.values()),
)


def events(log_dir: str):
    """Every event of every application logged under `log_dir`, in file
    order. Plain (uncompressed) event files are read too."""
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = []
        for f in os.listdir(app):
            m = re.fullmatch(r"events_(\d+)_.*", f)
            if m:
                parts.append((int(m.group(1)), os.path.join(app, f)))
        for _, path in sorted(parts):
            if ".zstd" in path:
                with pa.CompressedInputStream(pa.OSFile(path), "zstd") as s:
                    data = s.read()
            else:
                with open(path, "rb") as fh:
                    data = fh.read()
            for line in data.decode().splitlines():
                if line:
                    yield json.loads(line)


def _union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def _intersect(xs, ys) -> list[tuple[float, float]]:
    out, i, j = [], 0, 0
    while i < len(xs) and j < len(ys):
        a, b = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        if a < b:
            out.append((a, b))
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return out


def fold(evs, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Fold listener events into per-layer metrics over `windows`
    (epoch seconds). A job or stage counts when it was submitted in a
    window, a task when it was launched in one.

    `spark.job_idle_s` is time inside job spans when no task ran;
    `spark.driver_self_s` is window time outside every job span."""
    wins = _union((a * 1000, b * 1000) for a, b in windows)

    def inside(t_ms) -> bool:
        return any(a <= t_ms <= b for a, b in wins)

    out = dict.fromkeys(METRICS, 0.0)
    job_start: dict[int, float] = {}
    job_spans, task_spans = [], []
    for e in evs:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            if inside(e["Submission Time"]):
                job_start[e["Job ID"]] = e["Submission Time"]
        elif kind == "SparkListenerJobEnd":
            t0 = job_start.pop(e["Job ID"], None)
            if t0 is not None:
                out["spark.jobs"] += 1
                job_spans.append((t0, e["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            if inside(e["Stage Info"].get("Submission Time") or 0):
                out["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            if not inside(info["Launch Time"]):
                continue
            out["spark.tasks"] += 1
            task_spans.append((info["Launch Time"], info["Finish Time"]))
            m = e.get("Task Metrics") or {}
            out["exec.run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["io.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            out["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            out["shuffle.write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
            sr = m.get("Shuffle Read Metrics") or {}
            out["shuffle.read_bytes"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            )
            out["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            for acc in info.get("Accumulables") or ():
                target = _PYTHON_ACCUMS.get(acc.get("Name"))
                if target is not None:
                    out[target[0]] += float(acc.get("Update") or 0) * target[1]
    jobs = _union(job_spans)
    busy = _intersect(jobs, _union(task_spans))
    out["spark.job_idle_s"] = (_length(jobs) - _length(busy)) / 1e3
    out["spark.driver_self_s"] = (
        _length(wins) - _length(_intersect(wins, jobs))
    ) / 1e3
    return out
