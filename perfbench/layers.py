"""The per-layer metrics of a traced run: spans the benchmark took
around calls into the program, Spark's event log over the measured
windows, and the topology's per-stage streaming record."""

from __future__ import annotations

from perfbench import eventlog

STAGES = ("ods", "dim", "dwd", "dws", "ads", "dau")
STAGE_KEYS = ("lag_p50_s", "batch_p50_s", "add_batch_s", "plan_s",
              "commit_s", "busy_share", "batches", "rows_in")
STATE_STAGES = ("dws", "dau", "ads")
STATE_KEYS = ("state_rows", "state_bytes", "state_commit_ms", "watermark_drops")

# metric -> (span names, whether only spans inside the measured windows count)
SPANS = {
    "core.session_s": (("core.session",), False),
    "plans.build_s": (("plans.build",), True),
    "operators.exec_s": (("operators.exec",), True),
    "topology.start_s": (("topology.start",), False),
    "topology.drain_s": (("topology.drain",), True),
    "topology.results_s": (("topology.ads_result", "topology.dau_result"), False),
    "topology.stop_s": (("topology.stop",), False),
}

PER_LAYER = (
    "proc.peak_rss_mb",  # sampled by run.py from outside the process tree
    *SPANS,
    *eventlog.METRICS,
    *(f"streaming.{s}.{k}" for s in STAGES for k in STAGE_KEYS),
    *(f"streaming.{s}.{k}" for s in STATE_STAGES for k in STATE_KEYS),
)


def fold(run) -> dict[str, float]:
    """Every per-layer metric of `run` (a child.Run whose Spark session
    has stopped, so its event log is complete). A layer the workload
    does not run reads 0."""
    windows = run.record.get("windows") or []

    def in_window(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    out = dict.fromkeys(PER_LAYER, 0.0)
    for metric, (names, windowed) in SPANS.items():
        out[metric] = sum(
            t1 - t0 for n, t0, t1 in run.spans
            if n in names and (not windowed or in_window(t0))
        )
    out.update(eventlog.fold(eventlog.events(run.eventlog_dir), windows))
    for s, rec in (run.record.get("streaming") or {}).items():
        for k in STAGE_KEYS + (STATE_KEYS if s in STATE_STAGES else ()):
            out[f"streaming.{s}.{k}"] = float(rec[k])
    return out
