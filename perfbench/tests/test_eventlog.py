"""The event-log reader folds a tiny synthetic Spark 4.1 log into known
numbers. Run with: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import json

import pyarrow as pa
import pytest

from perfbench import eventlog


def _task(stage: int, launch: int, finish: int, *, run_ms: int, cpu_ns: int,
          gc_ms: int, read: int, sw_bytes: int, sw_ns: int, sr_local: int,
          sr_remote: int, fetch_ms: int, accums: list[tuple[str, str]]) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch, "Finish Time": finish,
            "Accumulables": [{"Name": n, "Update": u, "Metadata": "sql"}
                             for n, u in accums],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Input Metrics": {"Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw_bytes,
                                      "Shuffle Write Time": sw_ns},
            "Shuffle Read Metrics": {"Local Bytes Read": sr_local,
                                     "Remote Bytes Read": sr_remote,
                                     "Fetch Wait Time": fetch_ms},
        },
    }


def _write_log(tmp_path, events: list[dict], parts: int = 2) -> str:
    """A rolling v2 log: the events split over `parts` zstd files."""
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "appstatus_local-1").write_text("")
    step = -(-len(events) // parts)
    for i in range(parts):
        data = "".join(json.dumps(e) + "\n" for e in events[i * step:(i + 1) * step])
        with pa.CompressedOutputStream(str(app / f"events_{i + 1}_local-1.zstd"),
                                       "zstd") as out:
            out.write(data.encode())
    return str(tmp_path)


def test_fold_synthetic_log(tmp_path):
    zero = dict(run_ms=0, cpu_ns=0, gc_ms=0, read=0, sw_bytes=0, sw_ns=0,
                sr_local=0, sr_remote=0, fetch_ms=0, accums=[])
    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
        # job 0 spans 1.0 s .. 5.0 s; its tasks cover 1.5 .. 4.0 s
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1100}},
        _task(0, 1500, 2500, run_ms=900, cpu_ns=800_000_000, gc_ms=50,
              read=1000, sw_bytes=300, sw_ns=20_000_000, sr_local=0,
              sr_remote=0, fetch_ms=0,
              accums=[("time to start Python workers", "120"),
                      ("time to initialize Python workers", "30"),
                      ("time to run Python workers", "600"),
                      ("data sent to Python workers", "4096"),
                      ("data returned from Python workers", "2048"),
                      ("number of output rows", "7")]),
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 2600}},
        _task(1, 2000, 4000, run_ms=1900, cpu_ns=1_500_000_000, gc_ms=10,
              read=0, sw_bytes=0, sw_ns=0, sr_local=200, sr_remote=100,
              fetch_ms=40, accums=[("time to run Python workers", "400")]),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 5000},
        # job 1 starts outside the window: neither it nor its task counts
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 20_000},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 2, "Submission Time": 20_100}},
        _task(2, 20_200, 21_000, **{**zero, "run_ms": 777}),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 21_000},
    ]
    log_dir = _write_log(tmp_path, events)
    got = eventlog.fold(eventlog.events(log_dir), [(0.0, 10.0)])
    want = {
        "spark.jobs": 1, "spark.stages": 2, "spark.tasks": 2,
        "spark.job_idle_s": 1.5,  # 4.0 s of job span, 2.5 s with a task running
        "spark.driver_self_s": 6.0,  # 10 s window, 4 s inside the job
        "exec.run_s": 2.8, "exec.cpu_s": 2.3, "exec.gc_s": 0.06,
        "io.input_bytes": 1000, "shuffle.write_bytes": 300,
        "shuffle.write_s": 0.02, "shuffle.read_bytes": 300,
        "shuffle.fetch_wait_s": 0.04,
        "python.boot_s": 0.12, "python.init_s": 0.03, "python.run_s": 1.0,
        "python.bytes_to": 4096, "python.bytes_from": 2048,
    }
    assert set(got) == set(eventlog.METRICS)
    assert got == pytest.approx(want)


def test_fold_two_windows_and_no_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 6000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 6500},
    ]
    log_dir = _write_log(tmp_path, events, parts=1)
    got = eventlog.fold(eventlog.events(log_dir), [(0.0, 3.0), (5.0, 7.0)])
    assert got["spark.jobs"] == 2
    assert got["spark.job_idle_s"] == pytest.approx(1.5)  # no task ran at all
    assert got["spark.driver_self_s"] == pytest.approx(5.0 - 1.5)
    empty = eventlog.fold(eventlog.events(str(tmp_path / "absent")), [(0.0, 1.0)])
    assert empty["spark.jobs"] == 0 and empty["spark.driver_self_s"] == 1.0
