"""The measured process of one benchmark run.

`run.py` starts this module in a fresh process (so set-up is measured
from process start), samples its process tree's memory from outside,
and turns the record this module writes into the printed result.

Usage: python3 -m perfbench.child --workload W --seed N --seconds S
       --trace 0|1 --work DIR --out RECORD.json --spawned EPOCH
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
import traceback

from perfbench.stats import median, tail


class Run:
    """What one workload run measured: spans around calls into the
    program, per-operation latencies, attempted and failed operations,
    and (traced runs) the per-layer record."""

    def __init__(self, a: argparse.Namespace) -> None:
        self.workload = a.workload
        self.seed = a.seed
        self.seconds = a.seconds
        self.trace = bool(a.trace)
        self.work = a.work
        self.spawned = a.spawned
        self.spans: list[tuple[str, float, float]] = []
        self.op_samples: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.record: dict = {}
        self.layers: dict[str, float] = {}
        self.setup_s: float | None = None
        self.data = a.data
        self.eventlog_dir = os.path.join(self.work, "eventlog")
        self.spark = None

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))

    def session(self):
        """`core.session.get_spark` with the program's own defaults; a
        traced run adds only Spark's event log."""
        from realtime0523_spark.core.session import get_spark

        extra = None
        if self.trace:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            extra = {"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": self.eventlog_dir}
        with self.span("core.session"):
            self.spark = get_spark("perfbench", extra_conf=extra)
        self.record["spark.driver.memory"] = self.spark.conf.get("spark.driver.memory")
        return self.spark

    def setup_done(self) -> None:
        self.setup_s = time.time() - self.spawned
        self.record["setup_end"] = time.time()

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"perfbench: failed: {what}", file=sys.stderr)

    def check(self, name: str, ok: bool) -> None:
        """One oracle comparison is one attempted operation."""
        self.attempted += 1
        if not ok:
            self.fail(f"oracle mismatch: {name}")

    def guard(self, name: str, fn, *args):
        """Call into the program as one attempted operation; an exception
        is a failed operation, never a crash of the run."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - counted and reported, run goes on
            self.fail(f"{name}: {traceback.format_exc(limit=3)}")
            return None

    def ops(self, samples: list[float], unit: str) -> None:
        self.op_samples += samples
        self.record["op_unit"] = unit

    def result(self) -> dict:
        s = self.op_samples
        tail_v, tail_pct = tail(s) if s else (0.0, 0.0)
        self.record.update({
            "workload": self.workload, "seed": self.seed,
            "seconds": self.seconds, "trace": int(self.trace),
            "attempted": self.attempted, "failed": self.failed,
            "failures": self.failures,
            "end_to_end": {
                "setup_s": self.setup_s or 0.0,
                "op_mean_s": sum(s) / len(s) if s else 0.0,
            },
            "op_samples": s,
            "op_p50_s": median(s) if s else 0.0,
            "op_tail_s": tail_v,
            "op_tail_percentile": tail_pct,
            "spans": self.spans,
            "layers": self.layers,
        })
        return self.record


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--data", default="")
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawned", type=float, required=True)
    a = ap.parse_args()

    from perfbench import batch, layers, topology

    run = Run(a)
    runner = {
        "warehouse_batch": batch.run_batch,
        "topology_catchup": topology.run_catchup,
    }[a.workload]
    try:
        runner(run)
    except Exception:  # noqa: BLE001 - a failing run still reports
        run.attempted += 1
        run.fail(f"{a.workload}: {traceback.format_exc(limit=5)}")
    if run.spark is not None:
        with run.span("core.stop"):
            run.spark.stop()
    if run.trace:  # after the stop, which completes the event log
        run.layers = run.guard("layers", layers.fold, run) or {}
    with open(a.out, "w") as fh:
        json.dump(run.result(), fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
