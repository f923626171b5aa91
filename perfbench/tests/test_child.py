"""Failure accounting of a run: a failing call or oracle check is one
failed operation, never a crash, and the result still carries every
end-to-end metric. Run with: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import argparse

from perfbench.child import Run
from perfbench.run import END_TO_END


def _run(tmp_path) -> Run:
    return Run(argparse.Namespace(
        workload="warehouse_batch", seed=1, seconds=5.0, trace=0,
        work=str(tmp_path), data="", spawned=0.0))


def test_guard_and_check_count_failures(tmp_path):
    run = _run(tmp_path)
    assert run.guard("ok", lambda x: x + 1, 1) == 2
    assert run.guard("boom", lambda: 1 / 0) is None
    run.check("oracle", True)
    run.check("oracle", False)
    assert (run.attempted, run.failed) == (4, 2)
    assert any("ZeroDivisionError" in f for f in run.failures)


def test_result_reports_every_metric_after_a_failure(tmp_path):
    run = _run(tmp_path)
    run.guard("boom", lambda: 1 / 0)
    rec = run.result()
    assert set(rec["end_to_end"]) == set(END_TO_END)
    assert (rec["attempted"], rec["failed"]) == (1, 1)
    run = _run(tmp_path)
    run.ops([3.0, 1.0, 2.0], unit="s")
    rec = run.result()
    assert rec["end_to_end"]["op_mean_s"] == 2.0 and rec["op_p50_s"] == 2.0
    assert (rec["op_tail_s"], rec["op_tail_percentile"]) == (3.0, 100.0)
