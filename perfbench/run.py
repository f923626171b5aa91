"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The measured program runs in a fresh
child process (`perfbench.child`) whose whole process tree (driver
Python, JVM, Python workers) this process samples
for memory and stops at the end. With `--trace 0` the last line carries
the end-to-end metrics; with `--trace 1` the run also writes Spark's
event log and registers a streaming listener, and the last line carries
the per-layer metrics. The full record of every run is kept under
`.bench_build/perfbench/records/` for `perfbench/compare.py`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from importlib import metadata

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench.layers import PER_LAYER  # noqa: E402

WORKLOADS = ("warehouse_batch", "topology_catchup")
DATA = os.path.join("perfbench", "data")
CHILD_LIMIT_S = 150.0  # with the group stop after it, a run ends within 180 s
END_TO_END = {"setup_s": "s", "op_mean_s": "s"}
PAGE = os.sysconf("SC_PAGE_SIZE")


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_share"):
        return "share"
    return "count"


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        out.setdefault(ppid, []).append(int(d))
    return out


def tree_rss_bytes(pid: int) -> int:
    """Resident memory of `pid` and all its descendants."""
    kids, total, todo = _children(), 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
        todo += kids.get(p, [])
    return total


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                if int(fields[2]) == pgid and fields[0] != "Z":
                    return True
            except (OSError, IndexError, ValueError):
                continue
    return False


def stop_group(pgid: int) -> None:
    """Stop every process the run started and wait until each has ended."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def _cpu_ticks() -> tuple[int, int]:
    """(all ticks, steal ticks) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7]


def host_stamp() -> dict:
    with open("/proc/meminfo") as fh:
        mem = next(ln for ln in fh if ln.startswith("MemTotal"))
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_kb": int(mem.split()[1]),
            "loadavg": os.getloadavg()}


def _start_probe(cmd: list[str]):
    try:
        return subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=subprocess.STDOUT, text=True)
    except OSError:
        return None


def _probe_output(p) -> str | None:
    if p is None:
        return None
    try:
        out, _ = p.communicate(timeout=20)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return None
    lines = out.strip().splitlines()
    return lines[0] if p.returncode == 0 and lines else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the full record here")
    a = ap.parse_args()

    missing = [p for p in ("realtime0523_spark", "tools/check_oracle.py", DATA)
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}",
              file=sys.stderr)
        return 2

    build = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(build, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_file = os.path.join(work, "record.json")

    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    # keep Spark's scratch, the JVM's and Python's temp files inside the
    # checkout (the JVM's perf-counter file would go to /tmp)
    tmp = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    # version probes run alongside the measured child, not after it
    probes = {"java": _start_probe(["java", "-version"]),
              "git_commit": (_start_probe(["git", "rev-parse", "HEAD"])
                             if os.path.isdir(os.path.join(ROOT, ".git")) else None)}
    host_before, ticks_before = host_stamp(), _cpu_ticks()
    spawned = time.time()
    child = subprocess.Popen(
        [sys.executable, "-m", "perfbench.child", "--workload", a.workload,
         "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--work", work, "--data", DATA,
         "--out", out_file, "--spawned", repr(spawned)],
        cwd=ROOT, env=env, start_new_session=True,
    )
    # a terminated benchmark still stops the run it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    peak = 0
    try:
        while child.poll() is None:
            if time.time() - spawned > CHILD_LIMIT_S:
                print("perfbench: run exceeded its time limit", file=sys.stderr)
                break
            peak = max(peak, tree_rss_bytes(child.pid))
            time.sleep(0.2)
    finally:
        stop_group(child.pid)
        child.wait()
    ticks_after = _cpu_ticks()
    versions = {k: _probe_output(p) for k, p in probes.items()}

    if child.returncode != 0 or not os.path.exists(out_file):
        print(f"perfbench: child exited with {child.returncode}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    with open(out_file) as fh:
        rec = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)

    rec["peak_rss_mb"] = peak / 2**20
    if a.trace:
        rec["layers"]["proc.peak_rss_mb"] = rec["peak_rss_mb"]
    rec["failed_share"] = rec["failed"] / max(rec["attempted"], 1)
    d_all, d_steal = (ticks_after[0] - ticks_before[0],
                      ticks_after[1] - ticks_before[1])
    rec["host"] = {
        "before": host_before, "after": host_stamp(),
        "steal_share": d_steal / max(d_all, 1),
        "versions": {"pyspark": metadata.version("pyspark"),
                     "pyarrow": metadata.version("pyarrow"),
                     **versions},
        "env": {k: v for k, v in env.items() if k.startswith("SPARK_GRAFT_")},
    }
    if a.trace:
        metrics = {k: {"value": rec["layers"].get(k, 0.0), "unit": layer_unit(k)}
                   for k in PER_LAYER}
    else:
        metrics = {k: {"value": rec["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END.items()}

    records = os.path.join(build, "records")
    os.makedirs(records, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(spawned * 1000)}.json"
    for path in (os.path.join(records, name), a.record):
        if path:
            with open(path, "w") as fh:
                json.dump(rec, fh, indent=1)
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": max(rec["attempted"], 1),
        "failed": rec["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
