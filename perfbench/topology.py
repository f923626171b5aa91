"""The topology workload: `FiveLayerTopology` driven through its public
lifecycle (`start`, `drain`, `ads_result`, `dau_result`, `stop`) with a
seeded feed, measured from outside and, in traced runs, from a
streaming listener and the commit artifacts the stages leave.

`topology_catchup` runs the topology with `split_arrival=True` at the
tests' 0.5 s trigger, one client in a closed loop. Each wave of orders
arrives split over two CDC files: first the headers plus each order's
first detail, then the remaining details, each with half of the wave's
start log. The client lands one file and calls `drain()`, then lands
the next, so the halves of every order meet in different batches and
the ADS running-sum state carries them across. One operation is one
landing and its drain.
"""

from __future__ import annotations

import json
import os
import time

from perfbench import feed
from perfbench.artifacts import Lineage
from perfbench.stats import iso_to_epoch, median


class ProgressLog:
    """StreamingQueryListener collecting every progress event per query
    name (traced runs only)."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log: dict[str, list[dict]] = {}

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                log.setdefault(p.get("name") or "", []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.log = log
        self.listener = _L()


def _oracle_brand_totals(spark, waves: list[list[feed.Order]]) -> dict[str, float]:
    """The batch allocation + brand join over every generated fact at
    once (the engine's own batch operator), which the streaming result
    must equal whatever its batch boundaries were."""
    from pyspark.sql import functions as F

    from realtime0523_spark.functions.scalar import round2
    from realtime0523_spark.operators.allocation import allocate_order_amount

    heads, dets = [], []
    for os_ in waves:
        for o in os_:
            heads.append((o.key, o.total))
            for ln, (pk, qty, price) in enumerate(o.details, start=1):
                dets.append((o.key, ln, pk, 10 + ln, qty, price))
    h = spark.createDataFrame(heads, "o_orderkey long, o_totalprice double")
    d = spark.createDataFrame(
        dets,
        "l_orderkey long, l_linenumber int, l_partkey long, l_suppkey long, "
        "l_quantity double, l_extendedprice double",
    )
    alloc = allocate_order_amount(
        h.join(d, h.o_orderkey == d.l_orderkey),
        order_key="l_orderkey",
        detail_order_by=["l_linenumber", "l_partkey", "l_suppkey",
                         "l_extendedprice", "l_quantity"],
        weight="l_extendedprice",
        order_total="o_totalprice",
    )
    brands = spark.createDataFrame(
        [(pk, feed.brand(pk)) for pk in range(1, feed.N_SKU + 1)],
        "l_partkey long, p_brand string",
    )
    rows = (
        alloc.join(F.broadcast(brands), "l_partkey", "left")
        .groupBy("p_brand")
        .agg(round2(F.sum("final_detail_amount")).alias("amount"))
        .collect()
    )
    return {r["p_brand"]: r["amount"] for r in rows}


def _dau_oracle(recs: list[tuple[str, int]]) -> dict[str, int]:
    import datetime as dt

    seen = {
        (dt.datetime.fromtimestamp(ts / 1000, dt.timezone.utc).strftime("%Y-%m-%d"), m)
        for m, ts in recs
    }
    out: dict[str, int] = {}
    for d, _ in seen:
        out[d] = out.get(d, 0) + 1
    return out


def _stage_records(progress: dict[str, list[dict]], lineage: Lineage,
                   due: dict[str, float], window: tuple[float, float]) -> dict:
    """Per-stage streaming metrics: lag from the artifacts, batch phases
    and state from the listener's progress events."""
    out = {}
    t0, t1 = window
    for s in ("ods", "dim", "dwd", "dws", "ads", "dau"):
        evs = [
            p for p in progress.get(f"topology_{s}", [])
            if t0 <= iso_to_epoch(p["timestamp"]) <= t1
        ]
        lag = lineage.stage_lags(s, due, window)
        dur = [p.get("durationMs") or {} for p in evs]
        busy = sum(d.get("triggerExecution", 0) for d in dur) / 1000.0
        rec = {
            "lag_p50_s": median(lag) if lag else 0.0,
            "lag_n": len(lag),
            "batches": len(evs),
            "rows_in": sum(int(p.get("numInputRows") or 0) for p in evs),
            "busy_share": busy / max(t1 - t0, 1e-9),
        }
        # phases of the batches that did work (no-data batches would
        # pull every median toward the idle trigger's cost)
        work = [d for p, d in zip(evs, dur) if int(p.get("numInputRows") or 0) > 0]
        for key, phases in (
            ("batch_p50_s", ("triggerExecution",)),
            ("add_batch_s", ("addBatch",)),
            ("plan_s", ("latestOffset", "getBatch", "queryPlanning")),
            ("commit_s", ("walCommit", "commitOffsets")),
        ):
            vals = [sum(d.get(k, 0) for k in phases) / 1000.0 for d in work]
            rec[key] = median(vals) if vals else 0.0
        ops = [op for p in evs for op in (p.get("stateOperators") or [])]
        last = [op for op in (evs[-1].get("stateOperators") or [])] if evs else []
        rec["state_rows"] = sum(int(op.get("numRowsTotal") or 0) for op in last)
        rec["state_bytes"] = sum(int(op.get("memoryUsedBytes") or 0) for op in last)
        rec["state_commit_ms"] = sum(int(op.get("commitTimeMs") or 0) for op in ops)
        rec["watermark_drops"] = sum(
            int(op.get("numRowsDroppedByWatermark") or 0) for op in ops
        )
        out[s] = rec
    return out


# orders and start-log records per wave, and the tests' fast trigger
CATCHUP_ORDERS = 1000
CATCHUP_STARTS = 400
CATCHUP_TRIGGER_S = 0.5
DIM_WAIT_S = 120.0


def _wait_for_dim(topo) -> None:
    """Block until the DIM stage has committed its first snapshot (ADS
    refuses facts before that)."""
    deadline = time.time() + DIM_WAIT_S
    while not any(f.startswith("_ready_") for f in os.listdir(topo.dim_store)):
        if time.time() > deadline:
            raise TimeoutError("the dim bootstrap was never committed")
        time.sleep(0.05)


def run_catchup(ctx) -> None:
    """One `topology_catchup` run; fills `ctx` (a child.Run).

    Set-up starts the topology, lands the dim bootstrap, waits for its
    commit, then lands the first half of wave 0 and drains, which runs
    every stage's first batch. Each operation then lands one half-wave
    (the second half of the current wave, or the first half of the
    next) and drains it. A run ends on a second half, so every order is
    complete when the results are compared."""
    from realtime0523_spark.streaming.topology import FiveLayerTopology

    spark = ctx.session()
    progress = None
    if ctx.trace:
        progress = ProgressLog()
        spark.streams.addListener(progress.listener)
    root = os.path.join(ctx.work, "topo")
    topo = FiveLayerTopology(spark, root, trigger_seconds=CATCHUP_TRIGGER_S,
                             split_arrival=True)
    ts0 = int(time.time() * 1000)
    waves: list[tuple[list[feed.Order], list[tuple[str, int]]]] = []
    landed: dict[str, float] = {}

    def add_wave() -> None:
        i = len(waves)
        ts = ts0 + (i + 1) * 1000  # monotone event time, as CDC delivers
        waves.append((feed.orders(ctx.seed, i, CATCHUP_ORDERS, ts),
                      feed.start_log(ctx.seed, i, CATCHUP_STARTS, ts)))

    def land_half(half: int) -> float:
        """Land one half of the newest wave and drain; its seconds."""
        i = len(waves) - 1
        orders, starts = waves[i]
        mid = len(starts) // 2
        t0 = time.time()
        for name, d, lines in (
            (f"start_{i:05d}_{half}.json", topo.in_start_dir,
             feed.start_lines(starts[:mid] if half == 0 else starts[mid:])),
            (f"wave_{i:05d}_{half}.json", topo.in_dir, feed.split_lines(orders, half)),
        ):
            ctx.guard(f"land {name}", feed.land, d, name, lines)
            landed[os.path.join(d, name)] = time.time()
        with ctx.span("topology.drain"):
            ctx.guard("topology.drain", topo.drain)
        return time.time() - t0

    try:
        with ctx.span("topology.start"):
            topo.start()
        feed.land(topo.in_dir, "bootstrap.json", feed.dim_lines(ts0))
        _wait_for_dim(topo)
        add_wave()
        land_half(0)
        ctx.setup_done()

        t_begin = time.time()
        steps = [land_half(1)]
        while time.time() - t_begin < ctx.seconds:
            add_wave()
            steps += [land_half(0), land_half(1)]
        window = (t_begin, time.time())
        orders = [w[0] for w in waves]
        n_orders = sum(map(len, orders))
        ctx.ops(steps, unit="one half-wave landed and drained")
        ctx.record.update({"orders_per_s": n_orders / sum(steps),
                           "waves": len(waves), "orders": n_orders})

        with ctx.span("topology.ads_result"):
            got_ads = ctx.guard("ads_result", lambda: {
                r["p_brand"]: r["amount"] for r in topo.ads_result().collect()})
        with ctx.span("topology.dau_result"):
            got_dau = ctx.guard("dau_result", lambda: {
                r["dt"]: r["dau"] for r in topo.dau_result().collect()})
        ctx.check("ads_result", got_ads == _oracle_brand_totals(spark, orders))
        ctx.check("dau_result",
                  got_dau == _dau_oracle([r for w in waves for r in w[1]]))
        ctx.record["windows"] = [window]
        if progress is not None:
            ctx.record["streaming"] = _stage_records(
                progress.log, Lineage(root), landed, window)
    finally:
        # stop() stops every stage before it re-raises a stage's failure
        # (the DWS watermark-drop check among them)
        with ctx.span("topology.stop"):
            ctx.guard("topology.stop", topo.stop)
        if progress is not None:
            spark.streams.removeListener(progress.listener)
