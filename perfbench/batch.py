"""The batch workload: registered `plans` queries over the fixed seed-42
sf0.001 tables, one client in a closed loop.

A run first executes every query of the mix, collects its result and
compares it with the query's registered DuckDB oracle; that pass warms
the JVM up and is not timed. The timed passes that follow build each
query again (the query function itself, including any eager jobs it
runs) and force it with the noop sink, which computes every column of
every row and discards it. The seed permutes the query order.
"""

from __future__ import annotations

import os
import random
import time

from perfbench.stats import median

# Reference-shaped relational queries: Catalyst joins, windows and
# shuffles in `operators/`, no Python workers and no driver gates.
WAREHOUSE = (
    "router_filter router_fanout date_derive first_order_flag running_total "
    "order_wide dim_enrich allocation brand_amount hot_parts_topk dau "
    "dedup_first revenue_rollup top_customers_per_nation regional_revenue"
).split()

MIXES = {"warehouse_batch": WAREHOUSE}


def _oracle_con(data: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                f"SELECT * FROM '{os.path.join(data, f)}'"
            )
    return con


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _check(ctx, spark, con, name: str, data: str) -> None:
    from realtime0523_spark.plans import REGISTRY
    from tools.check_oracle import compare

    spec = REGISTRY[name]
    got = ctx.guard(name, lambda: spec.fn(spark, data).toPandas())
    if got is not None:
        issues = compare(got, con.execute(spec.oracle).df())
        for i in issues:
            print(f"perfbench: {name} on {data}: {i}")
        ctx.check(f"{name} on {data}", not issues)
    spark.catalog.clearCache()


def run_batch(ctx) -> None:
    """One batch-workload run; fills `ctx` (a child.Run)."""
    from realtime0523_spark.plans import REGISTRY

    spark = ctx.session()
    names = list(MIXES[ctx.workload])
    random.Random(ctx.seed).shuffle(names)
    data = os.path.join(ctx.data, "sf0.001")

    con = _oracle_con(data)
    for name in names:
        _check(ctx, spark, con, name, data)
    ctx.setup_done()

    passes: list[float] = []
    per_query: dict[str, list[float]] = {n: [] for n in names}
    windows = []
    t_begin = time.time()
    while not passes or time.time() - t_begin < ctx.seconds:
        t_pass, pass_s = time.time(), 0.0
        for name in names:
            spec = REGISTRY[name]
            t0 = time.time()
            with ctx.span("plans.build"):
                df = ctx.guard(name, spec.fn, spark, data)
            if df is not None:
                with ctx.span("operators.exec"):
                    ctx.guard(name, _force, df)
            per_query[name].append(time.time() - t0)
            pass_s += per_query[name][-1]
            spark.catalog.clearCache()  # outside the timed window
        windows.append((t_pass, time.time()))
        passes.append(pass_s)

    ctx.ops([v for vs in per_query.values() for v in vs],
            unit="one query: build plus noop force")
    ctx.record.update({
        "windows": windows,
        "pass_s": median(passes),
        "passes": len(passes),
        "per_query_s": {n: median(v) for n, v in per_query.items()},
    })
