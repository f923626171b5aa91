"""Seeded input feeds for the topology workload.

Every wave is a pure function of the seed and the wave index, so the
oracles are computed from the same description of the feed the
topology receives.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

N_SKU = 200
N_BRAND = 7
N_MID = 400  # start-log device pool; small enough that mids repeat


def brand(pk: int) -> str:
    return f"Brand#{pk % N_BRAND}"


def _env(table: str, data: dict, ts: int, type_: str = "insert") -> str:
    return json.dumps(
        {"table": table, "type": type_,
         "data": {k: str(v) for k, v in data.items()}, "ts": ts}
    )


def dim_lines(ts: int) -> list[str]:
    """The sku dimension bootstrap, landed before any fact."""
    return [
        _env("sku_info", {"p_partkey": pk, "p_brand": brand(pk),
                          "p_name": f"sku{pk}"}, ts - N_SKU + pk)
        for pk in range(1, N_SKU + 1)
    ]


@dataclass(frozen=True)
class Order:
    key: int
    total: float
    details: tuple  # ((partkey, qty, extendedprice), ...)
    ts: int


def orders(seed: int, wave: int, n: int, ts: int) -> list[Order]:
    """`n` orders (about, ±10%) for one wave, 1-5 details each, all
    sharing the wave's create-time `ts` (the co-timed header/detail
    contract). Order keys are unique across waves."""
    rng = random.Random(seed * 1_000_003 + wave)
    count = rng.randint(n - n // 10, n + n // 10)
    out = []
    for j in range(count):
        details = tuple(
            (rng.randint(1, N_SKU), float(rng.randint(1, 9)),
             round(rng.uniform(1.0, 900.0), 2))
            for _ in range(rng.randint(1, 5))
        )
        total = round(sum(p for _, _, p in details) * rng.uniform(0.8, 1.0), 2)
        out.append(Order(wave * 100_000 + j, total, details, ts))
    return out


def header_line(o: Order) -> str:
    """A split-arrival header: it carries the original_total_amount
    analog (detail weight total and count) the running sum needs."""
    return _env("order_info", {
        "o_orderkey": o.key, "o_custkey": 7000 + o.key % 997,
        "o_totalprice": o.total,
        "o_weight_total": round(sum(p for _, _, p in o.details), 2),
        "o_detail_count": len(o.details)}, o.ts)


def detail_lines(o: Order, lines: slice = slice(None)) -> list[str]:
    return [
        _env("order_detail", {"l_orderkey": o.key, "l_linenumber": ln,
                              "l_partkey": pk, "l_suppkey": 10 + ln,
                              "l_quantity": qty, "l_extendedprice": price}, o.ts)
        for ln, (pk, qty, price) in list(enumerate(o.details, start=1))[lines]
    ]


def split_lines(os_: list[Order], half: int) -> list[str]:
    """One half of a split-arrival wave: half 0 holds every header
    (with its original-total metadata) and each order's first detail,
    half 1 the remaining details."""
    if half == 0:
        return [ln for o in os_
                for ln in [header_line(o), *detail_lines(o, slice(0, 1))]]
    return [ln for o in os_ for ln in detail_lines(o, slice(1, None))]


def start_log(seed: int, wave: int, n: int, ts: int) -> list[tuple[str, int]]:
    """`n` start-log records over a small device pool, so mids repeat
    inside a file and across files."""
    rng = random.Random(seed * 7_919 + wave)
    return [(f"mid_{rng.randrange(N_MID)}", ts + rng.randrange(900))
            for _ in range(n)]


def start_lines(recs: list[tuple[str, int]]) -> list[str]:
    return [json.dumps({"mid": m, "ts": ts}) for m, ts in recs]


def land(dir_: str, name: str, lines: list[str]) -> None:
    """Atomic landing: Spark's file source ignores `_`-prefixed names,
    so the rename is the moment the file becomes visible."""
    tmp = os.path.join(dir_, f"_w_{name}")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, os.path.join(dir_, name))
