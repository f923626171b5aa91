"""The small-input driver gate shared by every iterative operator that
has a driver-side twin.

Seven operators (connected components, pagerank, k-core, BFS, the RFM
scorer, the equi-depth histogram finisher and the BPE/WordPiece
trainer) run a loop of many small Spark jobs: each round is a join or
aggregate plus a checkpoint, and on a small input every one of those
jobs is scheduling fixed cost. Each operator first MEASURES the rows
it would collect (a count it already needs, so the gate adds no job).
When that count fits under DRIVER_ROWS, one Arrow collect plus numpy
or Python passes on the driver replace the loop; above it the
distributed code runs unchanged. Both paths return the identical
table, pinned by the parity tests.

The cap is in rows the driver collects. 1M rows of two int64 columns
is ~16 MB, far under a broadcast build side, so memory never binds;
the cap is set by the measured break-even of the graph loops (collect
and index prep cost ~2 s per million edges against ~5 s of per-query
round fixed cost), so the 2.39M-edge co-purchase graph at sf0.1 stays
on the distributed rounds, which measured faster there. Empty inputs
take the distributed path, which handles them without a collect.

`SPARK_GRAFT_DRIVER_GATE` (read at call time) is `auto` (default) or
`off`; `off` forces every operator onto its distributed path, which is
how the parity and plan tests reach it. Every decision is logged at
INFO on the `realtime0523_spark.driver_gate` logger with the family,
the measured rows, the cap and the chosen path.
"""

from __future__ import annotations

import logging
import os

DRIVER_ROWS = 1_000_000

_log = logging.getLogger("realtime0523_spark.driver_gate")


def driver_path(n_rows: int, family: str) -> bool:
    """True when `family`'s measured input of `n_rows` rows should run
    on the driver: 0 < n_rows <= DRIVER_ROWS and the gate is not off."""
    mode = os.environ.get("SPARK_GRAFT_DRIVER_GATE", "auto")
    if mode not in ("auto", "off"):
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_GATE must be 'auto' or 'off', got {mode!r}"
        )
    on_driver = mode == "auto" and 0 < n_rows <= DRIVER_ROWS
    _log.info(
        "family=%s rows=%d cap=%d gate=%s path=%s",
        family,
        n_rows,
        DRIVER_ROWS,
        mode,
        "driver" if on_driver else "distributed",
    )
    return on_driver
