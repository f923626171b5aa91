"""Reads the commit artifacts a running `FiveLayerTopology` leaves on
disk, so per-stage lag is measured without touching the program: the file-source logs in each stage's checkpoint (which input
file or manifest went into which batch), the topic manifests and the
`batch_id=` partial directories (when each batch became visible).

A rename updates the renamed inode's ctime, and both the manifest and
the `batch_id=` partial commit by rename, so `st_ctime` is the moment
the commit became visible.
"""

from __future__ import annotations

import json
import os
import re

# stage -> (directory, entry pattern) of the commits it makes visible:
# topic manifests, dim snapshot markers, `batch_id=` partials, and for
# DAU the checkpoint commit log (its all-duplicate batches write no
# partial but still commit)
_MANIFEST = r"manifest_(\d+)\.txt"
_COMMITS = {
    "ods": (("ods/ods_order_info", _MANIFEST), ("ods/ods_order_detail", _MANIFEST),
            ("ods/ods_sku_info", _MANIFEST)),
    "dim": (("dim_sku", r"_ready_(\d+)"),),
    "dwd": (("dwd_order_info", _MANIFEST), ("dwd_order_detail", _MANIFEST)),
    "dws": (("dws_order_wide", _MANIFEST),),
    "ads": (("ads_partials", r"batch_id=(\d+)"),),
    "dau": (("ckpt/dau/commits", r"(\d+)"),),
}


def _log(d: str) -> dict[int, list[str]]:
    """{id: lines after the version tag} of a Spark metadata log
    directory (`N` files, and `N.compact` in a file-source log)."""
    out = {}
    for f in os.listdir(d) if os.path.isdir(d) else ():
        if re.fullmatch(r"\d+(\.compact)?", f):
            with open(os.path.join(d, f)) as fh:
                out[int(f.split(".")[0])] = [
                    x for x in fh.read().splitlines()[1:] if x.strip()]
    return out


def source_batches(ckpt: str) -> dict[str, int]:
    """{input path: query batch id} over every file source of one
    query's checkpoint. A file source numbers its own log; the query's
    offsets log (batch metadata, then one offset per source) says up to
    which source-log id each batch read."""
    offsets = {
        b: [json.loads(x).get("logOffset", -1) if x.startswith("{") else -1
            for x in lines[1:]]
        for b, lines in _log(os.path.join(ckpt, "offsets")).items()
    }
    out: dict[str, int] = {}
    sources = os.path.join(ckpt, "sources")
    for src in os.listdir(sources) if os.path.isdir(sources) else ():
        i = int(src)
        for lines in _log(os.path.join(sources, src)).values():
            for e in map(json.loads, lines):
                hits = [b for b, offs in offsets.items()
                        if i < len(offs) and offs[i] >= e["batchId"]]
                if hits:
                    out[e["path"].removeprefix("file://")] = min(hits)
    return out


def commit_times(root: str, stage: str) -> dict[int, float]:
    """{batch id: visible commit time} of one stage; a batch that wrote
    nothing has no entry."""
    out: dict[int, float] = {}
    for sub, pattern in _COMMITS[stage]:
        d = os.path.join(root, sub)
        for f in os.listdir(d) if os.path.isdir(d) else ():
            m = re.fullmatch(pattern, f)
            if m:
                b, t = int(m.group(1)), os.stat(os.path.join(d, f)).st_ctime
                out[b] = max(out.get(b, 0.0), t)
    return out


class Lineage:
    """Follows landed input files through the stages' batches."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.batch_of = {s: source_batches(os.path.join(root, "ckpt", s))
                         for s in _COMMITS}
        self.commit = {s: commit_times(root, s) for s in _COMMITS}

    def stage_lags(self, stage: str, due: dict[str, float],
                   window: tuple[float, float]) -> list[float]:
        """Lag samples of one stage over the batches it committed inside
        `window`: for every input (a landed file, or an upstream
        manifest) such a batch consumed, the batch's commit time minus
        the input's own time. An input the stage read straight from the
        landing directory takes its landing time from `due`."""
        out = []
        for path, b in self.batch_of[stage].items():
            t = self.commit[stage].get(b)
            if t is None or not window[0] <= t <= window[1]:
                continue
            src = (due.get(path) if stage in ("ods", "dau")
                   else os.stat(path).st_ctime)
            if src is not None:
                out.append(t - src)
        return out
