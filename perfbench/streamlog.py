"""Epoch accounting from outside the program: which source file each
micro-batch read (the checkpoint's file-source log) and when each
micro-batch committed (its progress record)."""

from __future__ import annotations

import datetime
import json
import os
import statistics
from urllib.parse import unquote, urlparse


def file_batches(checkpoint_dir: str, source: int = 0) -> dict[str, int]:
    """``{source file basename: batch id}`` from
    ``<checkpoint>/sources/<source>/``: one file per batch, or a
    ``<n>.compact`` file holding every entry up to batch n. Each file is
    a version line followed by JSON entries carrying path and batchId."""
    log_dir = os.path.join(checkpoint_dir, "sources", str(source))
    out: dict[str, int] = {}
    for name in os.listdir(log_dir) if os.path.isdir(log_dir) else ():
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(unquote(urlparse(e["path"]).path))] = int(e["batchId"])
    return out


def _epoch_s(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def batch_commits(progress: list[dict]) -> dict[int, float]:
    """``{batch id: commit wall time}``; commit = trigger start
    ``timestamp`` + ``durationMs.triggerExecution``. Records of idle
    triggers (no addBatch) carry no commit."""
    out = {}
    for p in progress:
        d = p.get("durationMs") or {}
        if "addBatch" in d and "triggerExecution" in d:
            out[int(p["batchId"])] = _epoch_s(p["timestamp"]) + d["triggerExecution"] / 1000.0
    return out


def file_lags(due: dict[str, float], batches: dict[str, int],
              commits: dict[int, float]) -> dict[str, float | None]:
    """Per source file: commit time of the batch that read it minus the
    time the generator was due to write it (None = not committed)."""
    out = {}
    for name, t_due in due.items():
        b = batches.get(name)
        out[name] = None if b is None or b not in commits else commits[b] - t_due
    return out


def quantile(values: list[float], q: float) -> float:
    """Inclusive-method quantile (``q`` in (0, 1)); the lone value for n=1."""
    vals = sorted(values)
    if len(vals) == 1:
        return vals[0]
    cuts = statistics.quantiles(vals, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]
