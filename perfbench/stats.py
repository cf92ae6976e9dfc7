"""Summary statistics and the stream file -> micro-batch join. Pure Python,
so the benchmark's own tests exercise it without Spark."""

from __future__ import annotations

import json
import math
import os
import re
import statistics
from datetime import datetime

#: percentiles the benchmark may report as a tail, highest first
TAIL_LADDER = (99.9, 99.0, 90.0, 75.0, 50.0)


def samples_beyond(n: int, pct: float) -> int:
    """Samples strictly above the ``pct`` percentile of ``n`` samples."""
    return n - math.ceil(n * pct / 100.0)


def tail_percentile(n: int) -> float | None:
    """Highest percentile of TAIL_LADDER with at least ten samples beyond
    it, or None when ``n`` is too small for any of them."""
    return next((p for p in TAIL_LADDER if samples_beyond(n, p) >= 10), None)


def min_samples_for(pct: float) -> int:
    """Smallest sample count whose ``pct`` percentile has ten samples
    beyond it (100 for p90)."""
    n = 10
    while samples_beyond(n, pct) < 10:
        n += 1
    return n


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(len(s) * pct / 100.0) - 1)]


def median(values) -> float:
    """Median, 0.0 for no samples (a layer the workload does not use)."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def progress_end(p: dict) -> float:
    """Epoch seconds at which a StreamingQueryProgress's trigger ended
    (its start timestamp plus triggerExecution)."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + p["durationMs"].get("triggerExecution", 0) / 1000.0


def file_batches(checkpoint: str) -> dict[str, int]:
    """file name -> batch id, from the file source's log in a streaming
    checkpoint (``sources/0/<batch>`` and the ``<batch>.compact`` files).
    Each entry line is JSON with the file's ``path`` and ``batchId``."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if not re.fullmatch(r"\d+(\.compact)?", name):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # the "v1" version header
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def file_latencies(scheduled: dict[str, float], batch_of: dict[str, int],
                   commit_at: dict[int, float]) -> dict[str, float]:
    """Per released file: commit time of the micro-batch that read it minus
    the time the file was scheduled for release. Raises if a released file
    was never read or its batch never committed."""
    out = {}
    for name, due in scheduled.items():
        if name not in batch_of:
            raise KeyError(f"released file {name} was not read by any batch")
        b = batch_of[name]
        if b not in commit_at:
            raise KeyError(f"batch {b} that read {name} has no commit")
        out[name] = commit_at[b] - due
    return out


def backlog_max(release_at: list[float], commit_times: list[tuple[float, int]]) -> int:
    """Largest count of released but uncommitted files, checked at each
    release; ``commit_times`` holds (commit time, files in that batch)."""
    worst = 0
    commits = sorted(commit_times)
    for t in sorted(release_at):
        released = sum(1 for r in release_at if r <= t)
        done = sum(n for c, n in commits if c <= t)
        worst = max(worst, released - done)
    return worst
