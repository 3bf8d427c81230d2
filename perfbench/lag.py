"""Per-entry commit latency from a Structured Streaming checkpoint.

The file source's log (``sources/0/<batchId>``) names the files each batch
read; the commit log (``commits/<batchId>``) is written once the batch's
sink work is done, so its mtime is the batch's commit time. An entry's
latency is that commit time minus the time the entry became due (for a
staged backlog: the moment the stream started).
"""

from __future__ import annotations

import json
import os


def batch_files(checkpoint: str) -> dict[int, list[str]]:
    """batchId -> basenames of the files it read."""
    out: dict[int, list[str]] = {}
    src = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(src):
        if not name.split(".")[0].isdigit():
            continue  # checksum files
        with open(os.path.join(src, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # version header
                rec = json.loads(line)
                out.setdefault(int(rec["batchId"]), []).append(
                    os.path.basename(rec["path"]))
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """batchId -> commit time (epoch seconds)."""
    cdir = os.path.join(checkpoint, "commits")
    return {int(n): os.stat(os.path.join(cdir, n)).st_mtime
            for n in os.listdir(cdir) if n.isdigit()}


def entry_latencies(checkpoint: str, entries_per_file: dict[str, int],
                    due: dict[str, float]) -> tuple[list[float], int]:
    """-> (one latency per committed entry, number of entries never committed)."""
    commits = commit_times(checkpoint)
    lat: list[float] = []
    done: set[str] = set()
    for b, files in batch_files(checkpoint).items():
        if b not in commits:
            continue
        for f in files:
            if f in entries_per_file and f not in done:
                done.add(f)
                lat.extend([commits[b] - due[f]] * entries_per_file[f])
    missing = sum(n for f, n in entries_per_file.items() if f not in done)
    return lat, missing
