"""Open-loop wire feed for the wire_ingest part of the ``streams`` workload.

A :class:`Dropper` thread moves pre-written JSON-lines files into the
watched directory with an atomic rename, each at its due time on a seeded
schedule, and records how late it ran. The consumer side re-drives
``streaming.pipeline.ingest_stream`` (``availableNow``) on one checkpoint;
which drive landed which file is read back from that checkpoint's file
source log (:func:`source_log_batches`) and the commit log, not guessed
from timing.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time

# synth_wire's fixed corruption slots (queue_source._SLOT_MALFORMED and
# _SLOT_MISSING): two messages in every 50 never land.
DROPPED_SLOTS = (7, 19)
TABLE_OF_FEED = ("trades", "candles", "order_book", "companies")


def schedule(seed: int, n_files: int, rate: float) -> list[float]:
    """Due offsets (seconds from the start) of ``n_files`` at ``rate``
    files/s: evenly spaced with seeded jitter of half a gap either way, so
    the offered rate is fixed while arrival phases differ per seed."""
    rng = random.Random(seed)
    gap = 1.0 / rate
    return [(i + 0.5 + rng.uniform(-0.5, 0.5)) * gap for i in range(n_files)]


class Dropper(threading.Thread):
    """Renames ``staged[i]`` into ``watch_dir`` at ``t0 + due[i]`` (epoch
    seconds, the clock the consumer stamps drive ends with).

    ``clock`` and ``sleep`` are injectable so the lateness report can be
    tested without real waiting. ``renamed[i]`` is the clock reading just
    after file i's rename; ``late[i]`` how far that was past its due time.
    """

    def __init__(self, staged: list[str], due: list[float], watch_dir: str,
                 t0: float, clock=time.time, sleep=time.sleep):
        super().__init__(name="wire-dropper", daemon=True)
        self.staged, self.due, self.watch_dir, self.t0 = staged, due, watch_dir, t0
        self.clock, self.sleep = clock, sleep
        self.renamed: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for path, due in zip(self.staged, self.due):
                wait = self.t0 + due - self.clock()
                if wait > 0:
                    self.sleep(wait)
                os.rename(path, os.path.join(self.watch_dir, os.path.basename(path)))
                self.renamed.append(self.clock())
        except BaseException as exc:  # surfaced by the consumer after join
            self.error = exc
            raise

    @property
    def late(self) -> list[float]:
        return [r - (self.t0 + d) for r, d in zip(self.renamed, self.due)]

    def lateness_report(self) -> dict:
        late = self.late
        if not late:
            return {"files": 0, "max_s": 0.0, "mean_s": 0.0, "over_10ms": 0}
        return {
            "files": len(late),
            "max_s": max(late),
            "mean_s": sum(late) / len(late),
            "over_10ms": sum(1 for x in late if x > 0.010),
        }


def _log_entries(path: str) -> list[dict]:
    with open(path) as f:
        lines = f.read().splitlines()
    if not lines or not lines[0].startswith("v"):
        raise ValueError(f"not a metadata log file: {path}")
    return [json.loads(line) for line in lines[1:] if line.strip()]


def source_log_batches(checkpoint_dir: str, source: int = 0) -> dict[str, int]:
    """file basename -> micro-batch id, from the file source's metadata log
    (plain ``<batch>`` files and the periodic ``<batch>.compact`` files,
    whose entries keep their own ``batchId``)."""
    log_dir = os.path.join(checkpoint_dir, "sources", str(source))
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        stem = name.removesuffix(".compact")
        if not stem.isdigit():
            continue
        for entry in _log_entries(os.path.join(log_dir, name)):
            out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def last_committed_batch(checkpoint_dir: str) -> int:
    """Highest micro-batch id in the commit log, -1 before the first."""
    commit_dir = os.path.join(checkpoint_dir, "commits")
    if not os.path.isdir(commit_dir):
        return -1
    ids = [int(n) for n in os.listdir(commit_dir) if n.isdigit()]
    return max(ids, default=-1)


def attribute(file_batch: dict[str, int], drive_last_batch: list[int]) -> dict[str, int]:
    """file -> index of the drive that landed it. Drive i committed the
    batches in ``(drive_last_batch[i-1], drive_last_batch[i]]``; a file whose
    batch no drive committed is left out (it did not land)."""
    out: dict[str, int] = {}
    for name, batch in file_batch.items():
        lo = -1
        for i, hi in enumerate(drive_last_batch):
            if lo < batch <= hi:
                out[name] = i
                break
            lo = max(lo, hi)
    return out
