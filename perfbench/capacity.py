"""Measures the capacity of the ``wire_ingest`` consumer, from which
``workloads.WIRE_RATE`` is derived.

    python3 perfbench/capacity.py

One process with run.py's session set-up. For each batch size k in
``SIZES`` it renames k snapshot files (``workloads.WIRE_MSGS_PER_FILE``
messages each) into the watched directory at once and times the
``ingest_stream`` drive that lands them, all on one checkpoint,
``REPEATS`` times per size in a shuffled order. It fits the drive wall D(k) = a + b*k by least squares and prints
a, b and the saturation rate 1/b as one JSON line. A loop that re-drives
as soon as files arrive at r files/s settles where k = r*D(k), so
D = a / (1 - r*b): it keeps up only below r = 1/b, and at a fraction f of
that rate a drive takes a / (1 - f).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SIZES = (1, 4, 16, 64)
REPEATS = 4


def warm_ingest(run, root: str) -> None:
    """Two untimed drives over the private directory ``root``: one that
    creates its checkpoint, one that re-drives it."""
    from perfbench import workloads

    watch = os.path.join(root, "in")
    os.makedirs(watch, exist_ok=True)
    staged = workloads._stage_wire_files(run, 0, 2, os.path.join(root, "staged"))
    for i, path in enumerate(staged):
        os.rename(path, os.path.join(watch, os.path.basename(path)))
        workloads._drive(run, f"warm{i}", watch, os.path.join(root, "ckpt"),
                         os.path.join(root, "out"))


def main() -> int:
    sys.path[:0] = [ROOT]
    from perfbench import run as bench

    shutil.rmtree(bench.WORK, ignore_errors=True)
    nproc = len(os.sched_getaffinity(0))
    bench._environment(False, nproc)
    load_before = os.getloadavg()

    from bigdatainvesttink_spark.session import get_spark

    from perfbench import workloads

    spark = get_spark("perfbench-capacity")
    spark.sparkContext.setLogLevel("ERROR")
    run = workloads.Run(spark=spark, data_dir="", work_dir=bench.WORK, seed=0,
                        seconds=0.0, traced=False, cpus=spark.sparkContext.defaultParallelism)
    warm_ingest(run, os.path.join(bench.WORK, "capacity-warm"))

    root = os.path.join(bench.WORK, "capacity")
    watch, ckpt, out = (os.path.join(root, d) for d in ("in", "ckpt", "out"))
    os.makedirs(watch, exist_ok=True)
    plan = list(SIZES) * REPEATS
    random.Random(0).shuffle(plan)
    staged = workloads._stage_wire_files(run, 0, sum(plan), os.path.join(root, "staged"))
    walls: dict[int, list[float]] = {k: [] for k in SIZES}
    points = []
    for i, k in enumerate(plan):
        done = sum(plan[:i])
        for path in staged[done:done + k]:
            os.rename(path, os.path.join(watch, os.path.basename(path)))
        span = workloads._drive(run, f"cap{i}", watch, ckpt, out)
        walls[k].append(span.wall)
        points.append((k, span.wall))
    bench._stop_jvm(spark)

    mk = statistics.fmean(k for k, _ in points)
    md = statistics.fmean(d for _, d in points)
    b = (sum((k - mk) * (d - md) for k, d in points)
         / sum((k - mk) ** 2 for k, _ in points))
    a = md - b * mk
    print(json.dumps({
        "msgs_per_file": workloads.WIRE_MSGS_PER_FILE,
        "cpus": run.cpus,
        "nproc": nproc,
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "drive_wall_median_s": {k: statistics.median(w) for k, w in walls.items()},
        "a_s": a,
        "b_s_per_file": b,
        "saturation_files_per_s": 1.0 / b if b > 0 else None,
        "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
