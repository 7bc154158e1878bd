"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from ``--seed``, sets the engine up
twice (session, fixture materialization, warm-up) and keeps the median,
runs the workload for ``--seconds``, checks every output outside
the timed region, and prints two JSON lines: an info line (host, loadavg,
sample counts, failures) and, last, the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` turns on Spark's event log, a
streaming and a query-execution listener and reports the per-layer metrics instead, writing the
per-operation artifact to ``perfbench/.results/``.

Everything the run writes stays under ``perfbench/.work`` (wiped at start)
and ``perfbench/.results``.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
RESULTS = os.path.join(BENCH_DIR, ".results")

# Input scale per workload (sf0.1 = 600k lineitem / 100k events rows).
SCALE = {
    "dashboard_queries": 0.01,
    "streams": 0.01,
}
SETUP_REPEATS = 2
DRIVER_MEMORY = "2g"
# The program's own collector and heap sizing (G1, -Xmx from SPARK_DRIVER_MEM).
# No perf-data file: HotSpot would write it under /tmp whatever
# java.io.tmpdir says.
JVM_OPTS = "-XX:-UsePerfData"
DEADLINE_S = 170

END_TO_END_UNITS = {
    "setup_s": "s",
    "jvm_live_mb": "MB",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "throughput_per_s": "1/s",
    "pass_wall_s": "s",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SCALE))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(traced: bool, cpus: int) -> None:
    """Point every scratch path of Python, the JVM and Spark into WORK.
    Must run before pyspark launches the JVM."""
    import tempfile

    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "local"), os.path.join(WORK, "eventlog")):
        os.makedirs(d, exist_ok=True)
    tempfile.tempdir = tmp
    conf = {
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.checkpoint.dir": os.path.join(WORK, "ckpt"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    java_opts = f"-Djava.io.tmpdir={tmp} {JVM_OPTS}"
    args = [f"--driver-java-options='{java_opts}'"]
    args += [f"--conf {k}={v}" for k, v in conf.items()]
    py_path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        # Python workers import the package when they unpickle UDFs
        "PYTHONPATH": os.pathsep.join(py_path),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEMORY,
        "PYSPARK_SUBMIT_ARGS": " ".join(args) + " pyspark-shell",
    })


def _setup_once(data_dir: str) -> tuple[object, dict]:
    """Session start + fixture materialization + warm-up, timed."""
    from bigdatainvesttink_spark.fixtures import _CTE_ORDER, domain_table
    from bigdatainvesttink_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    for table in _CTE_ORDER:
        domain_table(spark, data_dir, table)
    t2 = time.perf_counter()
    _warm_query(spark, data_dir)
    t3 = time.perf_counter()
    return spark, {"session.start_s": t1 - t0, "fixtures.materialize_s": t2 - t1,
                   "warmup_s": t3 - t2, "setup_s": t3 - t0}


def _warm_query(spark, data_dir: str) -> None:
    from bigdatainvesttink_spark import registry

    registry.all_queries()["q1_pricing_summary"](spark, data_dir) \
        .write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()


def _host_counters() -> dict[str, int]:
    """Machine-wide CPU ticks by state and page-reclaim counters, to be
    differenced over a run: steal and reclaim show a contended host."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    out = dict(zip(("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"), ticks))
    with open("/proc/vmstat") as f:
        for line in f:
            key, value = line.split()
            if key in ("pgmajfault", "pgscan_kswapd", "pgscan_direct"):
                out[key] = int(value)
    return out


def _host_pressure(before: dict, after: dict) -> dict:
    delta = {k: after[k] - before[k] for k in before}
    cpu = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    total = sum(delta[k] for k in cpu) or 1
    out = {f"{k}_share": delta[k] / total for k in ("idle", "iowait", "steal")}
    out.update({k: v for k, v in delta.items() if k not in cpu})
    return out


def _jvm_probe(spark) -> dict:
    """Resident set, its peak, heap and collector totals of the JVM now."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    heap = mf.getMemoryMXBean().getHeapMemoryUsage()
    gcs = list(mf.getGarbageCollectorMXBeans())
    mem = {}
    with open(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/status") as f:
        for line in f:
            key = line.split(":", 1)[0]
            if key in ("VmRSS", "VmHWM"):
                mem[key] = int(line.split()[1]) / 1024.0
    return {
        "rss_mb": mem["VmRSS"], "peak_rss_mb": mem["VmHWM"],
        "heap_committed_mb": heap.getCommitted() / 2**20,
        "heap_used_mb": heap.getUsed() / 2**20,
        "gc_n": sum(g.getCollectionCount() for g in gcs),
        "gc_s": sum(g.getCollectionTime() for g in gcs) / 1000.0,
    }


def _jvm_live_mb(spark) -> dict[str, float]:
    """Heap in use after a full collection and non-heap in use: the
    memory the JVM holds on to once the workload is done.

    Spark's ContextCleaner drops broadcast and shuffle blocks on its own
    thread once a collection has freed the objects that used them, so the
    collection is repeated after giving it time to do so."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    for pause in (0.5, 0.5, 0.0):
        mx.gc()
        time.sleep(pause)
    return {"heap_mb": mx.getHeapMemoryUsage().getUsed() / 2**20,
            "nonheap_mb": mx.getNonHeapMemoryUsage().getUsed() / 2**20}


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (Python worker daemons and workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM and the Python workers it
    forked, and wait for all of them to exit.

    The JVM exits when its stdin pipe closes; closing py4j's own gateway
    first can deadlock once Python workers have called back."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    workers = _descendants(proc.pid)
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    _wait_gone(workers, timeout=10)


def _end_to_end(result, setup_s: float, live_mb: float) -> dict:
    from perfbench import stats

    return {
        "setup_s": setup_s,
        "jvm_live_mb": live_mb,
        "op_p50_s": stats.percentile(result.latencies, 50.0),
        "op_p90_s": stats.percentile(result.latencies, 90.0),
        "throughput_per_s": result.throughput_per_s,
        "pass_wall_s": result.pass_wall_s,
    }


def _per_layer(result, setup: dict, listener, queries, cpus: int) -> tuple[dict, dict]:
    """(run-level layer metrics, per-operation artifact rows)."""
    from perfbench import layers

    executor = layers.reduce_event_log(
        layers.read_event_logs(os.path.join(WORK, "eventlog")), result.spans
    )
    streaming = layers.streaming_by_op(listener.progress, result.spans)
    # ingest drives are streaming queries, not sink writes: their
    # micro-batch executions are not a plan/exec split of the drive
    writes = layers.writes_by_op(
        queries.records, [s for s in result.spans if s.name != "ingest_stream"])
    per_op = layers.per_op_layers(result.spans, executor, streaming, cpus, writes)
    # warm-up drives of the wire feed stay in the artifact, not in the means
    means = layers.run_means({k: r for k, r in per_op.items() if r.get("timed", True)})
    metrics = {k: 0.0 for k in layers.LAYER_UNITS}
    metrics.update(means)
    metrics.update(result.detail.get("layers", {}))
    metrics["fixtures.materialize_s"] = setup["fixtures.materialize_s"]
    metrics["session.start_s"] = setup["session.start_s"]
    return metrics, per_op


def _tracing_overhead(workload: str, seed: int, per_op: dict) -> dict | None:
    """Traced against untraced wall, per operation name, from the latest
    untraced artifact of the same workload (same seed preferred)."""
    candidates = [f"{workload}-trace0-seed{seed}.json"] + sorted(
        n for n in os.listdir(RESULTS) if n.startswith(f"{workload}-trace0-")
    )
    for name in candidates:
        path = os.path.join(RESULTS, name)
        if not os.path.exists(path):
            continue
        with open(path) as f:
            base = json.load(f)
        untraced: dict[str, list[float]] = {}
        for op in base.get("ops", []):
            if op.get("timed", True):
                untraced.setdefault(op["name"], []).append(op["wall_s"])
        traced: dict[str, list[float]] = {}
        for row in per_op.values():
            if row.get("timed", True):
                traced.setdefault(row["name"], []).append(row["wall_s"])
        common = sorted(set(untraced) & set(traced))
        if not common:
            continue
        t = sum(statistics.median(traced[n]) for n in common)
        u = sum(statistics.median(untraced[n]) for n in common)
        out = {"baseline": name, "ops_compared": len(common),
               "traced_wall_s": t, "untraced_wall_s": u, "overhead_share": t / u - 1.0}
        summed: dict[str, list[float]] = {}
        for row in per_op.values():
            if "dispatch_s" in row:
                summed.setdefault(row["name"], []).append(
                    row["operators.build_s"] + row["operators.plan_s"] + row["operators.exec_s"])
        if set(common) <= set(summed):
            # the layer sum against a wall timed in another process
            s = sum(statistics.median(summed[n]) for n in common)
            out.update({"layer_sum_s": s, "layer_sum_vs_untraced": s / u - 1.0})
        return out
    return None


def _sum_check(per_op: dict) -> dict | None:
    """build + plan + exec against each query operation's own wall. Build
    is timed in Python, plan and exec by the JVM, so they need not add up."""
    errs = [abs(r["dispatch_s"]) / r["wall_s"]
            for r in per_op.values() if "dispatch_s" in r and r["wall_s"] > 0]
    if not errs:
        return None
    return {"ops": len(errs), "within_5pct_share": sum(e <= 0.05 for e in errs) / len(errs),
            "median_rel_err": statistics.median(errs), "max_rel_err": max(errs)}


def main(argv=None) -> int:
    args = _parse(argv)
    # Watchdog: dump every thread's stack and exit non-zero; the JVM
    # exits with us when its stdin pipe closes.
    faulthandler.dump_traceback_later(DEADLINE_S, exit=True)
    faulthandler.register(signal.SIGUSR1)
    wall0 = time.perf_counter()
    load_before = os.getloadavg()
    host_before = _host_counters()
    nproc = len(os.sched_getaffinity(0))
    traced = bool(args.trace)

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(RESULTS, exist_ok=True)
    _environment(traced, nproc)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

    import bigdatainvesttink_spark  # noqa: F401  (fail fast outside a checkout)
    import check_oracle

    from perfbench import gen, layers, stats, workloads

    scale = SCALE[args.workload]
    phases = {"import_s": time.perf_counter() - wall0}
    data = gen.write(os.path.join(WORK, "data"), args.seed, scale)
    phases["gen_s"] = time.perf_counter() - wall0 - sum(phases.values())
    setups = []
    spark = None
    for i in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        # a fresh path per repeat, so fixtures materialize again each time
        alias = f"{data}-setup{i}"
        os.symlink(data, alias)
        spark, times = _setup_once(alias)
        setups.append(times)
    setup = {k: statistics.median(s[k] for s in setups) for k in setups[0]}
    phases["setup_s"] = time.perf_counter() - wall0 - sum(phases.values())

    listener = queries = None
    if traced:
        listener = layers.ProgressListener()
        spark.streams.addListener(listener.as_spark_listener())
        queries = layers.QueryListener()
        queries.register(spark)
    con = check_oracle.duck_con(alias)
    con.execute(f"SET temp_directory='{os.path.join(WORK, 'duckdb')}'")
    run = workloads.Run(
        spark=spark, data_dir=alias, work_dir=WORK, seed=args.seed,
        seconds=args.seconds, traced=traced,
        cpus=spark.sparkContext.defaultParallelism, oracle_con=con,
        probe=lambda: _jvm_probe(spark),
    )
    run.mark("setup")
    result = workloads.WORKLOADS[args.workload](run)
    con.close()
    phases["workload_s"] = time.perf_counter() - wall0 - sum(phases.values())
    run.mark("end")
    live = _jvm_live_mb(spark)
    live_mb = live["heap_mb"] + live["nonheap_mb"]

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "sf": scale,
        "cpus": run.cpus,
        "nproc": nproc,
        "loadavg_before": load_before,
        "op_failure_ratio": result.failed / result.attempted,
        "samples": len(result.latencies),
        "setup_repeats": setups,
        # G1 sizes the heap from pause-time feedback, so the peak resident
        # set moved by a third between runs of the same code: reported
        # here, not bounded (jvm_live_mb is the bounded memory metric)
        "jvm_peak_rss_mb": run.marks[-1]["peak_rss_mb"],
        "jvm_live": live,
        "jvm_marks": run.marks,
        **{k: v for k, v in result.detail.items() if k != "layers"},
    }
    summary = stats.summarize(result.latencies)
    info["tail_pct"], info["tail_s"] = summary["tail_pct"], summary["tail"]
    if traced:
        listener.wait_idle()
        queries.drain(spark)
        _stop_jvm(spark)
        metrics, per_op = _per_layer(result, setup, listener, queries, run.cpus)
        units = layers.LAYER_UNITS
        info["tracing_overhead"] = _tracing_overhead(args.workload, args.seed, per_op)
        info["sum_check"] = _sum_check(per_op)
        if args.workload == "dashboard_queries":
            info["fixed_overhead_share"] = 1.0 - metrics["executor.busy_share"]
        artifact = {"info": info, "layers": metrics, "ops": list(per_op.values())}
    else:
        _stop_jvm(spark)
        metrics = _end_to_end(result, setup["setup_s"], live_mb)
        units = END_TO_END_UNITS
        artifact = {"info": info, "metrics": metrics, "ops": [
            {"name": s.name, "wall_s": s.wall, **s.extra} for s in result.spans
        ]}
    info["loadavg_after"] = os.getloadavg()
    info["host_pressure"] = _host_pressure(host_before, _host_counters())
    info["run_wall_s"] = time.perf_counter() - wall0
    phases["finish_s"] = info["run_wall_s"] - sum(phases.values())
    info["run_phases"] = phases
    path = os.path.join(RESULTS, f"{args.workload}-trace{args.trace}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    info["artifact"] = os.path.relpath(path, ROOT)
    faulthandler.cancel_dump_traceback_later()
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
