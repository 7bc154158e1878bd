"""Per-query empirical profiler (spark_optimization_guide.md §1, §7.1).

Runs named registered queries against $SPARK_GRAFT_SF_DIR with the bench
methodology (noop sink, cache cleared between runs) on a session with the
UI ENABLED, then pulls the UI REST API for the jobs/stages executed by each
query and prints where the time went: per-stage executor run time, shuffle
read/write bytes, input bytes, task counts, and the Python boundary
(Arrow/BatchEvalPython shows up as stage name + executorRunTime).

Usage: python tools/profile_query.py <query> [<query> ...]
       python tools/profile_query.py --top N       # N slowest per BENCH_DETAIL
Output: one block per query; also notes build-vs-execute split (eager
builders — streaming drives — spend their wall in build()).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _api(port: int, path: str):
    with urllib.request.urlopen(
        f"http://localhost:{port}/api/v1/{path}", timeout=10
    ) as r:
        return json.load(r)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]

    from bigdatainvesttink_spark.session import configure, driver_memory
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "true")
        .config("spark.ui.retainedJobs", "5000")
        .config("spark.ui.retainedStages", "5000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
    port = int(spark.sparkContext.uiWebUrl.rsplit(":", 1)[1])
    app_id = spark.sparkContext.applicationId

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if names and names[0] == "--top":
        with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
            detail = json.load(f)["queries"]
        names = [
            k
            for k, _ in sorted(detail.items(), key=lambda kv: -kv[1])[
                : int(names[1])
            ]
        ]

    # warm-up (mirrors bench.py)
    qs["q1_pricing_summary"](spark, sf_dir).count()
    from bigdatainvesttink_spark.fixtures import _CTE_ORDER, domain_table

    for table in _CTE_ORDER:
        domain_table(spark, sf_dir, table)

    for name in names:
        fn = qs[name]
        before_jobs = {j["jobId"] for j in _api(port, f"applications/{app_id}/jobs")}
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        spark.catalog.clearCache()
        jobs = [
            j
            for j in _api(port, f"applications/{app_id}/jobs")
            if j["jobId"] not in before_jobs
        ]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = _api(port, f"applications/{app_id}/stages?status=complete")
        smap = {s["stageId"]: s for s in stages}
        print(f"\n=== {name}  build={t1-t0:.2f}s exec={t2-t1:.2f}s "
              f"total={t2-t0:.2f}s  jobs={len(jobs)} stages={len(stage_ids)}")
        rows = []
        for sid in stage_ids:
            s = smap.get(sid)
            if not s:
                continue
            rows.append(
                (
                    s["executorRunTime"] / 1000.0,
                    sid,
                    s["numCompleteTasks"],
                    s["inputBytes"] / 1e6,
                    s["shuffleReadBytes"] / 1e6,
                    s["shuffleWriteBytes"] / 1e6,
                    (s.get("executorDeserializeTime", 0)) / 1000.0,
                    s["name"][:70],
                )
            )
        rows.sort(reverse=True)
        print("  runT(s) stage tasks  inMB shRdMB shWrMB deser  name")
        for r in rows[:12]:
            print(
                f"  {r[0]:7.2f} {r[1]:5d} {r[2]:5d} {r[3]:5.1f} {r[4]:6.1f}"
                f" {r[5]:6.1f} {r[6]:5.2f}  {r[7]}"
            )
        tot_run = sum(r[0] for r in rows)
        print(f"  total executorRunTime={tot_run:.1f}s over {len(rows)} stages")

    os._exit(0)


if __name__ == "__main__":
    main()
