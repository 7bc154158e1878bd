"""SparkSession factory + runtime configuration.

The driver may hand us an already-built session, so everything we rely on
must be settable at runtime via ``spark.conf.set`` (all of the below are).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import LOG

# The directory that holds the package. Python workers import it from here
# when they unpickle a UDF that references package code.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime-settable confs that results depend on; configure() raises when
# one does not hold.
#
# nanosAsLong: the driver fixtures' events.parquet carries
# INT64 TIMESTAMP(NANOS), which Spark's parquet reader rejects by default;
# with this legacy flag it surfaces as a LongType of epoch-nanos that
# io.load_table() converts to timestamp_ntz (matching DuckDB's micro
# truncation exactly).
#
# session.timeZone=UTC: oracle comparison — DuckDB timestamps are naive;
# pinning UTC makes Spark's timestamp<->string/ntz conversions agree.
_CORRECTNESS_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}

# Confs that only change speed: a deployment that forbids setting one runs
# slower, not wrong, so configure() logs it and proceeds without it.
_TUNING_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def scratch_dir(prefix: str) -> str:
    """A scratch directory under one process-scoped root, removed at exit.

    Operators that materialize intermediate state (bucketed tables,
    streaming sources/sinks/checkpoints, codec round-trips) used to
    ``tempfile.mkdtemp`` ad hoc, leaking disk across repeated bench/test
    runs (ADVICE r4). Everything now lands under a single
    ``bigdatainvesttink-scratch-<pid>`` root that an ``atexit`` hook
    deletes; per-call dirs stay unique so re-running a query in the same
    session never collides with a live stream's checkpoint.
    """
    import atexit
    import shutil
    import tempfile

    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(
            prefix=f"bigdatainvesttink-scratch-{os.getpid()}-"
        )
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


_SCRATCH_ROOT: str | None = None


def configure(spark: SparkSession) -> SparkSession:
    """Apply engine confs to an existing session (idempotent).

    Raises RuntimeError when a correctness conf cannot be set or does not
    read back as set: results would silently stop matching the oracles.
    A tuning conf that cannot be set is logged and skipped.

    Also puts the package root on the Python workers' ``PYTHONPATH``: a
    worker imports the package when it unpickles a UDF, and without this it
    can only find it when the caller's working directory or ``PYTHONPATH``
    happens to name the repo.
    """
    for k, v in _CORRECTNESS_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            raise RuntimeError(f"cannot set correctness conf {k}={v}") from exc
        got = spark.conf.get(k)
        if got != v:
            raise RuntimeError(
                f"correctness conf {k} reads {got!r} after setting {v!r}"
            )
    confs = dict(_TUNING_CONFS)
    # Driver-owned sessions ship the 200-partition default — wrong for both
    # tiny fixtures (over-parallelized; streaming aggs don't AQE-coalesce)
    # and local bench runs. Size to the harness CPU budget.
    confs["spark.sql.shuffle.partitions"] = os.environ.get("SPARK_GRAFT_CPUS", "32")
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            LOG.warning("tuning conf %s=%s not set, running without it: %s", k, v, exc)
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [_PACKAGE_ROOT])
    return spark


def driver_memory() -> str:
    """``spark.driver.memory`` for sessions this package builds.

    ``SPARK_DRIVER_MEM`` (a deployment setting) wins; otherwise half of
    physical RAM, capped at 48g. A fixed 48g let the heap outgrow a 16 GB
    host until the kernel's OOM killer took the JVM mid-suite.
    """
    raw = os.environ.get("SPARK_DRIVER_MEM")
    if raw:
        return raw
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // 2**20
    return f"{min(48 * 1024, half_mb)}m"


def _reliable_checkpoint(sc) -> bool:
    """Whether loop-state checkpoints must be RELIABLE (checkpoint-dir
    files) rather than LOCAL (executor-held blocks).

    Reliable RDD checkpointing computes the lineage TWICE per call — the
    eager action runs it, then the post-action checkpoint-file write
    re-runs it (Spark's own docs recommend persisting first; the r10
    persist-wrapper experiment measured that cure as worse than the
    disease in-suite, see below). ``localCheckpoint`` computes ONCE and
    keeps the blocks in the block manager (MEMORY_AND_DISK), but those
    blocks die with their executor, so a cluster loses job-level fault
    tolerance for the loop. The default is therefore scale-adaptive, not
    constant: on a ``local[*]`` master the "executor" IS the driver JVM
    and a checkpoint file on the same machine's disk survives exactly the
    same failures the block manager does (none), so local mode takes the
    halve-the-jobs localCheckpoint; any non-local master keeps the durable
    reliable checkpoint. ``SPARK_GRAFT_RELIABLE_CKPT=1|0`` overrides in
    either direction (e.g. a cluster with cheap recompute and pricey
    object-store writes can opt into local; a local run exercising the
    reliable path for tests can opt back in).
    """
    raw = os.environ.get("SPARK_GRAFT_RELIABLE_CKPT")
    if raw is not None:
        return raw not in ("0", "false", "")
    return not sc.master.startswith("local")


def checkpointed(df, eager: bool = True):
    """Checkpoint a DataFrame (cut lineage + materialize loop state).

    Iterative algorithms (connected components, k-core, BFS, pagerank)
    must not recompute their full upstream plan every round. Reliable vs
    local is decided by :func:`_reliable_checkpoint` (scale-adaptive with
    an env override); on a real cluster the checkpoint dir is HDFS/S3
    (set by deployment), locally it defaults to a temp dir on first use.
    """
    import tempfile

    sc = df.sparkSession.sparkContext
    if not _reliable_checkpoint(sc):
        # r11 (VERDICT r10 ask #3): one job per round instead of two — the
        # graph loops were measured job-count-dominated (69-72 jobs for
        # ~4 s of wall at sf0.1, ~0.2-0.3 s/round of fixed overhead).
        return df.localCheckpoint(eager=eager)
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(
            os.path.join(tempfile.gettempdir(), "bigdatainvesttink-ckpt")
        )
    # Optimization-round r10 note: the eager count and the checkpoint-file
    # write are separate jobs and the write re-runs the lineage, so a
    # persist-first wrapper (persist -> checkpoint -> unpersist) looks
    # like a free 2x. It was measured BOTH ways in r10: a 3.7x win on
    # an isolated CC-round-shaped join+distinct, but a clear in-suite LOSS
    # (d2_kcore_peel 2.3 -> 14.9 s, d3_index_frontier 3.2 -> 11.1 s,
    # d2_harmonic_centrality/d2_hits_fixed ~ +2 s, plus diffuse GC-pressure
    # regressions across untouched queries) — the per-round columnar
    # cache build + memory churn dominates at the loops' small state
    # sizes. Kept as the plain eager checkpoint on the reliable path.
    return df.checkpoint(eager=eager)


def get_spark(app_name: str = "bigdatainvesttink-spark") -> SparkSession:
    """Build (or fetch) a local session sized for the test harness.

    local[N] = one JVM, N executor threads; shuffle partitions sized to
    cores (not the 200 default) so small-SF fixtures don't over-parallelize.
    At cluster scale these come from spark-submit, not here.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)


def enable_runtime_bloom_pruning(
    spark: SparkSession,
    application_side_threshold: str = "10MB",
    creation_side_threshold: str = "10MB",
) -> SparkSession:
    """Turn on Catalyst's runtime Bloom-filter join pruning aggressively.

    The 100 TB semi-join pattern: when a join's small side is filtered
    (e.g. a dimension slice), the optimizer builds a Bloom filter over its
    join keys at runtime and injects it as a scan-side predicate on the
    fact table — rows that cannot match are dropped BEFORE the shuffle,
    which is most of the cost of a selective fact⋈dim join. Spark ships
    this on (``spark.sql.optimizer.runtime.bloomFilter.enabled``) but
    gated behind a 10 GB application-side scan threshold that local tests
    and mid-size tables never reach; this helper lowers the gates so the
    pattern is exercised (and plan-asserted in
    tests/test_scale_patterns.py::test_runtime_bloom_filter_prunes_fact_scan).
    """
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        creation_side_threshold,
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        application_side_threshold,
    )
    return spark
