"""Structured Streaming layer (SURVEY.md §2-C) — the reference's
RabbitMQ-consume loop re-expressed with checkpointed micro-batches.

Mapping from the reference:
  * run-forever per-message consume (from_rabbitmq_to_clickhouse.py:194-197)
    -> readStream + trigger; micro-batches replace callbacks (C1);
  * at-least-once ack-after-insert (:173,194) -> checkpointLocation +
    foreachBatch (C2) — every sink lands each micro-batch in its own
    overwritten epoch directory (``_land_epoch``), so a replayed batch
    lands once: exactly-once, a strict upgrade over the reference (which
    can double-insert between insert and ack);
  * durable queues (from_parser_to_rabbitmq.py:259-266) -> source offsets in
    the checkpoint (C3) — restart resumes, verified in tests;
  * NO watermark in the reference (C4): every late row was inserted
    whenever it arrived. Streaming aggregations here add
    ``withWatermark`` — a deliberate, documented semantic upgrade (late
    rows beyond the delay are dropped);
  * 15-min polling (from_parser_to_rabbitmq.py:181) -> processingTime /
    availableNow triggers (C6); API rate-limit sleeps -> maxFilesPerTrigger
    backpressure (C7).

The transforms themselves come from sources/ingest.py — the SAME functions
run in batch (where the DuckDB oracle checks them) and here under streaming,
so streaming correctness reduces to delivery semantics, which the tests
exercise (restart, late data, session merge).
"""

from __future__ import annotations

import os
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor, as_completed
from contextlib import contextmanager

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..fixtures import oracle_on_domain
from ..functions.text import MINHASH_PRIME, N_MINHASHES
from ..io import normalize_events_ts
from ..operators.dedup import _oracle as _dedup_oracle
from ..registry import query
from ..session import configure, scratch_dir
from ..sources.ingest import ingest


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture with the same
    nanos->timestamp_ntz normalization as the batch loader."""
    # Self-configure: events.parquet carries INT64 TIMESTAMP(NANOS), which a
    # fresh driver-owned session can't scan without nanosAsLong (session.py).
    configure(spark)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    # Streaming file sources take a directory; pathGlobFilter narrows the
    # listing to the events table inside the shared fixture dir.
    raw = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw)


# Stateful-operator partition count: every state-store partition carries
# fixed per-micro-batch overhead (store instantiation, commit, snapshot),
# so streaming stages are sized to expected STATE VOLUME, not core count —
# at the fixtures' state sizes 8 partitions halves stream-stream join wall
# time vs 32 with identical results. Production raises this with state
# volume (it is baked into the checkpoint on first run, as Spark pins
# state partitioning for a query's lifetime).
STREAM_STATE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8")
)


def _stream_state_partitions(
    n_keys: int | None = None, n_salts: int = 1
) -> int:
    """State-store partition count for a stateful drive, derived from the
    observed (key, salt) domain when the caller knows it.

    Every state partition pays fixed per-micro-batch overhead (store
    instantiation, commit, snapshot), so the sizing statistic is how many
    (key, salt) groups there are to spread: ~8 per partition (the balance
    point of the 10x salt sweep), floored at 1, capped at the harness core
    budget — a domain smaller than 8 x partitions leaves stores near-empty
    (pure overhead at sf0.1, real straggler waste at 100 TB), while a
    domain past 8 x cores earns every core a store. The env override
    always wins (production sizes to state VOLUME, which only the
    deployment knows); callers with no key statistic keep the static
    default."""
    raw = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    if raw is not None:
        return int(raw)
    if not n_keys or n_keys <= 0:
        return STREAM_STATE_PARTITIONS
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(STREAM_STATE_PARTITIONS)))
    target = max(1, (n_keys * n_salts + 7) // 8)
    # Round UP to a power of two before capping: measured A/B at sf0.1
    # (50 keys -> target 7) read 9.5-11.3 s vs 8.3 s at 8 partitions on
    # the headline interval join — sub-power-of-two counts left a longer
    # straggler tail in the state stages for zero overhead saved.
    pow2 = 1 << (target - 1).bit_length()
    return min(cpus, pow2)


def _stream_join_salt(n_keys: int | None = None) -> int:
    """Salt factor for the stream-stream interval joins, sized from the
    observed join-key count against the configured state partitions.

    The 10x measurement (BENCH_SCALE.md) showed salting wins even on
    uniform keys whenever distinct join keys are FEW relative to state
    partitions (50 keys over 32 partitions: 450.7 s -> 274.0 s at salt 8,
    output content-hash identical): hash placement leaves some partitions
    idle while those holding 2-3 keys of quadratic probe work serialize.
    So the salt is OFF when keys >= 2 x STREAM_STATE_PARTITIONS (placement
    already smooth), else the smallest power of two making
    keys x n_salts >= 8 x partitions (~8 sub-keys per partition: 50 keys
    x salt 8 = 400 over 32 partitions), capped at 16 to bound build-side
    state replication."""
    if n_keys is None or n_keys <= 0:
        return 1
    partitions = STREAM_STATE_PARTITIONS
    if n_keys >= 2 * partitions:
        return 1
    n = 1
    while n_keys * n < 8 * partitions and n < 16:
        n *= 2
    return n


def with_stream_join_salt(
    probe: DataFrame, build: DataFrame, n_salts: int
) -> tuple[DataFrame, DataFrame]:
    """Split every stream-stream join key into ``n_salts`` sub-buckets.
    Join state is hash-partitioned by the EQUALITY keys, so one key's
    quadratic probe work lands on one state partition however many exist.
    The probe side gets a deterministic row-hash salt (``__t_salt``); the
    build side is replicated once per salt (``__b_salt`` exploded
    0..n-1), so every probe row still meets every build row of its key
    EXACTLY ONCE and the join output is identical for any n_salts. Cost:
    build-side state x n_salts — the classic replicate-the-sparse-side
    skew trade.

    Adding ``__t_salt == __b_salt`` to the join condition is what splits
    the state: the (key, salt) pair becomes the partitioning key, so a
    key's probe work spreads over n_salts state partitions.
    """
    salted_probe = probe.withColumn(
        "__t_salt",
        F.pmod(F.xxhash64(*probe.columns), F.lit(n_salts)).cast("int"),
    )
    salted_build = build.withColumn(
        "__b_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted_probe, salted_build


def _neardup_index_broadcast_rows() -> int:
    """Row-count ceiling under which the corpus LSH band index gets a
    broadcast hint (VERDICT r8 ask #1). A band row is (int band, long sig,
    long idx_doc) ~ 28 B as an UnsafeRow, so the 400k default tracks the
    10 MB-class autoBroadcastJoinThreshold semantics. Read per call so the
    scale harness and plan tests can flip regimes per run;
    SPARK_GRAFT_NEARDUP_BROADCAST_ROWS overrides."""
    raw = os.environ.get("SPARK_GRAFT_NEARDUP_BROADCAST_ROWS")
    return int(raw) if raw is not None else 400_000


def _neardup_index_side(idx_sigs: DataFrame, est_index_rows: int) -> DataFrame:
    """Hint the band index for broadcast only while a bounded statistic
    says it is small. The index is corpus-derived (data-sized), so a hard
    ``F.broadcast`` would force the build at ANY corpus size and OOM the
    executors at a 100 TB corpus; past the threshold the hint is dropped
    and Spark plans the ordinary shuffled equi-join the docstring
    promises. Output is identical in both regimes (join strategy only) —
    pinned by tests/test_scale_patterns.py."""
    if est_index_rows <= _neardup_index_broadcast_rows():
        return F.broadcast(idx_sigs)
    return idx_sigs


# Serializes the shuffle-partition override below: spark.conf is
# session-global, so without this lock a query planned concurrently on the
# shared SparkSession would silently inherit the streaming setting
# (ADVICE r3). The driver and pytest drive queries single-threaded, but the
# lock makes concurrent drives safe too; callers planning BATCH queries
# from other threads during a streaming drive should use a separate
# spark.newSession() (own SQLConf, shared context).
_SHUFFLE_OVERRIDE_LOCK = threading.Lock()


@contextmanager
def _shuffle_partitions(spark: SparkSession, n: int):
    """Run a streaming drive with ``spark.sql.shuffle.partitions`` = ``n``
    (the state-store partition count its checkpoint pins), restoring the
    previous setting afterwards."""
    with _SHUFFLE_OVERRIDE_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_memory(
    sdf: DataFrame, output_mode: str = "complete", name: str | None = None
) -> DataFrame:
    """Drive a streaming frame to completion with availableNow and return
    the memory-sink table (synchronous; used by queries() and tests).

    The memory sink collects every landed row into DRIVER memory — class
    rule from the round-6 10x scale run: only COMPLETE-MODE GRID
    AGGREGATES may land here; anything data-sized or per-batch
    (append/update output) goes through :func:`run_to_scratch`."""
    name = name or f"mem_{uuid.uuid4().hex[:10]}"
    spark = sdf.sparkSession
    # availableNow is synchronous, so the batch tail (aggregations over the
    # landed memory table) runs under the restored setting.
    with _shuffle_partitions(spark, STREAM_STATE_PARTITIONS):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def _land_epoch(frames: dict[str, DataFrame], root: str, epoch_id: int) -> None:
    """The one write every foreachBatch sink in this package makes: each
    ``{table: frame}`` lands at ``<root>/<table>/epoch=<epoch_id>`` with
    overwrite, all tables concurrently.

    foreachBatch is at-least-once: a micro-batch re-delivered after a
    failure arrives with the SAME epoch_id, and overwriting its directory
    replaces the first delivery instead of appending a second copy — the
    unit that makes every sink here effectively exactly-once. The
    Hive-style name lets a plain ``spark.read.parquet(<root>/<table>)``
    see every epoch, plus an int ``epoch`` column; readers with
    ``recursiveFileLookup`` see only the data columns.

    Wrapping each write hands its pool thread its own copy of this
    thread's local properties (the query's job group, any caller tags), so
    the jobs stay attributed to and cancellable with the streaming query.
    The first failed write fails the epoch, so the batch is not committed.
    """

    def write(df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").parquet(path)

    session = next(iter(frames.values())).sparkSession
    with ThreadPoolExecutor(len(frames)) as pool:
        writes = [
            pool.submit(
                inheritable_thread_target(session)(write),
                df, f"{root}/{table}/epoch={epoch_id}",
            )
            for table, df in frames.items()
        ]
        for done in as_completed(writes):
            done.result()


def run_to_scratch(
    sdf: DataFrame,
    output_mode: str = "append",
    batch_transform=None,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drive a streaming frame to completion, landing in scratch PARQUET.

    The scale-safe twin of :func:`run_to_memory` for DATA-SIZED streamed
    output: the memory sink collects every landed row into DRIVER memory,
    which is fine for grid-sized complete-mode aggregates but fatal when
    the stream emits per-event rows or join pairs (found empirically in
    the round-6 10x scale run — the stream-stream interval join's pair
    output OOM-pressured the driver). foreachBatch writes each
    micro-batch to executor-side parquet instead, one epoch directory per
    micro-batch (:func:`_land_epoch`, replay-safe); the returned frame
    reads the landed table from storage.

    ``batch_transform`` optionally maps each micro-batch DataFrame before
    landing — the map-side-combine hook: landing per-batch PARTIAL
    aggregates instead of raw rows collapses data-sized output to
    grid-sized storage while keeping associative folds (count/sum on
    exact decimals) bit-identical after the final combine. It is also how
    a batch operator runs per micro-batch (``c_stream_asof_enrich``).
    """
    spark = sdf.sparkSession
    root = scratch_dir("streamland-")
    landed_schema = (
        batch_transform(
            spark.createDataFrame([], sdf.schema)
        ).schema
        if batch_transform
        else sdf.schema
    )
    # Pre-create the landing dir so an empty stream still reads back
    # cleanly. The read below passes an explicit schema, so a fileless
    # directory suffices — the previous empty-DataFrame parquet write
    # launched one Spark job of defaultParallelism do-nothing tasks (each
    # deserializing the full write spec and running the commit protocol)
    # per streaming query, pure fixed overhead at every scale (guide §1.2:
    # don't compute things you throw away).
    os.makedirs(f"{root}/t", exist_ok=True)

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        out = batch_transform(batch_df) if batch_transform else batch_df
        _land_epoch({"t": out}, root, epoch_id)

    with _shuffle_partitions(spark, state_partitions or STREAM_STATE_PARTITIONS):
        q = (
            sdf.writeStream.foreachBatch(_write)
            .outputMode(output_mode)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # recursive lookup over the concrete dir (not a glob): picks up every
    # epoch dir without tripping the FileStreamSink metadata probe, and
    # without adding the epoch partition column
    return (
        spark.read.schema(landed_schema)
        .option("recursiveFileLookup", "true")
        .parquet(f"{root}/t")
    )


def ingest_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    max_files_per_trigger: int | None = None,
):
    """The consumer pipeline (E2) as a streaming job: JSON-lines files ->
    parse/dispatch/validate (sources/ingest.py) -> one parquet directory
    per table and micro-batch, ``<out_dir>/<table>/epoch=<id>``. Returns
    the query.

    Each micro-batch lands its four tables concurrently, one single-task
    write job per table. A replayed epoch overwrites its own directories,
    so a batch that failed after some tables landed lands once on restart.
    There is no empty-batch probe: an availableNow drive only runs a batch
    when new files arrived, and a batch of empty files lands no rows.
    """
    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.format("text").load(source_dir)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # ingest() fans one dispatch branch per table over the batch, and
        # each branch's write re-scans the micro-batch source — pin the
        # batch for the epoch so the wire text is read once per trigger,
        # not once per table (§5; dropped before the epoch returns).
        batch_df = batch_df.persist()
        try:
            clean = ingest(batch_df)
            _land_epoch(
                {table: df.coalesce(1) for table, df in clean.items()},
                out_dir,
                epoch_id,
            )
        finally:
            batch_df.unpersist()

    return (
        raw.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_counts(
    events: DataFrame, window: str = "1 hour", slide: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling/sliding window aggregation (works on batch or stream)."""
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
# C1/C6 as an oracle-checked query: hourly tumbling counts computed BY THE
# STREAMING ENGINE (file source -> availableNow -> memory sink), verified
# against plain GROUP BY date_trunc in DuckDB. Complete output mode so the
# final state equals the batch answer.
@query(
    "c_stream_tumbling_counts",
    oracle="""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
)
def c_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = windowed_counts(events_stream(spark, sf_dir), "1 hour")
    return run_to_memory(agg, "complete")


# --------------------------------------------------------------------------
# Sliding windows (2h window, 1h slide): every event lands in two windows;
# the oracle materializes both window starts per event.
@query(
    "c_stream_sliding_counts",
    oracle="""
        SELECT window_start, event_type,
               COUNT(*) AS n_events
        FROM (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
                   event_type FROM events
            UNION ALL
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) - INTERVAL 1 HOUR,
                   event_type FROM events
        ) expanded
        GROUP BY 1, 2
    """,
)
def c_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_stream(spark, sf_dir)
    agg = (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )
    return run_to_memory(agg, "complete")


def stream_dedup(
    stream: DataFrame, keys: list[str], watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: emit the first occurrence of each key, drop
    re-deliveries arriving within the watermark horizon.

    This is the streaming arm of the D1 exact-dedup operator and the
    idempotency upgrade for an at-least-once wire (the reference's RabbitMQ
    path redelivers on consumer crash between insert and ack —
    from_rabbitmq_to_clickhouse.py:173,194). State is bounded:
    ``dropDuplicatesWithinWatermark`` evicts seen-keys older than the
    watermark, so at 100 TB/day the state store holds only one horizon's
    worth of keys, hash-partitioned across executors by key.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


# --------------------------------------------------------------------------
# C5 as an oracle-checked query: SESSION windows computed BY THE STREAMING
# ENGINE — the state store merges overlapping per-user sessions as
# micro-batches arrive (the canonical stateful-streaming operator). Complete
# mode drains the final state, which must equal the batch gaps-and-islands
# answer (same oracle as d6_session_window_native, the batch arm).
@query(
    "c_stream_session_counts",
    oracle=f"""
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL {{gap}} SECOND AS session_end,
               COUNT(*) AS n_events
        FROM (
            SELECT user_id, ts,
                   SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_seq
            FROM (
                SELECT user_id, ts, event_id,
                       CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                                PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                            > {{gap}} * 1000000
                            OR LAG(ts) OVER (
                                PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                               IS NULL
                       THEN 1 ELSE 0 END AS is_new
                FROM events
            ) flagged
        ) sessions
        GROUP BY user_id, session_seq
    """.format(gap=1800),
)
def c_stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_stream(spark, sf_dir)
    agg = (
        e.groupBy("user_id", F.session_window("ts", "1800 seconds").alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_memory(agg, "complete")


# --------------------------------------------------------------------------
# C2+D1 as an oracle-checked query: STREAMING exact dedup over an
# at-least-once wire. The event stream is unioned with itself (every row
# delivered twice — the worst-case redelivery of the reference's
# insert-then-ack consumer, from_rabbitmq_to_clickhouse.py:173,194), then
# dropDuplicatesWithinWatermark collapses redeliveries inside the engine;
# the landed rows must equal the exactly-once answer (plain per-type counts
# over the source table). State is bounded by the watermark horizon,
# hash-partitioned by key — at 100 TB/day the store holds one horizon of
# 8-byte keys, not history. The memory sink is the test harness stand-in
# for the foreachBatch parquet sink (ingest_stream).
@query(
    "c_stream_dedup_roundtrip",
    oracle="""
        SELECT event_type, COUNT(*) AS n_events
        FROM events GROUP BY event_type
    """,
)
def c_stream_dedup_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    doubled = events_stream(spark, sf_dir).unionByName(
        events_stream(spark, sf_dir)
    )
    # Watermarks require TIMESTAMP (not NTZ); session TZ is pinned UTC so
    # the cast is a bijection and the dedup key semantics are unchanged.
    doubled = doubled.withColumn("ts", F.col("ts").cast("timestamp"))
    deduped = stream_dedup(doubled, ["event_id"], watermark="1 hour")
    # Deduped events are data-sized; the stateful dedup emits each unique
    # event exactly once ACROSS batches, so per-batch partial counts
    # combine exactly (scale-safe executor-side landing, round 6)
    landed = run_to_scratch(
        deduped,
        "append",
        batch_transform=lambda b: b.groupBy("event_type").agg(
            F.count("*").alias("n")
        ),
    )
    return landed.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_events")
    )


# --------------------------------------------------------------------------
# C-series stream-STREAM interval join, oracle-checked: trades and order
# book arrive as two independent streams; each trade pairs with the book
# snapshots of the same instrument in the preceding 30 minutes. Both sides
# carry watermarks, so join state is bounded to one horizon per key — the
# canonical two-feed correlation the reference would need to relate its
# trades and order-book queues (it never joins them; ClickHouse gets them
# as separate tables). The landed pairs are batch-aggregated per instrument
# and must equal DuckDB's batch interval join over the same fixtures.
def stream_interval_join(
    trades: DataFrame, book: DataFrame, n_keys: int | None = None
) -> DataFrame:
    """Per-company ``(company_id, n_pairs, bid_sum)`` of the interval join
    ``b_company_id = company_id AND t_ts - 30 min <= b_ts <= t_ts``.

    ``trades`` (company_id, t_ts) and ``book`` (b_company_id, b_ts,
    bid_price) are streams already watermarked on their timestamps;
    ``n_keys``, the join-key count when known, sizes the salt
    (:func:`_stream_join_salt`) and the state partitions.
    """
    cond = (
        (F.col("company_id") == F.col("b_company_id"))
        & (F.col("b_ts") >= F.col("t_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("b_ts") <= F.col("t_ts"))
    )
    n_salts = _stream_join_salt(n_keys)
    if n_salts > 1:
        trades, book = with_stream_join_salt(trades, book, n_salts)
        cond = cond & (F.col("__t_salt") == F.col("__b_salt"))
    joined = trades.join(book, cond).select("company_id", "bid_price")
    # Interval-join output is quadratic in per-key density (every trade x
    # every in-horizon snapshot) — landing raw pairs in a driver memory
    # sink broke the round-6 10x scale run. Land per-BATCH partial
    # aggregates instead (grid-sized: <= n_companies rows per
    # micro-batch); count and exact-decimal sum are associative, so the
    # final combine is bit-identical to aggregating the raw pairs.
    landed = run_to_scratch(
        joined,
        "append",
        batch_transform=lambda b: b.groupBy("company_id").agg(
            F.count("*").alias("n"),
            F.sum(F.col("bid_price").cast("decimal(27,6)")).alias("s"),
        ),
        state_partitions=_stream_state_partitions(n_keys, n_salts),
    )
    return landed.groupBy("company_id").agg(
        F.sum("n").cast("long").alias("n_pairs"),
        F.sum("s").cast("double").alias("bid_sum"),
    )


def _fixture_interval_join(
    spark: SparkSession, sf_dir: str, book_sql: str
) -> DataFrame:
    """:func:`stream_interval_join` of the fixture trades feed against the
    book feed ``book_sql`` (company_id, ts, bid_price over ``events``).
    Both feeds derive from the SAME streaming source with the fixtures'
    shared SQL (the reference publishes trades and book from one API
    poll): no temp materialization — the per-feed projections run
    map-side inside each stream's scan."""
    from ..fixtures import FIXTURE_SQL, domain_table

    configure(spark)
    events_stream(spark, sf_dir).createOrReplaceTempView("events")
    trades = spark.sql(FIXTURE_SQL["trades"]).select(
        "company_id", F.col("ts").cast("timestamp").alias("t_ts")
    )
    book = spark.sql(book_sql).select(
        F.col("company_id").alias("b_company_id"),
        F.col("ts").cast("timestamp").alias("b_ts"),
        "bid_price",
    )
    # the join-key domain is the companies dimension (one bounded scan of
    # a grid-sized table)
    n_keys = domain_table(spark, sf_dir, "companies").count()
    return stream_interval_join(
        trades.withWatermark("t_ts", "1 hour"),
        book.withWatermark("b_ts", "1 hour"),
        n_keys,
    )


@query(
    "c_stream_stream_interval_join",
    oracle=oracle_on_domain(
        """
        SELECT t.company_id, COUNT(*) AS n_pairs,
               CAST(SUM(CAST(b.bid_price AS DECIMAL(27,6))) AS DOUBLE)
                   AS bid_sum
        FROM trades t JOIN order_book b
          ON b.company_id = t.company_id
         AND b.ts >= t.ts - INTERVAL 30 MINUTE AND b.ts <= t.ts
        GROUP BY t.company_id
        """
    ),
)
def c_stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..fixtures import FIXTURE_SQL

    return _fixture_interval_join(spark, sf_dir, FIXTURE_SQL["order_book"])


# --------------------------------------------------------------------------
# DENSITY-CAPPED twin of the stream-stream interval join (VERDICT r8 ask
# #5): identical join machinery — two watermarked feeds, the same interval
# condition — but the book side keeps only snapshots from a FIXED user
# cohort (user_id < 150; the scale synthesis shifts copy keys upward, so
# the cohort — and with it per-key in-horizon snapshot density — stays
# CONSTANT as data scales). The by-spec quadratic of the headline query is
# output semantics, not state cost; this twin holds output linear in the
# trade stream so 10x/100x wall factors measure the state machinery
# itself. The cap is a stateless map-side filter pushed into the book
# stream's scan.
_INTERVAL_CAP_USERS = 150  # ~3 snapshot publishers per company_id


@query(
    "c_stream_interval_join_capped",
    oracle=oracle_on_domain(
        f"""
        SELECT t.company_id, COUNT(*) AS n_pairs,
               CAST(SUM(CAST(b.bid_price AS DECIMAL(27,6))) AS DOUBLE)
                   AS bid_sum
        FROM trades t JOIN (
            SELECT 'FIGI' || lpad(CAST(user_id % 50 AS STRING), 2, '0')
                       AS company_id,
                   ts, (value + 0.01) * 0.999 AS bid_price
            FROM events
            WHERE event_id % 3 = 0 AND user_id < {_INTERVAL_CAP_USERS}
        ) b
          ON b.company_id = t.company_id
         AND b.ts >= t.ts - INTERVAL 30 MINUTE AND b.ts <= t.ts
        GROUP BY t.company_id
        """
    ),
)
def c_stream_interval_join_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..fixtures import _COMPANY

    return _fixture_interval_join(
        spark,
        sf_dir,
        f"""
        SELECT {_COMPANY} AS company_id, ts,
               (value + 0.01) * 0.999 AS bid_price
        FROM events
        WHERE event_id % 3 = 0 AND user_id < {_INTERVAL_CAP_USERS}
        """,
    )


# --------------------------------------------------------------------------
# Stream-STATIC broadcast enrich, oracle-checked: the unbounded event
# stream joins the bounded companies dimension (the reference's
# per-message FIGI lookup, from_parser_to_rabbitmq.py:96-100, done as a
# broadcast join instead of a per-row dict probe). The static side ships
# to executors once per micro-batch plan — the stream itself never
# shuffles for the join; only the per-sector rollup exchanges.
@query(
    "c_stream_static_enrich",
    oracle=oracle_on_domain(
        """
        SELECT c.sector, COUNT(*) AS n_events
        FROM events e JOIN companies c
          ON c.company_id =
             'FIGI' || lpad(CAST(e.user_id % 50 AS STRING), 2, '0')
        GROUP BY c.sector
        """
    ),
)
def c_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..fixtures import domain_table

    e = events_stream(spark, sf_dir).withColumn(
        "company_id",
        F.expr("'FIGI' || lpad(CAST(user_id % 50 AS STRING), 2, '0')"),
    )
    companies = domain_table(spark, sf_dir, "companies")
    enriched = e.join(F.broadcast(companies), "company_id")
    agg = enriched.groupBy("sector").agg(F.count("*").alias("n_events"))
    return run_to_memory(agg, "complete")


# --------------------------------------------------------------------------
# Top-k per completed window: the "trending instruments" panel of the
# reference's dashboard layer as a streaming query. Ranking is not a
# streaming-supported operator (it needs the window CLOSED), so the shape
# is the canonical two-stage one: the STREAMING engine maintains the
# windowed counts incrementally (bounded state, watermark-evictable in
# production), and the rank-and-cut runs as a tiny batch pass over the
# drained final state — at scale that second stage touches only
# (n_windows x n_types) aggregate rows, never the raw stream.
@query(
    "c_stream_topk_hourly",
    oracle="""
        SELECT window_start, event_type, n_events, rnk
        FROM (
            SELECT window_start, event_type, n_events,
                   ROW_NUMBER() OVER (
                       PARTITION BY window_start
                       ORDER BY n_events DESC, event_type ASC) AS rnk
            FROM (
                SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
                           AS window_start,
                       event_type, COUNT(*) AS n_events
                FROM events GROUP BY 1, 2
            ) counts
        ) ranked
        WHERE rnk <= 3
    """,
)
def c_stream_topk_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = windowed_counts(events_stream(spark, sf_dir), "1 hour")
    final = run_to_memory(agg, "complete")
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        final.select("window_start", "event_type", "n_events")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


# --------------------------------------------------------------------------
# C5's CUSTOM-state operator as an oracle-checked query: the
# applyInPandasWithState running VWAP (streaming/stateful.py) drained with
# availableNow; the final state row per instrument (the one carrying the
# full cumulative volume) must equal DuckDB's batch VWAP over the same
# trades. Update mode emits one row per key per micro-batch, so the final
# row is selected by max total_volume (volumes are strictly positive —
# the cumulative count is a total order per key). The quotient of two
# order-sensitive float sums rounds to 6dp on both engines (core.py
# policy); state is O(1) per key at any scale.
@query(
    "c_stream_vwap_stateful",
    oracle=oracle_on_domain(
        """
        SELECT company_id,
               ROUND(SUM(price * volume) / SUM(volume), 6) AS vwap,
               CAST(SUM(volume) AS BIGINT) AS total_volume
        FROM trades
        GROUP BY company_id
        """
    ),
)
def c_stream_vwap_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..fixtures import FIXTURE_SQL
    from .stateful import running_vwap

    configure(spark)
    events_stream(spark, sf_dir).createOrReplaceTempView("events")
    st = spark.sql(FIXTURE_SQL["trades"]).select(
        "company_id", "price", "volume"
    )
    # Update-mode output is companies x batches — bounded at fixture
    # trigger counts but not a complete-mode grid, so it lands executor-
    # side like its five round-6 siblings; the memory sink now serves
    # ONLY complete-mode grid aggregates (the class rule the 10x scale
    # run established).
    landed = run_to_scratch(running_vwap(st), "update")
    w = Window.partitionBy("company_id").orderBy(F.desc("total_volume"))
    return (
        landed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "company_id",
            F.round("vwap", 6).alias("vwap"),
            "total_volume",
        )
    )


# --------------------------------------------------------------------------
# C7 (backpressure) as an oracle-checked query: the trades wire split into
# four source files, consumed at maxFilesPerTrigger=1 — four throttled
# micro-batches through the checkpointed ingest pipeline — must land
# exactly the batch answer. Throttling changes the batch boundaries, never
# the result; the exactly-once foreachBatch sink makes that equivalence
# hold under any trigger cadence (the property the reference's rate-limit
# sleeps could not guarantee around its ack window,
# from_parser_to_rabbitmq.py:181 / from_rabbitmq_to_clickhouse.py:173).
@query(
    "c_stream_backpressure_roundtrip",
    oracle=oracle_on_domain(
        """
        SELECT company_id, COUNT(*) AS n_trades,
               CAST(SUM(volume) AS BIGINT) AS total_volume
        FROM trades
        WHERE trade_id % 5 = 2
        GROUP BY company_id
        """
    ),
)
def c_stream_backpressure_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..fixtures import domain_table
    from ..sources.ingest import serialize

    configure(spark)
    tmp = scratch_dir("c_bp_")
    # A 1-in-5 slice keeps the wire write proportional to what the
    # equivalence proof needs — the batch-boundary property is the same at
    # any volume (the full-wire path is exercised by a_ingest_*).
    t = (
        domain_table(spark, sf_dir, "trades")
        .filter(F.col("trade_id") % 5 == 2)
        .withColumnRenamed("ts", "timestamp")
        .drop("trade_id")
    )
    wire = serialize(t, "trades")
    wire.repartition(4).write.mode("overwrite").text(f"{tmp}/src")
    q = ingest_stream(
        spark,
        f"{tmp}/src",
        f"{tmp}/ckpt",
        f"{tmp}/out",
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    landed = spark.read.parquet(f"{tmp}/out/trades")
    return landed.groupBy("company_id").agg(
        F.count("*").alias("n_trades"),
        F.sum("volume").cast("bigint").alias("total_volume"),
    )


# --------------------------------------------------------------------------
# Streaming corpus curation — the D7 quality-gate + exact-dedup stage run
# ON THE WIRE instead of as a batch repass: documents arrive as a stream,
# short/empty ones are dropped map-side, duplicates are collapsed inside
# the engine keyed on (source, 60-bit content hash) — state is one 8-byte
# hash per surviving doc, never the text — and the landed survivors are
# rolled up per source. The oracle is the batch answer (distinct text per
# source on the same gate), so this proves the streaming path lands
# exactly the batch-curation result. Which physical duplicate survives is
# arrival-order-dependent, but every output column is duplicate-invariant
# (same text -> same hash, same n_chars), so the answer is deterministic.
@query(
    "c_stream_corpus_curation",
    oracle="""
        SELECT source,
               COUNT(*) AS n_unique_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM (
            SELECT DISTINCT source, text, n_chars
            FROM documents
            WHERE text <> '' AND n_chars >= 200
        ) kept
        GROUP BY source
    """,
)
def c_stream_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import stable_hash60

    configure(spark)
    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    gated = raw.filter((F.col("text") != "") & (F.col("n_chars") >= 200))
    keyed = gated.withColumn("h", stable_hash60(F.col("text")))
    deduped = keyed.dropDuplicates(["source", "h"])
    # corpus-sized deduped docs: land per-batch partial (count, sum)
    # instead of raw rows — stateful dropDuplicates guarantees cross-batch
    # uniqueness, so the partials combine exactly (scale-safe, round 6)
    landed = run_to_scratch(
        deduped,
        "append",
        batch_transform=lambda b: b.groupBy("source").agg(
            F.count("*").alias("n"),
            F.sum("n_chars").cast("bigint").alias("ch"),
        ),
    )
    return landed.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_unique_docs"),
        F.sum("ch").cast("bigint").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# Streaming anomaly alerts — the monitoring tail of the reference's
# dashboard layer as a streaming query: hourly per-type event counts are
# maintained by the STREAMING engine (bounded windowed state, the
# c_stream_topk_hourly two-stage shape), then scored against the
# per-type baseline (mean/std of hourly volume) and emitted only when
# |z| > 2. Baseline moments are exact integer sums (counts are ints), so
# the z-scores are deterministic doubles needing no rounding policy; the
# scoring stage touches only (n_types x n_hours) aggregate rows.
@query(
    "c_stream_anomaly_alerts",
    oracle="""
        WITH hourly AS (
            SELECT event_type,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP)
                       AS window_start,
                   COUNT(*) AS n_events
            FROM events GROUP BY 1, 2
        ),
        base AS (
            SELECT event_type, COUNT(*) AS n_hours,
                   CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS mu,
                   CAST(SUM(n_events * n_events) AS DOUBLE) / COUNT(*)
                       AS m2
            FROM hourly GROUP BY event_type
        )
        SELECT h.event_type, h.window_start, h.n_events,
               (h.n_events - b.mu) / sqrt(b.m2 - b.mu * b.mu) AS zscore
        FROM hourly h JOIN base b ON b.event_type = h.event_type
        WHERE b.m2 - b.mu * b.mu > 0
          AND ABS((h.n_events - b.mu) / sqrt(b.m2 - b.mu * b.mu)) > 2.0
    """,
)
def c_stream_anomaly_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = windowed_counts(events_stream(spark, sf_dir), "1 hour")
    hourly = run_to_memory(agg, "complete").select(
        "event_type",
        F.col("window_start"),
        F.col("n_events"),
    )
    # the baseline aggregates the same memory table the scoring joins —
    # rename its key to keep the self-join reference sets disjoint
    base = hourly.select(
        F.col("event_type").alias("bet"), "n_events"
    ).groupBy("bet").agg(
        F.count("*").alias("n_hours"),
        (F.sum("n_events").cast("double") / F.count("*")).alias("mu"),
        (
            F.sum(F.col("n_events") * F.col("n_events")).cast("double")
            / F.count("*")
        ).alias("m2"),
    )
    var = F.col("m2") - F.col("mu") * F.col("mu")
    z = (F.col("n_events") - F.col("mu")) / F.sqrt(var)
    return (
        hourly.join(
            F.broadcast(base), F.col("event_type") == F.col("bet")
        )
        .filter((var > 0) & (F.abs(z) > 2.0))
        .select("event_type", "window_start", "n_events", z.alias("zscore"))
    )


# --------------------------------------------------------------------------
# Streaming dead-letter-queue round-trip — A14's rejected side-channel
# ON THE WIRE: the deterministically corrupted trades feed
# (a_ingest_rejected_counts' corruption grammar) streams through the
# checkpointed consumer, which lands CLEAN rows to the warehouse path
# and REJECTED rows — with their raw payload — to a DLQ path in the
# same foreachBatch transaction; the report reconciles both landings
# against the wire total. This is the operational answer to "where did
# my message go": nothing is dropped silently, every wire line lands
# exactly once on one of the two sides. Oracle = the batch corruption
# arithmetic.
@query(
    "c_stream_dlq_roundtrip",
    oracle=oracle_on_domain(
        """
        SELECT 'clean' AS disposition, 'landed' AS reason,
               COUNT(*) AS n_rows
        FROM trades WHERE trade_id % 97 <> 0 AND trade_id % 89 <> 0
        UNION ALL
        SELECT 'rejected', 'missing_required', COUNT(*)
        FROM trades WHERE trade_id % 97 = 0
        UNION ALL
        SELECT 'rejected', 'bad_timestamp', COUNT(*)
        FROM trades WHERE trade_id % 97 <> 0 AND trade_id % 89 = 0
        """
    ),
)
def c_stream_dlq_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..fixtures import domain_table
    from ..schemas import TS_FORMAT
    from ..sources.ingest import dispatch, serialize, validate

    configure(spark)
    t = domain_table(spark, sf_dir, "trades")
    bad_req = F.col("trade_id") % 97 == 0
    bad_ts = F.col("trade_id") % 89 == 0
    wire_rows = t.select(
        "company_id",
        F.when(bad_ts, F.lit("31/12/2024 99:99"))
        .otherwise(F.date_format("ts", TS_FORMAT))
        .alias("timestamp"),
        F.when(bad_req, F.lit(None).cast("double"))
        .otherwise(F.col("price"))
        .alias("price"),
        "volume",
        "side",
    )
    wire = serialize(wire_rows, "trades", ts_col=None)
    tmp = scratch_dir("dlq_")
    wire.write.mode("overwrite").text(f"{tmp}/wire")

    raw = (
        spark.readStream.format("text")
        .load(f"{tmp}/wire")
    )

    def land(batch_df: DataFrame, epoch_id: int) -> None:
        clean, rejected = validate(dispatch(batch_df)["trades"], "trades")
        reason = F.when(
            F.col("price").isNull(), "missing_required"
        ).otherwise("bad_timestamp")
        _land_epoch(
            {"warehouse": clean, "dlq": rejected.withColumn("reason", reason)},
            tmp,
            epoch_id,
        )

    q = (
        raw.writeStream.foreachBatch(land)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    clean_n = spark.read.parquet(f"{tmp}/warehouse").select(
        F.lit("clean").alias("disposition"),
        F.lit("landed").alias("reason"),
    )
    dlq_n = spark.read.parquet(f"{tmp}/dlq").select(
        F.lit("rejected").alias("disposition"), "reason"
    )
    return (
        clean_n.unionAll(dlq_n)
        .groupBy("disposition", "reason")
        .agg(F.count("*").alias("n_rows"))
    )


# --------------------------------------------------------------------------
# C-series multi-sink fan-out, oracle-checked: ONE event stream feeds TWO
# independent aggregations (per-type totals and per-hour totals) landed
# through separate sinks — the standard topology when a wire feed serves
# several dashboards/tables at once (the reference fans its four queues
# into four ClickHouse tables the same way; each Structured Streaming
# query would own its checkpoint in production, so one sink's failure
# never stalls the other). Both drained states must equal the batch
# answers over the same fixture, reported as one long-format frame.
@query(
    "c_stream_fanout_sinks",
    oracle="""
        SELECT 'type' AS dim, event_type AS key, COUNT(*) AS n_events
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'hour' AS dim,
               CAST(CAST(date_trunc('hour', ts) AS TIMESTAMP) AS VARCHAR)
                   AS key,
               COUNT(*) AS n_events
        FROM events GROUP BY date_trunc('hour', ts)
    """,
)
def c_stream_fanout_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = events_stream(spark, sf_dir)
    by_type = src.groupBy(F.col("event_type").alias("key")).agg(
        F.count("*").alias("n_events")
    )
    by_hour = src.groupBy(
        F.date_trunc("hour", F.col("ts")).cast("timestamp").alias("hkey")
    ).agg(F.count("*").alias("n_events"))
    t = run_to_memory(by_type, "complete").select(
        F.lit("type").alias("dim"), "key", "n_events"
    )
    h = run_to_memory(by_hour, "complete").select(
        F.lit("hour").alias("dim"),
        F.col("hkey").cast("string").alias("key"),
        "n_events",
    )
    return t.unionByName(h)


# --------------------------------------------------------------------------
# Streaming near-duplicate detection — MinHash LSH at ingest time. Arriving
# documents get their full 32-slot minhash signature computed IN-FLIGHT as
# one stateless per-row fold (functions.text.row_minhash — bit-identical to
# the batch groupBy path, equivalence-tested), explode to 8 band
# signatures, and stream-static join against the corpus's LSH band index:
# the flag-before-landing gate every dedup pipeline wants, without waiting
# for the nightly batch job. The join is stateless equi on (band, sig) —
# no watermark, no streaming state; the index side's broadcast hint is
# AUTO-SIZED from a bounded statistic (parquet footer row count x the
# fixed corpus/band fan-out): hinted below ~400k band rows (120k at
# sf0.1, so broadcast engages here), dropped above, where Spark plans the
# ordinary shuffled equi-join — no hard hint on a data-sized side
# (VERDICT r8 ask #1). Oracle: the identical self-join run fully in batch
# by DuckDB (raw arrivals = the doc_id < 1e6 partition of the corpus,
# whose +1e6 rows are mutated near-dups and +2e6 rows exact copies — so
# the match-kind split is a seeded-truth readout, not just a count).
@query(
    "c_stream_neardup_flags",
    oracle=_dedup_oracle(
        f"""
        , shingled AS (
            SELECT DISTINCT doc_id,
                   CAST(CAST('0x' || substr(md5(shingle), 1, 15) AS UBIGINT) AS BIGINT)
                       % {MINHASH_PRIME} AS s_mod
            FROM (
                SELECT doc_id, unnest([toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                                       FOR i IN range(0, len(toks) - 2)]) AS shingle
                FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus)
                WHERE len(toks) >= 3
            )
        ), mh AS (
            SELECT doc_id, i,
                   MIN(((2*i + 1) * s_mod + 7919*(i + 1)) % {MINHASH_PRIME}) AS mh
            FROM shingled, (SELECT unnest(range({N_MINHASHES})) AS i)
            GROUP BY doc_id, i
        ), bands AS (
            SELECT doc_id, i // 4 AS band,
                   SUM(mh * (CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 31
                             WHEN 2 THEN 961 ELSE 29791 END)) AS sig
            FROM mh GROUP BY doc_id, i // 4
        ), hits AS (
            SELECT DISTINCT r.doc_id AS doc_id, b.doc_id AS idx_doc
            FROM bands r JOIN bands b
              ON r.band = b.band AND r.sig = b.sig
             AND b.doc_id <> r.doc_id
            WHERE r.doc_id < 1000000
        )
        SELECT CASE WHEN idx_doc >= 2000000 THEN 'exact_copy'
                    WHEN idx_doc >= 1000000 THEN 'mutated_neardup'
                    ELSE 'corpus_other' END AS match_kind,
               CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_flagged
        FROM hits GROUP BY 1
        """
    ),
)
def c_stream_neardup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import row_band_structs, row_minhash, tokenize
    from ..operators.dedup import corpus

    configure(spark)

    def band_rows(df: DataFrame, id_alias: str) -> DataFrame:
        # two selects on purpose: row_band_structs reads the mh column 4x
        # per band, so mh must be a materialized column, not inlined
        return (
            df.filter(
                (F.col("text") != "")
                & (F.size(tokenize("text")) >= 3)
            )
            .select(
                F.col("doc_id").alias(id_alias),
                row_minhash(F.col("text")).alias("mh"),
            )
            .select(
                id_alias, F.explode(row_band_structs(F.col("mh"))).alias("bs")
            )
            .select(id_alias, F.col("bs.band").alias("band"),
                    F.col("bs.sig").alias("sig"))
        )

    idx_sigs = band_rows(corpus(spark, sf_dir), "idx_doc")

    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # Bounded broadcast statistic: parquet footer row count (read
    # driver-side via pyarrow — genuinely metadata-only, no Spark job) x
    # the corpus fan-out (1 + 1/25 mutated + 1/20 copies, see
    # dedup.CORPUS_SQL) x LSH_BANDS band rows per doc — an upper bound
    # (short/empty docs are filtered out of the index, never added). A
    # Spark count() is the fallback for filesystems pyarrow can't reach.
    from ..functions.text import LSH_BANDS

    try:
        import pyarrow.parquet as pq

        n_docs = pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_rows
    except (OSError, ImportError, ValueError):
        n_docs = batch.count()
    est_index_rows = int(n_docs * 1.09 + 1) * LSH_BANDS
    raw = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    hits = (
        band_rows(raw, "doc_id")
        .join(_neardup_index_side(idx_sigs, est_index_rows), ["band", "sig"])
        .filter(F.col("idx_doc") != F.col("doc_id"))
        .select("doc_id", "idx_doc")
    )
    # candidate pairs are data-sized; per-batch distinct pre-shrinks the
    # landing (the final cross-batch distinct below still applies) and
    # the executor-side parquet sink keeps pairs off the driver (round 6)
    landed = run_to_scratch(
        hits, "append", batch_transform=lambda b: b.distinct()
    )
    return (
        landed.distinct()
        .select(
            F.when(F.col("idx_doc") >= 2000000, "exact_copy")
            .when(F.col("idx_doc") >= 1000000, "mutated_neardup")
            .otherwise("corpus_other")
            .alias("match_kind"),
            "doc_id",
        )
        .groupBy("match_kind")
        .agg(
            F.count("*").cast("long").alias("n_candidate_pairs"),
            F.countDistinct("doc_id").cast("long").alias("n_docs_flagged"),
        )
    )


# --------------------------------------------------------------------------
# Streaming CDC upsert — the foreachBatch MERGE pattern (the Delta/Iceberg
# MERGE INTO stand-in on plain parquet): the event wire arrives in
# micro-batches (maxFilesPerTrigger=1 over a 4-file wire), each batch is
# merged into a versioned keyed state table by last-op-wins on
# (ts, event_id), with op='D' rows kept as TOMBSTONES so the merge stays
# associative across arbitrary batch splits (dropping a deleted key early
# would let an older late-arriving 'U' resurrect it). Versioned state dirs
# (state_v{n} reads state_v{n-1}) give each epoch an atomic snapshot —
# the poor-man's table format, exactly what the reference's ClickHouse
# ReplacingMergeTree does engine-side (from_rabbitmq_to_clickhouse.py
# relies on CH collapsing by key at merge time). The final read-out drops
# tombstones and must equal the batch d1_cdc_apply answer: proof the
# incremental path is indistinguishable from a full recompute. State per
# key is O(1) (one winner struct + an op count), partitioned by key hash.
@query(
    "c_stream_cdc_upsert",
    oracle="""
        SELECT user_id, event_type,
               ts AS final_ts, value AS final_value, n_ops
        FROM (
            SELECT user_id, event_type, ts, value,
                   CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY ts DESC, event_id DESC) AS rn,
                   COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_ops
            FROM events
        ) v
        WHERE rn = 1 AND op = 'U'
    """,
)
def c_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:

    configure(spark)
    tmp = scratch_dir("c_cdc_")
    # 4-file wire -> 4 micro-batches under maxFilesPerTrigger=1: the merge
    # runs repeatedly, not once (a single batch would make it a rename).
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch.repartition(4).write.mode("overwrite").parquet(f"{tmp}/src")
    raw = normalize_events_ts(
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/src")
    )
    changes = raw.withColumn(
        "op", F.when(F.col("event_id") % 10 == 0, "D").otherwise("U")
    )

    version = {"n": 0, "last_epoch": -1}

    def merge_batch(bdf: DataFrame, epoch_id: int) -> None:
        # Idempotence guard (ADVICE r4): foreachBatch can re-deliver a
        # micro-batch after a failure/retry with the SAME epoch_id; folding
        # it into state twice would inflate n_ops and bump the version
        # twice. Skip epochs already merged — with the versioned-dir write
        # below this makes the sink effectively exactly-once.
        if epoch_id <= version["last_epoch"]:
            return
        if bdf.isEmpty():
            version["last_epoch"] = epoch_id
            return
        sess = bdf.sparkSession
        # collapse the batch to per-key partials first (map-side shrink)
        part = bdf.groupBy("user_id", "event_type").agg(
            F.max_by(
                F.struct("ts", "event_id", "value", "op"),
                F.struct("ts", "event_id"),
            ).alias("w"),
            F.count("*").cast("long").alias("n_ops"),
        )
        prev_v = version["n"]
        if prev_v > 0:
            prev = sess.read.parquet(f"{tmp}/state_v{prev_v}")
            part = prev.unionByName(part)
        merged = part.groupBy("user_id", "event_type").agg(
            F.max_by(F.col("w"), F.struct("w.ts", "w.event_id")).alias("w"),
            F.sum("n_ops").cast("long").alias("n_ops"),
        )
        merged.write.mode("overwrite").parquet(f"{tmp}/state_v{prev_v + 1}")
        version["n"] = prev_v + 1
        version["last_epoch"] = epoch_id

    q = (
        changes.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = spark.read.parquet(f"{tmp}/state_v{version['n']}")
    return final.filter(F.col("w.op") == "U").select(
        "user_id",
        "event_type",
        F.col("w.ts").alias("final_ts"),
        F.col("w.value").alias("final_value"),
        "n_ops",
    )


# --------------------------------------------------------------------------
# Streaming point-in-time features, oracle-checked: the leakage-free ML
# feature join (batch twin: d6_pit_features) computed ON THE WIRE with
# applyInPandasWithState — per-user custom state folds each micro-batch in
# and re-emits every purchase's feature vector stamped with a monotone
# n_seen counter; the max-n_seen emission per purchase is the final
# answer, which makes the result invariant to micro-batch boundaries and
# arrival order (the wire is split into 4 files like the CDC/backpressure
# drills). Must equal the batch RANGE-frame answer exactly — proof that a
# feature store fed by this stream serves the same vectors training reads
# from the warehouse (the train/serve-skew guarantee).
@query(
    "c_stream_pit_features",
    oracle="""
        WITH ord AS (
            SELECT event_id, user_id, ts, event_type, value,
                   epoch_us(ts) AS tus,
                   CAST(COALESCE(SUM(CASE WHEN event_type = 'view'
                                          THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 86400000000 PRECEDING
                                 AND 1 PRECEDING), 0) AS BIGINT)
                       AS n_views_24h,
                   CAST(COALESCE(SUM(CASE WHEN event_type = 'click'
                                          THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 86400000000 PRECEDING
                                 AND 1 PRECEDING), 0) AS BIGINT)
                       AS n_clicks_24h,
                   CAST(COALESCE(SUM(CASE WHEN event_type = 'click'
                            THEN CAST(value AS DECIMAL(27,6)) END) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 604800000000 PRECEDING
                                 AND 1 PRECEDING), 0) AS DOUBLE)
                       AS click_value_7d,
                   MAX(CASE WHEN event_type = 'signup'
                            THEN epoch_us(ts) END) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS signup_tus
            FROM events
        )
        SELECT event_id, user_id, value AS label_value,
               n_views_24h, n_clicks_24h, click_value_7d,
               CAST((tus - signup_tus) // 86400000000 AS BIGINT)
                   AS days_since_signup
        FROM ord WHERE event_type = 'purchase'
    """,
)
def c_stream_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:

    from .stateful import streaming_pit_features

    configure(spark)
    tmp = scratch_dir("c_pit_")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch.repartition(4).write.mode("overwrite").parquet(f"{tmp}/src")
    raw = normalize_events_ts(
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/src")
    )
    st = raw.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        "event_type",
        "value",
    )
    # per-event feature rows (data-sized update output): executor-side
    # parquet landing instead of the driver memory sink (round 6)
    landed = run_to_scratch(streaming_pit_features(st), "update")
    w = Window.partitionBy("event_id").orderBy(F.desc("n_seen"))
    return (
        landed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "label_value",
            "n_views_24h",
            "n_clicks_24h",
            "click_value_7d",
            "days_since_signup",
        )
    )


# --------------------------------------------------------------------------
# Watermark late-drop audit, oracle-checked — the late-data policy proved
# END TO END with engineered lateness: the last 15 days of the stream
# arrive first (advancing the watermark to max(ts) - 24h), then the
# first 15 days arrive one whole trigger late — every one of their
# hourly windows already sits below the watermark, so the engine must
# drop them all (numRowsDroppedByWatermark accounts for every late row)
# and append mode must emit exactly the on-time windows the watermark
# has closed. The oracle predicts that set analytically: hourly windows
# of the punctual half with window_end <= max(on_time ts) - 24h.
# IMPORTANT Spark semantics this drill documents: under
# Trigger.AvailableNow the engine pre-plans every micro-batch before the
# watermark ever advances, so backfills deliberately do NOT drop late
# data — the drill therefore runs a LIVE processing-time trigger and
# synchronizes on processAllAvailable() between file arrivals (no
# sleeps): batch 0 consumes the punctual file, the late file only
# becomes visible afterwards, and batch 1 filters against the advanced
# watermark.
@query(
    "c_stream_late_drop_audit",
    oracle="""
        WITH on_time AS (
            SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-16'
        ),
        wm AS (SELECT MAX(ts) - INTERVAL 24 HOUR AS w FROM on_time)
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                   AS total_value
        FROM on_time, wm
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
        GROUP BY 1, 2
    """,
)
def c_stream_late_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob
    import shutil

    configure(spark)
    tmp = scratch_dir("c_late_")
    batch = normalize_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    cutoff = "2024-01-16"
    on_time = batch.filter(F.col("ts") >= cutoff)
    late = batch.filter(F.col("ts") < cutoff)
    os.makedirs(f"{tmp}/src", exist_ok=True)
    on_time.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/f1")
    late.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/f2")
    shutil.copy(
        _glob.glob(f"{tmp}/f1/part-*.parquet")[0], f"{tmp}/src/00.parquet"
    )
    raw = spark.readStream.schema(batch.schema).parquet(f"{tmp}/src")
    windowed = windowed_counts(
        raw.withColumn("ts", F.col("ts").cast("timestamp")),
        "1 hour",
        watermark="24 hours",
    )
    name = f"mem_{uuid.uuid4().hex[:10]}"
    with _shuffle_partitions(spark, STREAM_STATE_PARTITIONS):
        q = (
            windowed.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        # batch 0: the punctual half only; watermark advances after it
        q.processAllAvailable()
        # the late half becomes visible one trigger later
        shutil.copy(
            _glob.glob(f"{tmp}/f2/part-*.parquet")[0],
            f"{tmp}/src/01.parquet",
        )
        # batch 1: filtered against the advanced watermark — drops all
        # late rows and emits the closed on-time windows
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    return spark.table(name).select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


# --------------------------------------------------------------------------
# Streaming as-of enrichment via foreachBatch — Structured Streaming has
# no native as-of join, but when the RIGHT side is static each row's
# backward match depends only on that row plus the complete static book,
# so the join is batch-decomposable: run_to_scratch's batch_transform
# applies the BATCH as_of_join operator (functions/asof.py, the b3
# machinery) to every micro-batch before its replay-safe landing. This is the
# canonical reuse-the-batch-operator-in-streaming pattern; at 100 TB
# the static side ships once per micro-batch plan and the stream never
# waits for watermarks it doesn't need. Oracle: DuckDB ASOF LEFT JOIN
# over the whole tape must equal the drained sink.
@query(
    "c_stream_asof_enrich",
    oracle=oracle_on_domain(
        """
        , matched AS (
            SELECT t.company_id, b.ts AS book_ts,
                   epoch_us(t.ts) - epoch_us(b.ts) AS gap
            FROM trades t
            ASOF LEFT JOIN order_book b
              ON t.company_id = b.company_id AND t.ts >= b.ts
        )
        SELECT company_id,
               CAST(COUNT(*) AS BIGINT) AS n_trades,
               CAST(COUNT(book_ts) AS BIGINT) AS n_matched,
               COALESCE(MAX(gap), -1) AS max_gap_us
        FROM matched GROUP BY company_id
        """
    ),
)
def c_stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..fixtures import domain_table
    from ..functions import as_of_join

    e = events_stream(spark, sf_dir)
    trades = e.select(
        F.expr("'FIGI' || lpad(CAST(user_id % 50 AS STRING), 2, '0')").alias(
            "company_id"
        ),
        "ts",
        (F.col("value") + 0.01).alias("price"),
        F.col("event_id").alias("trade_id"),
    )
    book = domain_table(spark, sf_dir, "order_book").select(
        "company_id", "ts", "bid_price", "ask_price"
    )

    def enrich(batch_df: DataFrame) -> DataFrame:
        joined = as_of_join(
            batch_df,
            book,
            on="company_id",
            left_ts="ts",
            right_ts="ts",
            right_cols=[],
            direction="backward",
            matched_ts_col="book_ts",
        )
        return joined.select(
            "company_id",
            "ts",
            "book_ts",
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("book_ts").cast("timestamp"))
            ).alias("gap"),
        )

    landed = run_to_scratch(trades, batch_transform=enrich)
    return landed.groupBy("company_id").agg(
        F.count("*").cast("long").alias("n_trades"),
        F.count("book_ts").cast("long").alias("n_matched"),
        F.coalesce(F.max("gap"), F.lit(-1)).cast("long").alias("max_gap_us"),
    )
