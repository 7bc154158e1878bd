"""Queue-shaped streaming source (SURVEY.md §2-C C1-C3 at production shape).

The reference consumes durable AMQP queues in a run-forever per-message loop
(app/for_rabbit/from_parser_to_rabbitmq.py:259-266 publishes;
app/for_clickhouse/from_rabbitmq_to_clickhouse.py:191-197 consumes). A real
cluster deployment would point ``spark.readStream.format("kafka")`` (or a
RabbitMQ connector) at those queues; this container has no broker, so the
production SHAPE is exercised with Spark's built-in unbounded ``rate``
source: a continuously-arriving record stream whose offsets live in the
checkpoint, consumed through the SAME wire-synthesis + ingest() transforms.
Swapping ``rate`` for ``kafka`` changes only ``_raw_stream`` — the message
payloads, dispatch, validation, and sink are identical.

Delivery semantics match pipeline.py: checkpointed offsets (C3), restart
resumes mid-stream instead of re-consuming from zero (C2; verified by the
restart test), micro-batch consumption of an unbounded source (C1),
``rowsPerSecond`` as the backpressure knob (C7's analogue — the reference
throttles with rate-limit sleeps).

The wire synthesis is deterministic in the sequence number, so the exact
same generator runs as a batch query (``c_queue_wire_roundtrip``) where
DuckDB can verify the end-to-end dispatch/validate/drop accounting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..schemas import TS_FORMAT
from ..sources.ingest import ingest
from .pipeline import _land_epoch

# Deterministic corruption slots (out of every 50 messages): one malformed
# JSON (dropped at dispatch), one missing-required field (dropped at
# validation) — the reference's warn+drop semantics under continuous load.
_SLOT_MALFORMED = 7
_SLOT_MISSING = 19

_BASE_EPOCH = 1704067200  # 2024-01-01 00:00:00 UTC


def synth_wire(seq: Column) -> Column:
    """One mixed-feed JSON wire message per sequence number.

    seq % 4 picks the feed (trades/candles/order_book/companies), numeric
    fields derive from exact integer arithmetic on seq (portable to the SQL
    oracle), and two slots per 50 are corrupted deliberately.
    """
    ts_str = F.date_format(
        F.timestamp_seconds(F.lit(_BASE_EPOCH) + seq % 86400), TS_FORMAT
    )
    company = F.concat(F.lit("FIGI"), F.lpad((seq % 50).cast("string"), 2, "0"))
    px = (seq % 9973).cast("double") / 100 + 1.0
    vol = seq % 997 + 1
    missing = seq % 50 == _SLOT_MISSING

    trades = F.to_json(
        F.struct(
            company.alias("company_id"),
            ts_str.alias("timestamp"),
            F.when(~missing, px).alias("price"),  # null -> key omitted
            vol.alias("volume"),
            F.when(seq % 2 == 0, "buy").otherwise("sell").alias("side"),
        )
    )
    candles = F.to_json(
        F.struct(
            company.alias("company_id"),
            ts_str.alias("timestamp"),
            px.alias("open"),
            (px * 1.01).alias("high"),
            F.when(~missing, px * 0.99).alias("low"),
            px.alias("close"),
            vol.alias("volume"),
        )
    )
    book = F.to_json(
        F.struct(
            company.alias("company_id"),
            ts_str.alias("timestamp"),
            (px * 0.999).alias("bid_price"),
            F.when(~missing, vol).alias("bid_volume"),
            (px * 1.001).alias("ask_price"),
            vol.alias("ask_volume"),
        )
    )
    companies = F.to_json(
        F.struct(
            company.alias("company_id"),
            F.concat(F.lit("Company "), (seq % 50).cast("string")).alias("name"),
            F.when(
                ~missing, F.concat(F.lit("T"), (seq % 50).cast("string"))
            ).alias("ticker"),
            F.concat(F.lit("SEC"), (seq % 10).cast("string")).alias("sector"),
        )
    )
    body = (
        F.when(seq % 4 == 0, trades)
        .when(seq % 4 == 1, candles)
        .when(seq % 4 == 2, book)
        .otherwise(companies)
    )
    return F.when(
        seq % 50 == _SLOT_MALFORMED, F.lit('{"side": not-even-json !!!')
    ).otherwise(body)


def rate_wire_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Unbounded queue-shaped wire stream: rate source -> JSON messages.

    Column ``seq`` is the queue offset analogue; ``value`` is the message
    body, exactly what a kafka consumer would surface as its value column.
    """
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return raw.select(
        F.col("value").alias("seq"), synth_wire(F.col("value")).alias("value")
    )


def kafka_wire_stream(
    spark: SparkSession, brokers: str, topic: str, format_name: str = "kafka"
) -> DataFrame:
    """Production arm of ``rate_wire_stream`` — THE single swap point.

    Same output contract (``seq`` offset column + string ``value`` body), so
    every downstream stage (``ingest()`` dispatch/validate, ``queue_ingest``
    sink, checkpointing) runs unchanged against a real durable queue — the
    role RabbitMQ plays in the reference
    (from_rabbitmq_to_clickhouse.py:179-197). The default format needs the
    spark-sql-kafka-0-10 package on the classpath; where that is absent
    (this container), ``format_name="mock_kafka"`` points the SAME options
    and projection at the file-backed broker double in
    ``streaming/mock_kafka.py`` (Spark reserves the name ``kafka`` in its
    provider registry, so the double cannot simply shadow it) — the smoke
    test runs the seam for real in that configuration instead of skipping.
    """
    raw = (
        spark.readStream.format(format_name)
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .load()
    )
    return raw.select(
        F.col("offset").alias("seq"),
        F.col("value").cast("string").alias("value"),
    )


def queue_ingest(
    spark: SparkSession,
    checkpoint_dir: str,
    out_dir: str,
    rows_per_second: int = 1000,
    trigger_interval: str = "1 second",
):
    """Continuous consume loop: rate-source wire -> ingest() -> the trades
    table, one epoch directory per micro-batch under one checkpoint
    (``pipeline._land_epoch``). The raw ``seq`` offsets land beside it in
    ``_seqs`` so delivery (no loss, no re-consume after restart: a gap is
    loss, a duplicate re-consume) is auditable from the output alone.
    Returns the StreamingQuery (caller stops it)."""
    wire = rate_wire_stream(spark, rows_per_second)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        _land_epoch(
            {"trades": ingest(batch_df)["trades"], "_seqs": batch_df.select("seq")},
            out_dir,
            epoch_id,
        )

    return (
        wire.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=trigger_interval)
        .start()
    )


# --------------------------------------------------------------------------
# The same generator + ingest path as a bounded batch query DuckDB can
# verify: N sequence numbers -> wire -> parse/dispatch/validate -> clean
# per-table counts. The oracle re-derives the drop accounting from the
# corruption arithmetic alone — if dispatch or validation mis-drops a single
# message class, the counts diverge.
_N_MSGS = 20000

@query(
    "c_queue_wire_roundtrip",
    oracle=f"""
        SELECT 'trades' AS table_name, COUNT(*) AS n_rows
        FROM range({_N_MSGS}) t(seq) WHERE seq % 4 = 0
          AND seq % 50 <> {_SLOT_MALFORMED} AND seq % 50 <> {_SLOT_MISSING}
        UNION ALL
        SELECT 'candles', COUNT(*) FROM range({_N_MSGS}) t(seq) WHERE seq % 4 = 1
          AND seq % 50 <> {_SLOT_MALFORMED} AND seq % 50 <> {_SLOT_MISSING}
        UNION ALL
        SELECT 'order_book', COUNT(*) FROM range({_N_MSGS}) t(seq) WHERE seq % 4 = 2
          AND seq % 50 <> {_SLOT_MALFORMED} AND seq % 50 <> {_SLOT_MISSING}
        UNION ALL
        SELECT 'companies', COUNT(*) FROM range({_N_MSGS}) t(seq) WHERE seq % 4 = 3
          AND seq % 50 <> {_SLOT_MALFORMED} AND seq % 50 <> {_SLOT_MISSING}
    """,
)
def c_queue_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    wire = spark.range(_N_MSGS).select(
        synth_wire(F.col("id")).alias("value")
    )
    parts = []
    for table, clean in ingest(wire).items():
        parts.append(
            clean.agg(F.count("*").alias("n_rows")).select(
                F.lit(table).alias("table_name"), "n_rows"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
