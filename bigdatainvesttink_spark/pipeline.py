"""End-to-end pipeline runner — the reference's full lifecycle (E1 producer
-> queue -> E2 consumer -> warehouse -> E3 analytics, SURVEY.md §3) as one
Spark job graph.

Reference parity, stage by stage:
  1. PRODUCE (E1, from_parser_to_rabbitmq.py:214-245): domain rows are
     derived from the events fixture (standing in for the Tinkoff API) and
     published as JSON-lines files — the durable-queue stand-in.
  2. CONSUME (E2, from_rabbitmq_to_clickhouse.py:142-177): a checkpointed
     Structured Streaming job parses, dispatches, validates, and lands
     each table to the parquet warehouse (ClickHouse's role), one
     overwritten directory per micro-batch. Exactly-once via checkpoint plus
     replay-safe landing — a strict upgrade over the reference's
     ack-after-insert.
  3. QUERY (E3, Grafana's role): the warehouse tables feed the B-series
     analytics as plain DataFrames / temp views.

``python -m bigdatainvesttink_spark.pipeline [sf_dir [workdir]]`` runs the
whole thing and prints per-stage row counts plus a sample analytic.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fixtures import domain_table
from .operators.ingestion import _wire_stream
from .schemas import DOMAIN_SCHEMAS
from .session import scratch_dir
from .streaming.pipeline import ingest_stream


def produce(spark: SparkSession, sf_dir: str, queue_dir: str) -> dict[str, int]:
    """E1: derive domain rows and publish them as JSON-lines 'queue' files."""
    counts: dict[str, int] = {}
    for table in DOMAIN_SCHEMAS:
        counts[table] = domain_table(spark, sf_dir, table).count()
    stream = _wire_stream(
        spark, sf_dir, ("candles", "trades", "order_book", "companies")
    )
    stream.write.mode("overwrite").text(queue_dir)
    return counts


def consume(spark: SparkSession, queue_dir: str, checkpoint: str, warehouse: str):
    """E2: checkpointed streaming ingest of the queue into the warehouse."""
    q = ingest_stream(spark, queue_dir, checkpoint, warehouse)
    q.awaitTermination()


def warehouse_table(spark: SparkSession, warehouse: str, table: str) -> DataFrame:
    """One warehouse table in its domain schema, without the ``epoch``
    column the per-micro-batch directories add."""
    df = spark.read.parquet(f"{warehouse}/{table}")
    return df.select(*DOMAIN_SCHEMAS[table].names)


def run_pipeline(
    spark: SparkSession, sf_dir: str, workdir: str | None = None
) -> dict[str, int]:
    """Produce -> consume -> verify counts; returns per-table warehouse
    row counts. The warehouse afterwards serves the analytics layer."""
    workdir = workdir or scratch_dir("pipeline_")
    produced = produce(spark, sf_dir, f"{workdir}/queue")
    consume(spark, f"{workdir}/queue", f"{workdir}/ckpt", f"{workdir}/warehouse")
    landed = {
        t: warehouse_table(spark, f"{workdir}/warehouse", t).count()
        for t in DOMAIN_SCHEMAS
    }
    for t, n in produced.items():
        if landed.get(t) != n:
            raise AssertionError(
                f"pipeline loss: {t} produced {n} rows, landed {landed.get(t)}"
            )
    return landed


def main() -> None:
    from .session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    workdir = sys.argv[2] if len(sys.argv) > 2 else None
    spark = get_spark("pipeline")
    workdir = workdir or scratch_dir("pipeline_")
    counts = run_pipeline(spark, sf_dir, workdir)
    print({"warehouse_counts": counts})
    trades = warehouse_table(spark, f"{workdir}/warehouse", "trades")
    top = (
        trades.groupBy("company_id")
        .agg(F.count("*").alias("n"), F.round(F.avg("price"), 2).alias("avg_px"))
        .orderBy(F.desc("n"))
        .limit(5)
        .collect()
    )
    print({"top_traded": [r.asDict() for r in top]})


if __name__ == "__main__":
    main()
