"""Table loaders over the driver's parquet fixtures.

The warehouse layer: Parquet scans with Catalyst pushdown/pruning play the
role the reference delegates to ClickHouse (columnar at rest — reference
compose.yaml:4-14; implied schema at
app/for_clickhouse/from_rabbitmq_to_clickhouse.py:54-111).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import configure

def normalize_events_ts(df: DataFrame) -> DataFrame:
    """events.ts as timestamp_ntz micros, batch or stream.

    events.parquet stores INT64 TIMESTAMP(NANOS); with
    spark.sql.legacy.parquet.nanosAsLong it scans as epoch-nanos LongType,
    converted here JVM-side to timestamp_ntz truncated to microseconds —
    bit-identical to what DuckDB reads from the same file. A frame whose
    ts is not LongType passes through unchanged.
    """
    if dict(df.dtypes).get("ts") != "bigint":
        return df
    return df.withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table; normalizes events.ts (nanos -> ntz micros)."""
    configure(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return normalize_events_ts(df) if name == "events" else df
