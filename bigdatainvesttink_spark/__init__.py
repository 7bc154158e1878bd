"""bigdatainvesttink_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capability surface of
``mshnschnko/BigDataInvestTink`` (a Tinkoff-market streaming ETL pipeline:
gRPC producer -> RabbitMQ -> consumer -> ClickHouse -> Grafana), plus the
LLM-data-pipeline operators (dedup / similarity search / text analysis /
multimodal plumbing) required for 100 TB-scale training-data work.

Design tenets (see SURVEY.md §7):
  * DataFrame/SQL first — declare logical plans, let Catalyst/AQE pick the
    physical strategy. Zero custom Catalyst rules.
  * Warehouse = Parquet + temp views (plays ClickHouse's role); queries are
    first-class DataFrames (play Grafana's role).
  * Streaming = Structured Streaming with checkpoints/watermarks (plays the
    RabbitMQ consume loop's role, upgraded from at-least-once + no late-data
    policy to checkpointed exactly-once file sinks).
  * Oracle parity: every operator's result is reproducible by an ANSI-SQL
    statement DuckDB can run on the same parquet — float aggregation goes
    through exact decimal arithmetic so sums are order-independent.
"""

import logging

__version__ = "0.1.0"

# The package's one logger; modules log through it, never print.
LOG = logging.getLogger(__name__)
