"""The ingestion path: the reference's producer->queue->consumer pipeline
re-expressed as pure DataFrame transforms (SURVEY.md §2-A A8, A12-A17).

Reference semantics preserved deliberately:
  * rows travel as one JSON object per message
    (from_parser_to_rabbitmq.py:164,166);
  * timestamps serialize as 'yyyy-MM-dd HH:mm:ss' — SECOND precision, tz
    discarded (from_parser_to_rabbitmq.py:59);
  * content-based routing probes marker fields 'open'/'side'/'bid_price'/
    'name', unknown -> drop (from_rabbitmq_to_clickhouse.py:149-159);
  * validation is presence-only per-table required lists, missing -> drop
    (from_rabbitmq_to_clickhouse.py:122-140);
  * bad timestamp -> drop, not fail (from_rabbitmq_to_clickhouse.py:164-170)
    — hence try_to_timestamp, never to_timestamp (which throws under ANSI);
  * malformed JSON -> drop (from_rabbitmq_to_clickhouse.py:174-175) —
    from_json PERMISSIVE yields nulls, which validation then drops.

Everything here is stateless row-wise transformation — it runs identically
under batch and Structured Streaming (streaming/pipeline.py wraps these), and
at 100 TB it's embarrassingly parallel: no shuffle anywhere in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import (
    DISPATCH_MARKERS,
    DOMAIN_SCHEMAS,
    REQUIRED_FIELDS,
    TS_FORMAT,
    wire_schema,
)

TS_COLS = {"candles": "timestamp", "trades": "timestamp", "order_book": "timestamp",
           "companies": None}


def parse_once(expr: Column) -> Column:
    """Nondeterministic identity wrap == optimizer barrier (value-neutral).

    Catalyst inlines a deterministic alias into every predicate/projection
    that references it, so an aliased ``from_json`` re-parses (and, on the
    fixtures' synthesized wire, re-SERIALIZES) the message once per
    reference — and the inlined predicates then push below the
    parallelizing exchange onto the single-task scan (measured: the
    a_ingest_* family paid ~6 to_json+from_json per row in a 1-task
    filter). The historical ``when(rand() >= -1, x)`` guard no longer
    blocks this on Spark 4.1 (the plan shows the guard stripped and the
    filter pushed below the exchange); ``shuffle(array(x))[1]`` is the
    replacement: ``shuffle`` is genuinely nondeterministic, no rule
    simplifies the singleton case, and shuffling a 1-element array is the
    identity, so the wrapped value is bit-identical while Catalyst can
    neither inline nor push through it. Plan-pinned by
    tests/test_ingest.py::test_ingest_parses_once.
    """
    return F.element_at(F.shuffle(F.array(expr)), 1)


def serialize(df: DataFrame, table: str, ts_col: str | None = "auto") -> DataFrame:
    """Domain rows -> one JSON string per row (the producer's A8 sink shape).

    Timestamp columns are formatted with the reference's second-precision
    format before serialization.
    """
    if ts_col == "auto":
        ts_col = TS_COLS[table]
    cols: list[Column] = []
    for name in df.columns:
        if name == ts_col:
            cols.append(F.date_format(name, TS_FORMAT).alias(name))
        else:
            cols.append(F.col(name))
    return df.select(F.to_json(F.struct(*cols)).alias("value"))


def dispatch(raw: DataFrame, value_col: str = "value") -> dict[str, DataFrame]:
    """Content-based routing of a mixed JSON message stream (A13).

    Marker-field probing like the reference: a message routes to the first
    table whose marker key is PRESENT in the JSON object. Returns
    {table: parsed DataFrame with the table's wire schema}. Messages
    matching no marker are dropped (reference warns+drops).
    """
    routed: dict[str, DataFrame] = {}
    # Key-presence probe (not null-value probe): json_object_keys lists the
    # object's keys; malformed JSON yields null -> filtered. The reference
    # dispatch is if/elif, so each probe also excludes all earlier markers.
    earlier: Column | None = None
    for marker, table in DISPATCH_MARKERS.items():
        has_key = F.coalesce(
            F.array_contains(F.json_object_keys(F.col(value_col)), F.lit(marker)),
            F.lit(False),
        )
        cond = has_key if earlier is None else (~earlier & has_key)
        routed[table] = (
            raw.filter(cond)
            .withColumn(
                "__parsed",
                parse_once(F.from_json(F.col(value_col), wire_schema(table))),
            )
            .select("__parsed.*")
        )
        earlier = has_key if earlier is None else (earlier | has_key)
    return routed


def validate(parsed: DataFrame, table: str) -> tuple[DataFrame, DataFrame]:
    """Presence validation + timestamp parse (A14, A15).

    Returns (valid, rejected): valid rows have every required field non-null
    and a parseable timestamp (converted to TimestampNTZ); rejected is the
    side-channel the reference only logs (we keep it queryable).
    """
    required = REQUIRED_FIELDS[table]
    presence = None
    for c in required:
        cond = F.col(c).isNotNull()
        presence = cond if presence is None else (presence & cond)

    ts_col = TS_COLS[table]
    df = parsed
    if ts_col is not None:
        df = df.withColumn(
            "__ts_parsed",
            F.try_to_timestamp(F.col(ts_col), F.lit(TS_FORMAT)).cast("timestamp_ntz"),
        )
        ok = presence & F.col("__ts_parsed").isNotNull()
        target_cols = [
            F.col("__ts_parsed").alias(ts_col) if c == ts_col else F.col(c)
            for c in parsed.columns
        ]
        valid = df.filter(ok).select(*target_cols)
        rejected = df.filter(~ok | ok.isNull()).select(*parsed.columns)
    else:
        valid = df.filter(presence)
        rejected = df.filter(~presence | presence.isNull())
    return valid, rejected


def ingest(raw: DataFrame, value_col: str = "value") -> dict[str, DataFrame]:
    """Full consumer path over a mixed JSON stream: parse -> dispatch ->
    validate -> timestamp parse. {table: clean typed DataFrame} matching
    schemas.DOMAIN_SCHEMAS (the reference's E2 lifecycle, batch or stream).

    CONTRACT (pinned by tests/test_ingest.py::test_ingest_union_distributive):
    this path is a stateless row-wise map/filter — no dedup, no cross-row
    state — so it distributes over union: ``ingest(w1 ∪ w2)`` is row-for-row
    ``ingest(w1) ∪ ingest(w2)``. a_backfill_idempotency's doubled-tape
    replay is built on that property; a future stateful behavior here must
    revisit that query (and the test will fail loudly).

    Semantically identical to ``validate(dispatch(raw)[t], t)`` but built as
    a SINGLE-PARSE plan. The naive composition costs 3-8 ``from_json`` per
    row: predicate pushdown inlines the parsed-struct alias into every
    filter it pushes through, so each Filter re-parses (and, on the
    fixture's simulated wire, re-SERIALIZES) the message. The fix is to
    make the parsed struct itself non-deterministic (``parse_once``):
    Catalyst neither inlines a non-deterministic alias into downstream
    predicates nor pushes predicates through a projection containing one,
    and (unlike a detached non-deterministic marker column) the guard
    can't be undone by column pruning because it wraps a column every
    consumer references. Routing filters stay below the parse (on the raw
    string), so each branch fully parses only its own rows.
    """
    out: dict[str, DataFrame] = {}
    earlier: Column | None = None
    for marker, table in DISPATCH_MARKERS.items():
        keys = F.json_object_keys(F.col(value_col))
        has_key = F.coalesce(F.array_contains(keys, F.lit(marker)), F.lit(False))
        cond = has_key if earlier is None else (~earlier & has_key)
        earlier = has_key if earlier is None else (earlier | has_key)
        parsed = F.from_json(F.col(value_col), wire_schema(table))
        # Non-deterministic identity wrap == optimizer barrier. r10 fix:
        # the when(rand() >= -1) guard this shipped with is STRIPPED by
        # the Spark 4.1 optimizer (the validity filter then re-parsed the
        # message ~6x per row below the exchange, on one task); see
        # parse_once for the measured story.
        guarded = parse_once(parsed)
        p1 = raw.filter(cond).select(guarded.alias("__p"))
        ts_col = TS_COLS[table]
        if ts_col is not None:
            p2 = p1.select(
                "__p",
                F.try_to_timestamp(
                    F.col("__p").getField(ts_col), F.lit(TS_FORMAT)
                )
                .cast("timestamp_ntz")
                .alias("__ts"),
            )
        else:
            p2 = p1
        ok = None
        for c in REQUIRED_FIELDS[table]:
            x = F.col("__p").getField(c).isNotNull()
            ok = x if ok is None else (ok & x)
        if ts_col is not None:
            ok = ok & F.col("__ts").isNotNull()
        field_names = [f.name for f in wire_schema(table).fields]
        final_cols = [
            F.col("__ts").alias(c) if c == ts_col else F.col("__p").getField(c).alias(c)
            for c in field_names
        ]
        out[table] = p2.filter(ok).select(*final_cols)
    return out


__all__ = ["serialize", "dispatch", "validate", "ingest", "DOMAIN_SCHEMAS"]
