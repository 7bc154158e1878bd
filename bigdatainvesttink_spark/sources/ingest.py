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

import functools

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
    neither inline nor push through it. ``ingest`` spells the same wrap in
    SQL text (``_branch_sql``). Plan-pinned by
    tests/test_ingest.py::test_ingest_parses_once and
    ::test_dispatch_parses_once.
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


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


@functools.lru_cache
def _branch_sql(value_col: str) -> tuple[tuple, ...]:
    """Per table: (table, routing predicate, parse projection, timestamp
    projection or None, validity predicate, output projection) as SQL text.

    The text spells exactly the expressions the Column API would build
    (``dispatch`` + ``validate`` fused, behind ``parse_once``), so the
    analyzed plan is the same; only the Python side is cheaper, because a
    SQL string crosses py4j once where a Column tree makes one round trip
    per function call.
    """
    v = _q(value_col)
    branches = []
    earlier: str | None = None
    for marker, table in DISPATCH_MARKERS.items():
        has_key = f"coalesce(array_contains(json_object_keys({v}), '{marker}'), false)"
        cond = has_key if earlier is None else f"(NOT ({earlier})) AND {has_key}"
        earlier = has_key if earlier is None else f"({earlier}) OR {has_key}"
        wire = wire_schema(table)
        parse = (
            f"element_at(shuffle(array(from_json({v}, '{wire.simpleString()}'))), 1)"
            " AS __p"
        )
        ts_col = TS_COLS[table]
        ok = [f"__p.{_q(c)} IS NOT NULL" for c in REQUIRED_FIELDS[table]]
        typed = None
        if ts_col is not None:
            typed = (
                "__p",
                f"CAST(try_to_timestamp(__p.{_q(ts_col)}, '{TS_FORMAT}')"
                " AS TIMESTAMP_NTZ) AS __ts",
            )
            ok.append("__ts IS NOT NULL")
        final = tuple(
            f"__ts AS {_q(f.name)}" if f.name == ts_col
            else f"__p.{_q(f.name)} AS {_q(f.name)}"
            for f in wire.fields
        )
        # Left-nested like the Column API's ``a & b & c``; the SQL parser
        # balances a flat AND chain, which would change the plan's shape.
        valid = ok[0]
        for x in ok[1:]:
            valid = f"({valid}) AND {x}"
        branches.append((table, cond, parse, typed, valid, final))
    return tuple(branches)


_branch_sql("value")  # the wire's column, built once at import


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

    Row for row equal to ``validate(dispatch(raw)[t], t)[0]`` (pinned by
    tests/test_ingest.py::test_ingest_matches_dispatch_validate) but built
    as a SINGLE-PARSE plan. The naive composition costs 3-8 ``from_json``
    per row: predicate pushdown inlines the parsed-struct alias into every
    filter it pushes through, so each Filter re-parses (and, on the
    fixture's simulated wire, re-SERIALIZES) the message. The parsed
    struct is therefore wrapped non-deterministically (``parse_once``):
    Catalyst neither inlines a non-deterministic alias into downstream
    predicates nor pushes predicates through a projection containing one,
    and the guard can't be undone by column pruning because it wraps a
    column every consumer references. Routing filters stay below the parse
    (on the raw string), so each branch fully parses only its own rows.

    Each branch is built from SQL text (``_branch_sql``), not Column
    functions: the Column form cost ~2,900 py4j round trips per call
    (0.32 s on 4 cores, paid on every streaming micro-batch), the text
    form a few dozen (0.07 s).
    """
    out: dict[str, DataFrame] = {}
    for table, cond, parse, typed, ok, final in _branch_sql(value_col):
        p = raw.filter(cond).selectExpr(parse)
        if typed is not None:
            p = p.selectExpr(*typed)
        out[table] = p.filter(ok).selectExpr(*final)
    return out


__all__ = ["serialize", "dispatch", "validate", "ingest", "DOMAIN_SCHEMAS"]
