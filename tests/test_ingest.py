"""Ingestion edge semantics (FIXTURES.md §C): the reference's
drop-don't-fail behaviors, dispatch precedence, and quotation conversion."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatainvesttink_spark.functions import quotation_to_double
from bigdatainvesttink_spark.schemas import DOMAIN_SCHEMAS
from bigdatainvesttink_spark.sources.ingest import dispatch, ingest, validate

VALID = {
    "candles": '{"company_id":"F1","timestamp":"2024-01-01 10:00:00",'
    '"open":1.0,"high":2.0,"low":0.5,"close":1.5,"volume":10}',
    "trades": '{"company_id":"F1","timestamp":"2024-01-01 10:00:01",'
    '"price":1.25,"volume":7,"side":"buy"}',
    "order_book": '{"company_id":"F1","timestamp":"2024-01-01 10:00:02",'
    '"bid_price":1.0,"bid_volume":5,"ask_price":1.1,"ask_volume":6}',
    "companies": '{"company_id":"F1","name":"Co","ticker":"T1","sector":"S"}',
}


def _raw(spark, messages):
    return spark.createDataFrame([(m,) for m in messages], "value string")


def test_happy_path_all_tables(spark):
    out = ingest(_raw(spark, list(VALID.values())))
    for table in VALID:
        rows = out[table].collect()
        assert len(rows) == 1, table
        assert rows[0]["company_id"] == "F1"


def test_malformed_json_dropped(spark):
    out = ingest(_raw(spark, ["{{{not json", "", "42", '"quoted string"']))
    assert all(df.count() == 0 for df in out.values())


def test_unknown_marker_dropped(spark):
    out = ingest(_raw(spark, ['{"company_id":"F1","foo":1}']))
    assert all(df.count() == 0 for df in out.values())


def test_dispatch_elif_precedence(spark):
    # reference dispatch is if/elif: 'open' wins over 'side'
    msg = (
        '{"open":1.0,"high":2.0,"low":0.5,"close":1.5,"volume":1,'
        '"side":"buy","company_id":"F1","timestamp":"2024-01-01 00:00:00",'
        '"price":9.9}'
    )
    routed = dispatch(_raw(spark, [msg]))
    assert routed["candles"].count() == 1
    assert routed["trades"].count() == 0


def test_missing_required_field_dropped(spark):
    missing_vol = (
        '{"company_id":"F1","timestamp":"2024-01-01 10:00:01",'
        '"price":1.25,"side":"buy"}'
    )
    out = ingest(_raw(spark, [missing_vol]))
    assert out["trades"].count() == 0


def test_bad_timestamp_dropped_and_rejected_side_channel(spark):
    bad_ts = (
        '{"company_id":"F1","timestamp":"01/01/2024 10:00",'
        '"price":1.25,"volume":7,"side":"buy"}'
    )
    routed = dispatch(_raw(spark, [bad_ts, VALID["trades"]]))
    valid, rejected = validate(routed["trades"], "trades")
    assert valid.count() == 1
    assert rejected.count() == 1
    assert rejected.collect()[0]["timestamp"] == "01/01/2024 10:00"


def test_null_marker_value_still_routes(spark):
    # key PRESENT with null value: the reference probes key presence, so it
    # routes (then fails validation) rather than being unknown-dropped.
    msg = '{"side":null,"company_id":"F1"}'
    routed = dispatch(_raw(spark, [msg]))
    assert routed["trades"].count() == 1
    valid, rejected = validate(routed["trades"], "trades")
    assert valid.count() == 0 and rejected.count() == 1


def test_quotation_conversion_edges(spark):
    rows = [
        (0, 0),  # zero
        (100, 500_000_000),  # 100.5
        (-2, -500_000_000),  # -2.5 (negative nano, Tinkoff convention)
        (0, 999_999_999),  # max nano
    ]
    df = spark.createDataFrame(rows, "units long, nano long").select(
        quotation_to_double("units", "nano").alias("px")
    )
    got = [r["px"] for r in df.collect()]
    assert got == [0.0, 100.5, -2.5, 0.999999999]


def test_roundtrip_second_truncation(spark):
    # serialize->ingest truncates to whole seconds (reference strftime)
    from bigdatainvesttink_spark.sources.ingest import serialize

    src = spark.createDataFrame(
        [("F1", "2024-03-05 06:07:08.999999", 1.5, 3, "sell")],
        "company_id string, timestamp string, price double, volume long, side string",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp_ntz"))
    wire = serialize(src, "trades", ts_col="timestamp")
    out = ingest(wire)["trades"].collect()
    assert str(out[0]["timestamp"]) == "2024-03-05 06:07:08"


def test_ingest_parses_once(spark):
    """r10 optimization pin: the parse_once barrier must keep exactly ONE
    from_json in each ingest branch's physical plan. Without it, Catalyst
    inlines the parsed-struct alias into every validity predicate/output
    column (~6 parses per row) and pushes the inlined filter below the
    parallelizing exchange onto the single-task scan (the Spark 4.1
    regression of the historical when(rand() >= -1) guard)."""
    raw = _raw(spark, list(VALID.values())).repartition(2)
    for table, df in ingest(raw).items():
        phys = df._jdf.queryExecution().toString().split(
            "== Physical Plan =="
        )[-1]
        assert phys.count("from_json") == 1, (table, phys)


def test_ingest_union_distributive(spark):
    """ADVICE r10 (medium): a_backfill_idempotency builds its doubled
    replay as ingest(w) ∪ ingest(w) instead of ingest(w ∪ w), leaning on
    ingest() being a stateless row-wise map/filter — so the distributivity
    ingest(w ∪ w) ≡ ingest(w) ∪ ingest(w) must hold PER TABLE, row for
    row. This pins that contract: any future cross-row behavior in
    ingest() (dedup, stateful routing) breaks here first instead of
    silently hollowing out the backfill audit."""
    msgs = list(VALID.values()) + [
        "{{{not json",
        '{"side":"buy","company_id":"F1"}',  # missing required fields
    ]
    w = _raw(spark, msgs)
    once = ingest(w)
    twice = ingest(w.unionAll(w))
    for table in VALID:
        single = sorted(map(str, once[table].collect()))
        doubled = sorted(map(str, twice[table].collect()))
        assert doubled == sorted(single + single), table


def test_dispatch_parses_once(spark):
    """Same pin for the dispatch() routing path (rejected-side consumers
    compose validate() on top of it, which adds per-field predicates)."""
    raw = _raw(spark, list(VALID.values()))
    for table, parsed in dispatch(raw).items():
        valid, rejected = validate(parsed, table)
        for df in (valid, rejected):
            phys = df._jdf.queryExecution().toString().split(
                "== Physical Plan =="
            )[-1]
            assert phys.count("from_json") == 1, (table, phys)


def test_ingest_matches_dispatch_validate(spark):
    """ingest() is built from SQL text for speed; it must stay row for row
    the Column-API composition validate(dispatch(raw)[t], t)[0], with the
    domain schema, over every edge the consumer drops or routes."""
    msgs = list(VALID.values()) + [
        "{{{not json",  # malformed
        "",  # empty
        '"quoted string"',
        '{"company_id":"F1","foo":1}',  # unknown marker
        '{"side":null,"company_id":"F1"}',  # null marker value
        '{"company_id":"F1","timestamp":"2024-01-01 10:00:01",'
        '"price":1.25,"side":"buy"}',  # missing required field
        '{"company_id":"F1","timestamp":"01/01/2024 10:00",'
        '"price":1.25,"volume":7,"side":"buy"}',  # bad timestamp
        '{"open":1.0,"high":2.0,"low":0.5,"close":1.5,"volume":1,"side":"buy",'
        '"company_id":"F2","timestamp":"2024-01-01 00:00:00"}',  # two markers
        '{"name":"Co2","company_id":"F2","ticker":null,"sector":"S"}',
    ]
    raw = _raw(spark, msgs)
    routed = dispatch(raw)
    for table, df in ingest(raw).items():
        assert df.schema == DOMAIN_SCHEMAS[table], table
        want = validate(routed[table], table)[0]
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, want.collect())), table
