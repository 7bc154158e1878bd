"""Property-based tests (SURVEY.md §5.2): serialization round-trips, dedup
idempotence, and windowed-vs-whole aggregation consistency over
hypothesis-generated inputs."""

from __future__ import annotations

import datetime as dt
import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from bigdatainvesttink_spark.sources.ingest import ingest, serialize

_SETTINGS = dict(
    max_examples=8,  # each example spins Spark jobs; keep the loop tight
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

finite_price = st.floats(
    min_value=0.01, max_value=1e9, allow_nan=False, allow_infinity=False
)
ts_strategy = st.datetimes(
    min_value=dt.datetime(2000, 1, 1), max_value=dt.datetime(2030, 12, 31)
)
company = st.text(alphabet="ABCDEF0123456789", min_size=1, max_size=12)


@given(
    rows=st.lists(
        st.tuples(
            company,
            ts_strategy,
            finite_price,
            st.integers(min_value=0, max_value=2**40),
            st.sampled_from(["buy", "sell"]),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_trade_wire_roundtrip_identity(spark, rows):
    """serialize -> dispatch -> validate -> parse must be the identity on
    valid trades, modulo the documented second-precision timestamp truncation."""
    src = spark.createDataFrame(
        [(c, t, p, v, s) for c, t, p, v, s in rows],
        "company_id string, timestamp timestamp_ntz, price double, "
        "volume long, side string",
    )
    out = ingest(serialize(src, "trades", ts_col="timestamp"))["trades"]
    got = sorted(
        (r["company_id"], r["timestamp"], r["price"], r["volume"], r["side"])
        for r in out.collect()
    )
    want = sorted(
        (c, t.replace(microsecond=0), p, v, s) for c, t, p, v, s in rows
    )
    assert [g[:2] + g[3:] for g in got] == [w[:2] + w[3:] for w in want]
    for g, w in zip(got, want):  # float survives the JSON round-trip exactly
        assert math.isclose(g[2], w[2], rel_tol=0, abs_tol=0) or g[2] == w[2]


@given(
    texts=st.lists(
        st.text(alphabet="abcdefg h", min_size=0, max_size=40),
        min_size=1,
        max_size=15,
    )
)
@settings(**_SETTINGS)
def test_exact_dedup_idempotent(spark, texts):
    """Deduplicating an already-deduplicated corpus changes nothing, and
    every canonical id is the min doc_id of its text group."""
    from bigdatainvesttink_spark.functions.text import stable_hash60
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    w = Window.partitionBy(stable_hash60("text"), "text")
    once = df.select(
        "doc_id", "text", F.min("doc_id").over(w).alias("canonical")
    )
    survivors = once.filter(F.col("doc_id") == F.col("canonical")).select(
        "doc_id", "text"
    )
    twice = survivors.select(
        "doc_id", "text", F.min("doc_id").over(w).alias("canonical")
    )
    assert twice.filter(F.col("doc_id") != F.col("canonical")).count() == 0
    by_text: dict[str, int] = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, i)
    got = {r["text"]: r["doc_id"] for r in survivors.collect()}
    assert got == by_text


@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
                      allow_infinity=False),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(**_SETTINGS)
def test_grouped_decimal_sums_equal_total(spark, vals):
    """Partitioned (windowed) sums must recompose to the whole-table sum
    exactly — the associativity guarantee the decimal policy rests on."""
    df = spark.createDataFrame(vals, "k int, v double")
    per_group = df.groupBy("k").agg(
        F.sum(F.col("v").cast("decimal(27,6)")).alias("s")
    )
    total_of_groups = per_group.agg(F.sum("s").cast("double")).collect()[0][0]
    total_direct = (
        df.agg(F.sum(F.col("v").cast("decimal(27,6)")).cast("double"))
        .collect()[0][0]
    )
    assert total_of_groups == total_direct


@given(
    left=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),
            st.integers(min_value=0, max_value=3600),
        ),
        min_size=1,
        max_size=12,
    ),
    right=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),
            st.integers(min_value=0, max_value=3600),
            st.one_of(st.none(), finite_price),
        ),
        min_size=0,
        max_size=12,
    ),
)
@settings(**_SETTINGS)
def test_asof_join_matches_reference_semantics(spark, left, right):
    """as_of_join backward-inclusive must agree with the row-at-a-time
    definition (greatest right ts <= left ts per key; among ties the
    greatest value tuple) on arbitrary inputs — including duplicate right
    timestamps and null values."""
    from bigdatainvesttink_spark.functions import as_of_join

    base = dt.datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(k, base + dt.timedelta(seconds=s), i) for i, (k, s) in enumerate(left)],
        "k string, ts timestamp_ntz, lid int",
    )
    rdf = spark.createDataFrame(
        [(k, base + dt.timedelta(seconds=s), v) for k, s, v in right],
        "k string, ts timestamp_ntz, px double",
    )
    got = {
        r["lid"]: r["px"]
        for r in as_of_join(ldf, rdf, on="k", left_ts="ts", right_ts="ts").collect()
    }
    for i, (k, s) in enumerate(left):
        lt = base + dt.timedelta(seconds=s)
        matches = [
            v for (rk, rs, v) in right
            if rk == k and base + dt.timedelta(seconds=rs) <= lt
        ]
        if not matches:
            assert got[i] is None, (i, k, s)
        else:
            best_ts = max(
                rs for (rk, rs, v) in right
                if rk == k and base + dt.timedelta(seconds=rs) <= lt
            )
            ties = [
                v for (rk, rs, v) in right if rk == k and rs == best_ts
            ]
            # greatest value tuple with nulls-first ordering == max over
            # (v is not None, v) — one atomic winner row
            want = max(ties, key=lambda v: (v is not None, v))
            assert got[i] == want, (i, k, s, ties)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user bucket
            st.integers(min_value=0, max_value=10**7),  # ts micros offset
            st.integers(min_value=0, max_value=2**31),  # event_id
            finite_price,
        ),
        min_size=1,
        max_size=16,
    )
)
@settings(**_SETTINGS)
def test_compact_latest_decimal_key_is_monotone(spark, rows):
    """The DECIMAL(38,0)-packed (ts, event_id) ordering used by
    d1_compact_latest must pick exactly the lexicographic max row."""
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (eid, base + dt.timedelta(microseconds=us), u, "t", v)
            for (u, us, eid, v) in rows
        ],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double",
    )
    ordering = F.expr(
        "CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS DECIMAL(38,0))"
        " * CAST('18446744073709551616' AS DECIMAL(20,0))"
        " + CAST(event_id AS DECIMAL(38,0))"
        " + CAST('9223372036854775808' AS DECIMAL(19,0))"
    )
    got = {
        r["user_id"]: (r["ts"], r["eid"])
        for r in df.groupBy("user_id")
        .agg(
            F.max_by(F.struct(F.col("ts"), F.col("event_id").alias("eid")), ordering).alias("m")
        )
        .select("user_id", F.col("m.ts").alias("ts"), F.col("m.eid").alias("eid"))
        .collect()
    }
    import collections

    by_user = collections.defaultdict(list)
    for (u, us, eid, v) in rows:
        by_user[u].append((base + dt.timedelta(microseconds=us), eid))
    for u, pairs in by_user.items():
        assert got[u] == max(pairs), (u, pairs)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),          # user
            st.integers(min_value=0, max_value=10**9),       # ts offset us
            st.integers(min_value=0, max_value=10**6),       # event id
            st.one_of(st.none(), finite_price),              # nullable value
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**_SETTINGS)
def test_golden_record_survivorship_reference(spark, rows):
    """Per-field latest-non-null survivorship must match a brute-force
    Python reduction under arbitrary nulls, ts ties, and duplicates."""
    base = dt.datetime(2024, 1, 1)
    data = [
        (u, base + dt.timedelta(microseconds=off), eid, val)
        for u, off, eid, val in rows
    ]
    df = spark.createDataFrame(
        data, "user_id long, ts timestamp_ntz, event_id long, v double"
    )
    got = {
        r.user_id: (r.golden, r.n_nonnull)
        for r in df.groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    F.col("v").isNotNull(),
                    F.struct(F.col("ts"), F.col("event_id"), F.col("v")),
                )
            )["v"].alias("golden"),
            F.count("v").alias("n_nonnull"),
        )
        .collect()
    }
    # brute force: latest (ts, event_id) among non-null values
    want = {}
    for u, ts, eid, v in data:
        cnt = want.get(u, (None, 0))[1]
        best = want.get(u, (None, 0))[0]
        if v is not None:
            cnt += 1
            if best is None or (ts, eid) > best[:2]:
                best = (ts, eid, v)
        want[u] = (best, cnt)
    for u, (best, cnt) in want.items():
        assert got[u][1] == cnt
        assert got[u][0] == (best[2] if best else None)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),            # company
            st.integers(min_value=0, max_value=86_399_000_000),  # us in day
            finite_price,
            st.integers(min_value=0, max_value=10**6),        # trade id
        ),
        min_size=2,
        max_size=30,
        unique_by=lambda t: (t[0], t[1], t[3]),
    )
)
@settings(**_SETTINGS)
def test_twap_weights_sum_to_span(spark, rows):
    """b23's integer weighting: per (company, day) the kept weights must
    sum to last_tick - first_tick in ms exactly, for any tick layout."""
    base = dt.datetime(2024, 3, 1)
    data = [
        (f"C{c}", base + dt.timedelta(microseconds=us), p, 1, "buy", tid)
        for c, us, p, tid in rows
    ]
    df = spark.createDataFrame(
        data,
        "company_id string, ts timestamp_ntz, price double, volume long,"
        " side string, trade_id long",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("company_id").orderBy(
        F.col("ts").asc(), F.col("trade_id").asc()
    )
    seq = df.withColumn("nts", F.lead("ts").over(w))
    w_ms = F.expr(
        "CAST((unix_micros(CAST(nts AS TIMESTAMP))"
        " - unix_micros(CAST(ts AS TIMESTAMP))) div 1000 AS BIGINT)"
    )
    spans = (
        seq.filter(F.col("nts").isNotNull())
        .groupBy("company_id")
        .agg(F.sum(w_ms).alias("span_ms"))
        .collect()
    )
    by_c = {}
    for c, us, p, tid in rows:
        by_c.setdefault(c, []).append(us)
    for r in spans:
        us_list = sorted(by_c[int(r.company_id[1:])])
        # sum of floor'd per-gap ms, not floor of the total: the operator
        # truncates each gap independently
        want = sum((b - a) // 1000 for a, b in zip(us_list, us_list[1:]))
        assert r.span_ms == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-100, max_value=100),
            st.integers(min_value=0, max_value=10**6),
        ),
        min_size=1,
        max_size=60,
    ),
    nparts=st.sampled_from([1, 2, 5, 32]),
)
@example(rows=[], nparts=2)
@settings(**_SETTINGS)
def test_two_phase_global_rank_matches_single_sort(spark, rows, nparts):
    """functions/distributed_rank.with_global_row_number must be
    bit-identical to the single-partition row_number window under any
    total order, for any partition count — including duplicates in the
    primary sort key (the id column breaks ties), partition counts
    larger than the row count (empty range partitions) and an empty
    input (no partition offsets at all)."""
    from pyspark.sql.window import Window

    from bigdatainvesttink_spark.functions.distributed_rank import (
        with_global_row_number,
    )

    # unique id per row (tiebreak); v carries duplicates freely
    data = [(i, v) for i, (v, _) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, v long")
    order = [F.col("v").desc(), F.col("id").asc()]
    got = {
        (r["id"], r["rnk"])
        for r in with_global_row_number(
            df, order, out="rnk", num_partitions=nparts
        ).collect()
    }
    want = {
        (r["id"], r["rnk"])
        for r in df.withColumn(
            "rnk", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    assert got == want


@given(
    rows=st.lists(
        st.integers(min_value=0, max_value=10**6),
        min_size=1,
        max_size=60,
    ),
    nparts=st.sampled_from([1, 2, 5, 32]),
    inclusive=st.booleans(),
)
@settings(**_SETTINGS)
def test_two_phase_prefix_sum_matches_single_window(
    spark, rows, nparts, inclusive
):
    """functions/distributed_rank.with_global_prefix_sum must be
    bit-identical to the single-partition running-sum window, inclusive
    and exclusive, for any partition count (including empty range
    partitions). Order keys are unique (the helper's total-order
    contract)."""
    from pyspark.sql.window import Window

    from bigdatainvesttink_spark.functions.distributed_rank import (
        with_global_prefix_sum,
    )

    data = [(i, v) for i, v in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, v long")
    got = {
        (r["id"], r["cum"])
        for r in with_global_prefix_sum(
            df,
            [F.col("id").asc()],
            "v",
            out="cum",
            num_partitions=nparts,
            inclusive=inclusive,
        ).collect()
    }
    hi = Window.currentRow if inclusive else -1
    w = Window.orderBy(F.col("id").asc()).rowsBetween(
        Window.unboundedPreceding, hi
    )
    want = {
        (r["id"], r["cum"])
        for r in df.withColumn(
            "cum", F.coalesce(F.sum("v").over(w), F.lit(0)).cast("long")
        ).collect()
    }
    assert got == want
