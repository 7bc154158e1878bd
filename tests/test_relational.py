"""Relational-core operator tests: the driver-contract entry points, every
query built and run at sf0.001 with its plan scanned for anti-patterns,
targeted semantics on sf0.001, and a plan audit that the flagship's
filter/pruning reach the parquet scan. Every query's exact oracle diff runs
at sf0.01 in tests/test_nonempty.py."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL
from tools.scan_antipatterns import plan_flags


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"l_returnflag", "sum_qty", "count_order"} <= set(df.columns)


def test_queries_have_oracles(spark):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert qs, "no queries registered"
    missing = set(oracles) - set(qs)
    assert not missing, f"oracles without queries: {missing}"


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_runs_sf0001(spark, name):
    # sf0.001 is small enough to change plans and branches (15 companies
    # salt the stream-stream joins), so the plan scan runs here too
    spark.catalog.clearCache()
    df = entrymod.queries()[name](spark, SF_SMALL)
    flags = plan_flags(name, df)
    assert not flags, f"anti-pattern flags: {'; '.join(flags)}"
    assert df.count() >= 0


def test_flagship_plan_pushdown(spark):
    df = entrymod.queries()["q1_pricing_summary"](spark, SF_SMALL)
    text = df._jdf.queryExecution().toString()
    # filter pushed to scan + column pruning (no full-schema read)
    assert "PushedFilters" in text
    assert "l_shipdate" in text.split("PushedFilters", 1)[1][:500]
    read_schema = text.split("ReadSchema", 1)[1][:400]
    assert "l_comment" not in read_schema  # fixture has no l_comment, but:
    assert "l_orderkey" not in read_schema  # unused column must be pruned


def test_topk_deterministic(spark):
    qs = entrymod.queries()
    a = qs["rel_window_topk_per_group"](spark, SF_SMALL).collect()
    b = qs["rel_window_topk_per_group"](spark, SF_SMALL).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per_group = {}
    for r in a:
        per_group.setdefault(r["c_nationkey"], []).append(r["rnk"])
    for ranks in per_group.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
