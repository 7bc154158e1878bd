"""One exact check per registered query.

``test_query_nonempty_sf001`` builds each query once at sf0.01 and that one
frame goes through every per-query gate:

1. the anti-pattern scan of its plan (``tools/scan_antipatterns.plan_flags``),
   before anything executes it;
2. the exact DuckDB oracle diff (``tools/check_oracle.compare``: schema, row
   count and order-insensitive values), plus a non-empty oracle result, since
   an empty-vs-empty diff passes silently (how tpch_q10's original 1993 date
   filter slipped through); with the diff passed, Spark's result is non-empty
   too;
3. the hash-fatal dtype check against the same oracle SQL
   (``tools/check_dtypes.dtype_issues``).

The salted stream-stream joins get the same check at sf0.001, and
``compare``, the gate every case rests on, has its own reports pinned on
tiny frames at the bottom of this file.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL
from tools.check_dtypes import dtype_issues
from tools.check_oracle import compare, duck_con
from tools.scan_antipatterns import plan_flags

SF = "/root/testdata/sf0.01"

# Approximate aggregates have no exact oracle; they are only checked
# non-empty.
ROWS_ONLY = {"rel_approx_aggs"}

# sf0.001 has 15 companies, so these stream-stream joins salt their join key
# 8 ways; the 50 companies of sf0.01 and sf0.1 leave salting off. Only the
# sf0.001 cases run the salted branch against the oracle.
SALTED_STREAM_JOINS = ["c_stream_stream_interval_join", "c_stream_interval_join_capped"]


def _check(spark, name, sf_dir):
    spark.catalog.clearCache()
    df = entrymod.queries()[name](spark, sf_dir)
    flags = plan_flags(name, df)
    assert not flags, f"anti-pattern flags: {'; '.join(flags)}"
    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        assert name in ROWS_ONLY, f"{name} has no oracle"
        assert df.limit(1).count() == 1, f"{name} returned no rows"
        return
    with duck_con(sf_dir) as con:
        problems = compare(name, df, con, sql)
        assert not problems, "\n".join(problems)
        # compare passed, so Spark returned as many rows as the oracle
        assert con.execute(f"SELECT 1 FROM ({sql}) q LIMIT 1").fetchone(), (
            f"{name}: oracle returned no rows"
        )
        _, fatal = dtype_issues(df, con, sql)
    assert not fatal, f"hash-fatal dtype mismatches: {'; '.join(fatal)}"


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_nonempty_sf001(spark, name):
    _check(spark, name, SF)


@pytest.mark.parametrize("name", SALTED_STREAM_JOINS)
def test_salted_stream_join_sf0001(spark, name):
    from bigdatainvesttink_spark.fixtures import domain_table
    from bigdatainvesttink_spark.streaming.pipeline import _stream_join_salt

    n_keys = domain_table(spark, SF_SMALL, "companies").count()
    assert _stream_join_salt(n_keys) > 1, "sf0.001 no longer salts the join"
    _check(spark, name, SF_SMALL)


@pytest.mark.parametrize(
    "rows, schema, sql, problem",
    [
        ([(1, "a")], "k long, v string", "SELECT 1 AS k, 'a' AS v", None),
        ([(1, "a")], "k long, v string", "SELECT 1 AS k, 'a' AS w", "schema:"),
        (
            [(1, "a"), (1, "a")],
            "k long, v string",
            "SELECT 1 AS k, 'a' AS v",
            "rowcount:",
        ),
        (
            [(1, "a"), (2, "b")],
            "k long, v string",
            "SELECT * FROM (VALUES (1, 'a'), (2, 'c')) t(k, v)",
            "values: 1/2",
        ),
        ([(0.1 + 0.2,)], "x double", "SELECT 0.3::DOUBLE AS x", "values: 1/1"),
    ],
    ids=["exact", "schema", "rowcount", "one_value", "float_last_digit"],
)
def test_compare_reports(spark, rows, schema, sql, problem):
    with duckdb.connect() as con:
        got = compare("t", spark.createDataFrame(rows, schema), con, sql)
    if problem is None:
        assert got == []
    else:
        assert any(p.startswith(problem) for p in got), got
