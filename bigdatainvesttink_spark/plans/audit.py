"""Physical-plan audit helpers: the scale contract, machine-checked.

Correctness says what a query returns; these helpers pin down HOW Spark
executes it — filter/column pushdown into the parquet scan, broadcast vs
shuffle join strategy, partition pruning, top-k via TakeOrderedAndProject,
shuffle counts. tests/test_plans.py asserts the properties that must
survive a 100x scale-up; a regression here is a performance bug even when
every value still matches the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _unwrap(df: DataFrame) -> DataFrame:
    """Follow a query's pre-materialization plan when it exposes one.

    Queries that materialize a bounded (1-row) result eagerly — so they
    can unpersist their pinned intermediates before returning — attach
    the lazy computation as ``_lazy_plan`` on the returned literal frame.
    Auditing the LocalTableScan literal would make their plan gates
    vacuous; this keeps every audit looking at the real plan.
    """
    return getattr(df, "_lazy_plan", df)


def plan_text(df: DataFrame) -> str:
    """Full query-execution dump (logical + physical, incl. scan details)."""
    return _unwrap(df)._jdf.queryExecution().toString()


def executed_plan(df: DataFrame) -> str:
    """Final physical plan (post-AQE if already executed)."""
    return _unwrap(df)._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section(s) of the parquet scans."""
    text = plan_text(df)
    return "\n".join(
        line.strip() for line in text.splitlines() if "PushedFilters" in line
    )


def read_schemas(df: DataFrame) -> str:
    text = plan_text(df)
    return "\n".join(
        line.strip() for line in text.splitlines() if "ReadSchema" in line
    )


def shuffle_count(df: DataFrame) -> int:
    """Number of exchange (shuffle) operators in the physical plan."""
    text = plan_text(df)
    physical = text.split("== Physical Plan ==")[-1]
    return sum(
        line.count("Exchange hashpartitioning")
        + line.count("Exchange rangepartitioning")
        for line in physical.splitlines()
        if "BroadcastExchange" not in line
    )


def _n_single_partition_window_sorts(lines: list[str]) -> int:
    """Count Exchange SinglePartition nodes feeding a Sort/Window.

    The scale anti-pattern VERDICT r4 flagged: a global
    ``row_number().over(Window.orderBy(...))`` (or any unpartitioned
    window) plans as Exchange SinglePartition + full sort — one task
    sorts the entire input, which is fatal when the input is data-sized.
    Plan text is a tree with the consumer printed ABOVE the exchange, so
    we look a few lines up for a Sort/Window node. Inputs that are
    bounded BY CONSTRUCTION — the exchange reads a TakeOrderedAndProject
    or GlobalLimit (a k-row top already reduced distributedly) — are not
    counted; genuinely-bounded GRID inputs (calendar days, vocab,
    partition-count offset tables) can't be told apart from data-sized
    ones in plan text, so those queries carry a justified name allowlist
    in tools/scan_antipatterns.py instead.
    """
    n = 0
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        above = lines[max(0, i - 3): i]
        if not any("Sort [" in a or "Window [" in a for a in above):
            continue
        below = lines[i + 1: i + 7]
        if any(
            "TakeOrderedAndProject" in b or "GlobalLimit" in b
            or "CollectLimit" in b
            for b in below
        ):
            continue
        n += 1
    return n


def audit_report(df: DataFrame) -> dict:
    """One-call structured summary of a plan's scale-relevant properties.

    The programmatic face of this module: everything the individual
    helpers expose, in one dict a notebook/CI gate can assert on or log —
    shuffle and join strategy counts, scan count, pushed filters,
    whole-stage-codegen coverage, and the red flags (cartesian products,
    row-at-a-time Python evals) that should never appear in this repo's
    plans.
    """
    import re

    text = plan_text(df)
    physical = text.split("== Physical Plan ==")[-1]
    if "isFinalPlan=true" in executed_plan(df):
        # AQE-final operators after a run; the dump appends the initial
        # plan below a marker — audit only the final tree
        physical = executed_plan(df).split("+- == Initial Plan ==")[0]
    lines = physical.splitlines()
    # codegen spans print as "*(n)" stage markers in the plan dump
    codegen_ids = set(re.findall(r"\*\((\d+)\)", physical))
    n_shuffles = sum(
        line.count("Exchange hashpartitioning")
        + line.count("Exchange rangepartitioning")
        for line in lines
        if "BroadcastExchange" not in line
    )
    return {
        "n_shuffles": n_shuffles,
        "n_broadcast_joins": physical.count("BroadcastHashJoin"),
        "n_sort_merge_joins": physical.count("SortMergeJoin"),
        "n_bnl_joins": physical.count("BroadcastNestedLoopJoin"),
        "has_cartesian": "CartesianProduct" in physical,
        "has_python_row_udf": "BatchEvalPython" in physical,
        "n_arrow_evals": physical.count("ArrowEvalPython")
        + physical.count("MapInPandas"),
        "n_scans": sum(line.count("FileScan") for line in lines),
        # "*(n)" ids and "WholeStageCodegen (n)" name the same spans in
        # dumps that carry both notations — count the literal form only
        # when no "*(n)" markers exist (ADVICE r3: double-count otherwise)
        "n_codegen_spans": len(codegen_ids)
        or physical.count("WholeStageCodegen"),
        "n_single_partition_windows": _n_single_partition_window_sorts(
            lines
        ),
        "top_k_pushed": "TakeOrderedAndProject" in physical,
        "pushed_filters": [
            line.strip() for line in text.splitlines()
            if "PushedFilters: [" in line and "PushedFilters: []" not in line
        ],
    }
