"""The seeded dashboard mix."""

import bisect

import pytest

from perfbench import workloads


def test_same_seed_same_mix():
    assert workloads.dashboard_mix(11) == workloads.dashboard_mix(11)


def test_seeds_vary_the_order_not_the_queries():
    mixes = [workloads.dashboard_mix(s) for s in range(20)]
    assert len({tuple(m) for m in mixes}) == 20
    assert len({frozenset(m) for m in mixes}) == 1


def test_one_query_per_cost_stratum():
    pool = workloads.DASHBOARD_POOL
    size = workloads.DASHBOARD_MIX
    rank = {name: i for i, name in enumerate(pool)}
    starts = [i * len(pool) // size for i in range(size)]
    for seed in range(50):
        mix = workloads.dashboard_mix(seed)
        assert len(mix) == size
        strata = sorted(bisect.bisect_right(starts, rank[n]) - 1 for n in mix)
        assert strata == list(range(size))


def test_pool_has_no_duplicates_and_mix_checks_its_size():
    assert len(set(workloads.DASHBOARD_POOL)) == len(workloads.DASHBOARD_POOL)
    with pytest.raises(ValueError):
        workloads.dashboard_mix(0, pool=("a", "b"), size=3)
