"""Session set-up: correctness confs fail loud, tuning confs stay tolerant,
and the default driver heap fits the host."""

from __future__ import annotations

import pytest

from bigdatainvesttink_spark import session


class _Conf:
    """A runtime conf that rejects the keys in ``refuse`` and silently keeps
    its old value for the keys in ``ignore``."""

    def __init__(self, refuse=(), ignore=()):
        self.values, self.refuse, self.ignore = {}, set(refuse), set(ignore)

    def set(self, key, value):
        if key in self.refuse:
            raise RuntimeError(f"Cannot modify the value of a Spark config: {key}")
        if key not in self.ignore:
            self.values[key] = value

    def get(self, key):
        return self.values.get(key, "<default>")


class _Session:
    def __init__(self, conf):
        self.conf = conf


@pytest.mark.parametrize(
    "conf",
    [
        _Conf(refuse=["spark.sql.legacy.parquet.nanosAsLong"]),
        _Conf(ignore=["spark.sql.session.timeZone"]),
    ],
    ids=["set_raises", "value_does_not_hold"],
)
def test_configure_fails_loud_on_correctness_conf(conf):
    with pytest.raises(RuntimeError, match="correctness conf"):
        session.configure(_Session(conf))


def test_configure_tolerates_tuning_confs(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    conf = _Conf(refuse=["spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"])
    session.configure(_Session(conf))
    assert conf.values["spark.sql.session.timeZone"] == "UTC"
    assert conf.values["spark.sql.legacy.parquet.nanosAsLong"] == "true"
    assert conf.values["spark.sql.adaptive.skewJoin.enabled"] == "true"


@pytest.mark.parametrize(
    "phys_gib, env, want",
    [(16, None, "8192m"), (256, None, "49152m"), (16, "2g", "2g")],
    ids=["half_of_ram", "capped_at_48g", "env_override"],
)
def test_driver_memory(monkeypatch, phys_gib, env, want):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_gib * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    if env is None:
        monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    else:
        monkeypatch.setenv("SPARK_DRIVER_MEM", env)
    assert session.driver_memory() == want
