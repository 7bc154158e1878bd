"""Session set-up: correctness confs fail loud, tuning confs stay tolerant
but logged, Python workers find the package, and the default driver heap
fits the host."""

from __future__ import annotations

import logging
import os
import subprocess
import sys

import pytest

from bigdatainvesttink_spark import session
from tests.conftest import SF_SMALL


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


class _Context:
    def __init__(self, environment):
        self.environment = environment


class _Session:
    def __init__(self, conf, environment=None):
        self.conf = conf
        self.sparkContext = _Context({} if environment is None else environment)


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


def test_configure_tolerates_tuning_confs(monkeypatch, caplog):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    refused = ["spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"]
    conf = _Conf(refuse=refused)
    with caplog.at_level(logging.WARNING, logger="bigdatainvesttink_spark"):
        session.configure(_Session(conf))
    assert conf.values["spark.sql.session.timeZone"] == "UTC"
    assert conf.values["spark.sql.legacy.parquet.nanosAsLong"] == "true"
    assert conf.values["spark.sql.adaptive.skewJoin.enabled"] == "true"
    logged = [r for r in caplog.records if r.name == "bigdatainvesttink_spark"]
    assert len(logged) == len(refused)
    for key, record in zip(refused, logged):
        assert key in record.getMessage()


def test_configure_gives_workers_the_package_root():
    env = {"PYTHONPATH": "/elsewhere"}
    stub = _Session(_Conf(), env)
    session.configure(stub)
    session.configure(stub)  # idempotent
    assert env["PYTHONPATH"].split(os.pathsep) == ["/elsewhere", session._PACKAGE_ROOT]


def test_workers_import_package_outside_repo(tmp_path):
    """A UDF-backed query runs from a working directory that is not the
    repo, with no PYTHONPATH: the workers find the package through the
    session, not through the caller's environment."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {session._PACKAGE_ROOT!r})\n"
        "from bigdatainvesttink_spark.registry import all_queries\n"
        "from bigdatainvesttink_spark.session import get_spark\n"
        "spark = get_spark('worker-import')\n"
        "q = all_queries()['dmm_modality_stats']\n"
        f"print('rows', q(spark, {SF_SMALL!r}).count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert int(done.stdout.split("rows")[-1]) > 0


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
