"""The session factory's launch options: the local-mode JIT policy.

The builder tests swap ``SparkSession`` for a recorder, so they check
what ``get_spark`` hands the launcher without starting a JVM; the last
test checks the live test session's JVM.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from pydra_map_reduce_spark import session as S

_OPTS = "SPARK_SUBMIT_OPTS"


class _Builder:
    """Records what get_spark asks of ``SparkSession.builder``, and the
    ``SPARK_SUBMIT_OPTS`` a JVM launched by ``getOrCreate`` would see."""

    def __init__(self):
        self.conf = {}

    def master(self, url):
        self.conf["spark.master"] = url
        return self

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        self.conf[_OPTS] = os.environ.get(_OPTS)
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


@pytest.fixture
def launch(tmp_path, monkeypatch):
    """get_spark against a recorder, with no master given anywhere and
    ``defaults`` as spark-defaults.conf; returns the recorded confs."""
    for var in ("PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT", "MASTER", _OPTS):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))

    def run(defaults=""):
        (tmp_path / "spark-defaults.conf").write_text(defaults)
        builder = _Builder()
        monkeypatch.setattr(S, "SparkSession", SimpleNamespace(builder=builder))
        S.get_spark(cpus=2)
        return builder.conf

    return run


def test_local_launch_puts_policy_ahead_of_user_options(launch, monkeypatch):
    conf = launch()
    assert conf["spark.master"] == "local[2]"
    assert conf[_OPTS].split() == list(S._JIT_POLICY)
    assert _OPTS not in os.environ
    # the user's own options follow the policy, so theirs win; the
    # environment is restored once the JVM is up
    monkeypatch.setenv(_OPTS, "-Dx=1 -XX:Tier4BackEdgeThreshold=7")
    conf = launch()
    assert conf[_OPTS].split() == [*S._JIT_POLICY, "-Dx=1", "-XX:Tier4BackEdgeThreshold=7"]
    assert os.environ[_OPTS] == "-Dx=1 -XX:Tier4BackEdgeThreshold=7"
    # configured driver options are left to Spark, which appends them
    assert not any(k.startswith("spark.driver.") and "JavaOptions" in k for k in conf)


def test_master_given_launch_is_left_intact(launch, monkeypatch):
    monkeypatch.setenv(_OPTS, "-Dx=1")
    conf = launch("spark.master yarn\n")
    assert "spark.master" not in conf and conf[_OPTS] == "-Dx=1"
    monkeypatch.setenv("MASTER", "spark://h:7077")
    conf = launch()
    assert "spark.master" not in conf and conf[_OPTS] == "-Dx=1"
    monkeypatch.delenv("MASTER")
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--master yarn pyspark-shell")
    conf = launch()
    assert "spark.master" not in conf and conf[_OPTS] == "-Dx=1"


def test_live_session_jvm_runs_the_policy(spark):
    if not spark.sparkContext.master.startswith("local"):
        pytest.skip("the JIT policy applies to local-mode launches only")
    jvm = spark.sparkContext._jvm
    args = list(
        jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )
    assert [a for a in args if a.startswith("-XX:Tier4")][:4] == list(S._JIT_POLICY)
