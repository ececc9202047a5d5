"""The session factory's launch options: the local-mode JIT policy and
collector.

The builder tests swap ``SparkSession`` for a recorder, so they check
what ``get_spark`` hands the launcher without starting a JVM; the last
two tests check the live test session's JVM and one launch with a
collector of the user's.
"""

from __future__ import annotations

import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

from pydra_map_reduce_spark import session as S

_OPTS = "SPARK_SUBMIT_OPTS"
_POLICY = [*S._JIT_POLICY, S._SERIAL_GC]


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
    for var in ("PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT", "MASTER", *S._JAVA_OPTION_VARS):
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
    assert conf[_OPTS].split() == _POLICY
    assert _OPTS not in os.environ
    # the user's own options follow the policy, so theirs win; the
    # environment is restored once the JVM is up
    monkeypatch.setenv(_OPTS, "-Dx=1 -XX:Tier4BackEdgeThreshold=7")
    conf = launch()
    assert conf[_OPTS].split() == [*_POLICY, "-Dx=1", "-XX:Tier4BackEdgeThreshold=7"]
    assert os.environ[_OPTS] == "-Dx=1 -XX:Tier4BackEdgeThreshold=7"
    # configured driver options are left to Spark, which appends them
    assert not any(k.startswith("spark.driver.") and "JavaOptions" in k for k in conf)


@pytest.mark.parametrize(
    "source, text, named",
    [
        (_OPTS, "-Dx=1 -XX:+UseParallelGC", True),
        ("JAVA_TOOL_OPTIONS", "-XX:+UseZGC", True),
        ("JDK_JAVA_OPTIONS", "-XX:+UseShenandoahGC", True),
        ("_JAVA_OPTIONS", "-XX:+UseG1GC", True),
        ("PYSPARK_SUBMIT_ARGS", "--driver-java-options -XX:+UseParallelGC pyspark-shell", True),
        ("--properties-file", "spark.driver.extraJavaOptions -XX:+UseG1GC\n", True),
        ("spark-defaults.conf", "spark.driver.defaultJavaOptions -XX:+UseZGC\n", True),
        ("spark-env.sh", 'SPARK_SUBMIT_OPTS="-XX:-UseG1GC -XX:+UseParallelGC"\n', True),
        (None, None, False),
        ("JAVA_TOOL_OPTIONS", "-XX:-UsePerfData -XX:+UseStringDeduplication", False),
    ],
    ids=[
        "submit-opts", "java-tool-options", "jdk-java-options", "_java-options", "submit-args",
        "properties-file", "spark-defaults", "spark-env", "none", "other-flags",
    ],
)
def test_local_launch_leaves_a_named_collector_alone(
    launch, monkeypatch, tmp_path, source, text, named
):
    """A second collector flag stops the JVM, so the policy's goes only
    when no source of the launch names one; the tier-4 flags always go."""
    defaults = ""
    if source == "--properties-file":
        (tmp_path / "props.conf").write_text(text)
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", f"--properties-file {tmp_path}/props.conf pyspark-shell")
    elif source == "spark-defaults.conf":
        defaults = text
    elif source == "spark-env.sh":
        (tmp_path / "spark-env.sh").write_text(text)
    elif source is not None:
        monkeypatch.setenv(source, text)
    conf = launch(defaults)
    assert conf["spark.master"] == "local[2]"
    opts = conf[_OPTS].split()
    assert opts[:4] == list(S._JIT_POLICY)
    assert (S._SERIAL_GC in opts) is not named
    if source == _OPTS:
        assert opts[4:] == text.split()


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
    collectors = {
        b.getName() for b in jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    }
    if not S._collector_named():  # a collector of the user's runs as chosen
        assert collectors == {"Copy", "MarkSweepCompact"}


def test_launch_with_users_collector_starts_and_keeps_it(tmp_path):
    """One JVM start: without the guard, -XX:+UseParallelGC next to the
    policy's collector stops the JVM ("Multiple garbage collectors")."""
    code = (
        "from pydra_map_reduce_spark.session import get_spark\n"
        "s = get_spark(app_name='collector-probe', cpus=1)\n"
        "assert s.range(10).count() == 10\n"
        "mf = s.sparkContext._jvm.java.lang.management.ManagementFactory\n"
        "print('|'.join(b.getName() for b in mf.getGarbageCollectorMXBeans()))\n"
        "s.stop()\n"
    )
    unset = ("PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT", "MASTER", *S._JAVA_OPTION_VARS)
    env = {k: v for k, v in os.environ.items() if k not in unset}
    env.update(SPARK_SUBMIT_OPTS="-XX:+UseParallelGC", SPARK_CONF_DIR=str(tmp_path))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert set(out.stdout.strip().splitlines()[-1].split("|")) == {"PS Scavenge", "PS MarkSweep"}
