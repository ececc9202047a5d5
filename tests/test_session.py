"""The session factory's launch options: the local-mode JIT policy,
collector and class-data archive.

The builder tests swap ``SparkSession`` for a recorder, so they check
what ``get_spark`` hands the launcher without starting a JVM; the last
three tests check the live test session's JVM, one launch with a
collector of the user's, and the archive's dump and use by real launches.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

from pydra_map_reduce_spark import session as S

_OPTS = "SPARK_SUBMIT_OPTS"
_CONF = "SPARK_CONF_DIR"
_POLICY = [*S._JIT_POLICY, S._SERIAL_GC]
# what a local launch adds while the archive is missing (the fixture's cache is empty)
_DUMPING = [*_POLICY, *S._RECORD_CDS]


class _Builder:
    """Records what get_spark asks of ``SparkSession.builder``, and the
    ``SPARK_SUBMIT_OPTS`` and ``SPARK_CONF_DIR`` a JVM launched by
    ``getOrCreate`` would see."""

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
        self.conf[_CONF] = os.environ.get(_CONF)
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


@pytest.fixture
def launch(tmp_path, monkeypatch):
    """get_spark against a recorder, with no master given anywhere,
    ``tmp_path/conf`` as the conf directory (``defaults`` its
    spark-defaults.conf, none if empty) and ``tmp_path`` as the cache
    home; returns the recorded confs, and under "dump" the archive that
    a dump would write."""
    for var in (
        "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT", "MASTER", "SPARK_DIST_CLASSPATH",
        *S._JAVA_OPTION_VARS,
    ):
        monkeypatch.delenv(var, raising=False)
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    monkeypatch.setenv(_CONF, str(conf_dir))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))

    def run(defaults=""):
        (conf_dir / "spark-defaults.conf").unlink(missing_ok=True)
        if defaults:
            (conf_dir / "spark-defaults.conf").write_text(defaults)
        builder = _Builder()
        monkeypatch.setattr(S, "SparkSession", SimpleNamespace(builder=builder))
        monkeypatch.setattr(S, "_dump_class_archive", lambda _, path: builder.conf.update(dump=path))
        S.get_spark(cpus=2)
        return builder.conf

    return run


def test_local_launch_puts_policy_ahead_of_user_options(launch, monkeypatch):
    conf = launch()
    assert conf["spark.master"] == "local[2]"
    assert conf[_OPTS].split() == _DUMPING
    assert _OPTS not in os.environ
    # the user's own options follow the policy, so theirs win; the
    # environment is restored once the JVM is up
    monkeypatch.setenv(_OPTS, "-Dx=1 -XX:Tier4BackEdgeThreshold=7")
    conf = launch()
    assert conf[_OPTS].split() == [*_DUMPING, "-Dx=1", "-XX:Tier4BackEdgeThreshold=7"]
    assert os.environ[_OPTS] == "-Dx=1 -XX:Tier4BackEdgeThreshold=7"
    # configured driver options are left to Spark, which appends them
    assert not any(k.startswith("spark.driver.") and "JavaOptions" in k for k in conf)


def _write_source(monkeypatch, tmp_path, source, text):
    """Put ``text`` in the launch source ``source`` (None: nowhere);
    returns the spark-defaults.conf text for ``launch``."""
    if source == "--properties-file":
        (tmp_path / "props.conf").write_text(text)
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", f"--properties-file {tmp_path}/props.conf pyspark-shell")
    elif source == "spark-defaults.conf":
        return text
    elif source == "spark-env.sh":
        (tmp_path / "conf" / "spark-env.sh").write_text(text)
    elif source is not None:
        monkeypatch.setenv(source, text)
    return ""


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
    conf = launch(_write_source(monkeypatch, tmp_path, source, text))
    assert conf["spark.master"] == "local[2]"
    opts = conf[_OPTS].split()
    assert opts[:4] == list(S._JIT_POLICY)
    assert (S._SERIAL_GC in opts) is not named
    if source == _OPTS:
        assert opts == [*S._JIT_POLICY, *S._RECORD_CDS, *text.split()]


def test_master_given_launch_is_left_intact(launch, monkeypatch, tmp_path):
    monkeypatch.setenv(_OPTS, "-Dx=1")
    untouched = {_OPTS: "-Dx=1", _CONF: str(tmp_path / "conf")}
    conf = launch("spark.master yarn\n")
    assert "spark.master" not in conf and conf.items() >= untouched.items()
    monkeypatch.setenv("MASTER", "spark://h:7077")
    conf = launch()
    assert "spark.master" not in conf and conf.items() >= untouched.items()
    monkeypatch.delenv("MASTER")
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--master yarn pyspark-shell")
    conf = launch()
    assert "spark.master" not in conf and conf.items() >= untouched.items()
    assert "dump" not in conf
    assert not (tmp_path / "pydra_map_reduce_spark").exists()


def test_local_launch_without_archive_records_and_dumps(launch, tmp_path):
    """Spark's stock templates in the conf directory are no bar: the
    launch runs with the engine's empty conf directory, which the JVM
    accepts on the class path, and the environment is restored after."""
    (tmp_path / "conf" / "spark-defaults.conf.template").write_text("# spark.master yarn\n")
    conf = launch()
    assert conf[_OPTS].split() == _DUMPING
    cache = tmp_path / "pydra_map_reduce_spark"
    assert conf[_CONF] == str(cache / "conf") and not os.listdir(cache / "conf")
    assert os.environ[_CONF] == str(tmp_path / "conf")
    assert os.path.dirname(conf["dump"]) == str(cache) and conf["dump"].endswith(".jsa")


def test_local_launch_maps_an_existing_archive(launch, tmp_path):
    archive = launch()["dump"]
    open(archive, "wb").close()
    conf = launch()
    assert conf[_OPTS].split() == [*_POLICY, f"-XX:SharedArchiveFile={archive}"]
    assert conf[_CONF] == str(tmp_path / "pydra_map_reduce_spark" / "conf")
    assert "dump" not in conf


@pytest.mark.parametrize(
    "source, text",
    [
        ("SPARK_DIST_CLASSPATH", "/x/extra.jar"),
        ("PYSPARK_SUBMIT_ARGS", "--driver-class-path /x/extra.jar pyspark-shell"),
        ("--properties-file", "spark.driver.extraClassPath /x/extra.jar\n"),
    ],
    ids=["dist-classpath", "driver-class-path", "extra-class-path"],
)
def test_class_path_addition_gets_its_own_archive(launch, monkeypatch, tmp_path, source, text):
    """The JVM refuses an archive dumped with another class path, so a
    launch that adds to it dumps and maps an archive of its own."""
    plain = launch()["dump"]
    conf = launch(_write_source(monkeypatch, tmp_path, source, text))
    assert conf["dump"] != plain
    assert conf[_OPTS].split() == _DUMPING


def test_real_conf_file_keeps_conf_dir_and_no_archive(launch, tmp_path):
    """The JVM will not dump or map an archive with a non-empty
    directory on the class path, and a real conf file must be read."""
    conf = launch("spark.sql.shuffle.partitions 3\n")
    assert conf[_OPTS].split() == _POLICY
    assert conf[_CONF] == str(tmp_path / "conf") and "dump" not in conf


def test_unwritable_cache_gets_no_archive(launch, monkeypatch, tmp_path):
    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))  # no directory can go under it
    conf = launch()
    assert conf[_OPTS].split() == _POLICY
    assert conf[_CONF] == str(tmp_path / "conf") and "dump" not in conf


@pytest.mark.parametrize(
    "source, text",
    [
        (_OPTS, "-Xshare:off"),
        ("JAVA_TOOL_OPTIONS", "-XX:SharedArchiveFile=/x/app.jsa"),
        ("JDK_JAVA_OPTIONS", "-XX:ArchiveClassesAtExit=/x/app.jsa"),
        ("_JAVA_OPTIONS", "-XX:+RecordDynamicDumpInfo"),
        ("PYSPARK_SUBMIT_ARGS", "--driver-java-options -XX:DumpLoadedClassList=/x/c.lst pyspark-shell"),
        ("--properties-file", "spark.driver.extraJavaOptions -XX:SharedClassListFile=/x/c.lst\n"),
        ("spark-defaults.conf", "spark.driver.defaultJavaOptions -XX:-UseSharedSpaces\n"),
        ("spark-env.sh", 'SPARK_SUBMIT_OPTS="-Xshare:auto"\n'),
    ],
    ids=[
        "submit-opts", "java-tool-options", "jdk-java-options", "_java-options", "submit-args",
        "properties-file", "spark-defaults", "spark-env",
    ],
)
def test_local_launch_leaves_a_named_cds_option_alone(launch, monkeypatch, tmp_path, source, text):
    """A user's sharing setup runs as given: -Xshare:off next to the
    dumping flag would stop the JVM. The rest of the policy stays."""
    conf = launch(_write_source(monkeypatch, tmp_path, source, text))
    opts = conf[_OPTS].split()
    assert opts[:5] == _POLICY
    assert opts[5:] == (text.split() if source == _OPTS else [])
    assert conf[_CONF] == str(tmp_path / "conf") and "dump" not in conf


def test_failed_dump_leaves_nothing_behind(tmp_path):
    """A dump that fails part-way removes its temp file, writes no
    archive, keeps the older archives and returns with a warning."""
    archive, old = tmp_path / "new.jsa", tmp_path / "old.jsa"
    old.write_text("")
    tmp = tmp_path / f"new.jsa.{os.getpid()}.tmp"

    def fail(*_, **__):
        tmp.write_text("part of an archive")
        raise RuntimeError("dump refused")

    args = SimpleNamespace(getInputArguments=lambda: [S._RECORD_CDS[0]])
    mf = SimpleNamespace(getRuntimeMXBean=lambda: args)
    jvm = SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(
        management=SimpleNamespace(ManagementFactory=mf)
    )))
    spark = SimpleNamespace(sparkContext=SimpleNamespace(_jvm=jvm, _gateway=None), range=fail)
    with pytest.warns(UserWarning, match="dump refused"):
        S._dump_class_archive(spark, str(archive))
    assert sorted(p.name for p in tmp_path.iterdir()) == ["old.jsa"]


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
    if not S._NAMES_COLLECTOR.search(S._launch_text()):  # a collector of the user's runs as chosen
        assert collectors == {"Copy", "MarkSweepCompact"}


def _probe(tmp_path, code, opts=None, *args):
    """Run ``code`` with ``args`` in a fresh Python with no master given,
    ``tmp_path/conf`` as the conf directory, ``tmp_path`` as the cache
    home and ``opts`` as SPARK_SUBMIT_OPTS; its last line of output."""
    unset = ("PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT", "MASTER", *S._JAVA_OPTION_VARS)
    env = {k: v for k, v in os.environ.items() if k not in unset}
    (tmp_path / "conf").mkdir(exist_ok=True)
    env.update(SPARK_CONF_DIR=str(tmp_path / "conf"), XDG_CACHE_HOME=str(tmp_path))
    if opts:
        env[_OPTS] = opts
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code, *args],
        cwd=root, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout.strip().splitlines()[-1]


@pytest.fixture
def probe_home(tmp_path):
    """``tmp_path`` for ``_probe``. The archives its launches dump (about
    100 MB each) go once the test ends: pytest keeps the temp
    directories of the last three runs."""
    yield tmp_path
    shutil.rmtree(tmp_path / "pydra_map_reduce_spark", ignore_errors=True)


def test_launch_with_users_collector_starts_and_keeps_it(probe_home):
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
    out = _probe(probe_home, code, "-XX:+UseParallelGC")
    assert set(out.split("|")) == {"PS Scavenge", "PS MarkSweep"}


def test_class_archive_is_dumped_once_then_mapped(probe_home):
    """Three JVM starts: the first dumps the archive, the second maps it
    (the archive's path is in the JVM's memory map), and a third with
    the user's -Xshare:off starts, with nothing mapped."""
    code = (
        "import sys\n"
        "from pydra_map_reduce_spark.session import get_spark\n"
        "s = get_spark(app_name='cds-probe', cpus=1)\n"
        "assert s.range(10).count() == 10\n"
        "pid = s.sparkContext._jvm.java.lang.ProcessHandle.current().pid()\n"
        "with open(f'/proc/{pid}/maps') as f:\n"
        "    print(sum(sys.argv[1] in line for line in f))\n"
        "s.stop()\n"
    )
    cache = probe_home / "pydra_map_reduce_spark"
    _probe(probe_home, code, None, str(cache / "none.jsa"))
    (archive,) = cache.glob("*.jsa")
    assert sorted(p.name for p in cache.iterdir()) == [archive.name, "conf"]  # no temp file
    assert int(_probe(probe_home, code, None, str(archive))) >= 1
    assert int(_probe(probe_home, code, "-Xshare:off", str(archive))) == 0
