"""SparkSession factory.

Local mode is a correctness/dev harness; configs are chosen so the same
logical plans scale to a multi-executor cluster:

- AQE on (runtime re-plan, partition coalescing, skew-join splitting) —
  at 100 TB the static plan is always wrong somewhere.
- shuffle.partitions sized to cores locally; on a real cluster AQE's
  coalescing makes the initial number much less sensitive.
- Arrow enabled for every Python<->JVM hop (pandas UDFs, toPandas).
- Session timezone pinned to UTC so event-time semantics are identical
  to the DuckDB oracle and to any other engine reading the same parquet.
- JIT policy, local mode only: when this factory launches the JVM
  itself, that one JVM is driver and executor for a short session. On a
  4-core VM, HotSpot's C2 CompilerThreads spent 10-12 of the JVM's
  25-28 CPU-s in a cold ``llm_corpus`` benchmark pass (``perfbench/``),
  compiling the long tail of Catalyst, Scala-collection and
  class-loading code that runs only a few thousand times.
  ``_JIT_POLICY`` raises the tier-4 thresholds 10x, so C2 compiles only
  truly hot code (whole-stage-codegen loops, parquet decode, hash
  aggregation) and C1 keeps the rest: C2 time fell to 3.5 CPU-s and
  the pass's CPU by a quarter. Switching C2 off (``TieredStopAtLevel=1``)
  cut the cold pass further but raised warm relational passes from 4-5
  to 6.2 CPU-s, so C2 stays for the hot loops. The flags go first in
  ``SPARK_SUBMIT_OPTS``, which Spark's launcher puts on the driver
  command before ``spark.driver.defaultJavaOptions`` and
  ``spark.driver.extraJavaOptions``. HotSpot keeps the last value of a
  flag, so ``-XX:Tier4*`` flags configured anywhere else override the
  policy. Cluster deployments (a master given elsewhere) and executor
  JVMs keep HotSpot's default policy.
- Collector, local mode only: the same launch adds ``-XX:+UseSerialGC``
  (``_SERIAL_GC``). HotSpot picks G1 on any host with two or more CPUs
  and about 2 GB of memory, and G1 grew the one local JVM's heap toward
  the whole 1 GB default although the ``relational_x10`` benchmark
  keeps 95-129 MB live after a full GC. The serial collector compacts
  the whole heap and grows it only when a collection leaves less than
  40 % free: there the heap stayed at 243-316 MB committed and the
  JVM's peak RSS fell from 995-1207 to 713-763 MB (4-core VM, 10 runs
  each), with no more CPU per pass. It has no humongous regions, the
  G1 allocation class that a broken-up 1 GB heap could not place
  (``link_prediction_capped``'s 128 MB broadcast). The cost is wall
  time in long sessions: it collects in one thread, so a 178-query
  ``bench.py`` session, whose caches held up to 587 MB live, paused
  40-41 s against G1's 18-21 s and ran 6-21 % longer. Unlike a tier-4 flag, a
  second collector flag is not overridden but fatal ("Multiple garbage
  collectors selected"), so when any source this launch reads names a
  collector (``_NAMES_COLLECTOR`` over ``_launch_text``) the flag is
  left out and the user's collector runs. The tier-4 flags stay.
- Class-data archive, local mode only: the same launch maps a dynamic
  CDS archive of the classes a session loads. Without one the JVM reads
  about 12 k classes again from Spark's 287 jars at each start, and a
  third of its samples were jar lookups; with one ``setup_s`` fell by
  about a third on both benchmark workloads. The archive is
  ``$XDG_CACHE_HOME/pydra_map_reduce_spark/<key>.jsa`` (``~/.cache``
  by default), keyed by the java that spark-class runs, the jars
  directory (each jar's name, size and mtime), the driver heap and any
  class-path additions (``SPARK_DIST_CLASSPATH``,
  ``--driver-class-path``, ``spark.driver.extraClassPath``), since the
  JVM refuses an archive dumped with another class path
  (``_class_archive``). JDK 17 will neither dump nor map an archive
  with a non-empty directory on the class path, and Spark puts the
  conf directory first on it. So the launch runs with
  ``SPARK_CONF_DIR`` set to an empty directory of the engine's, and
  only when the real one is missing or holds nothing but Spark's
  ``*.template`` files, which Spark never reads. When the archive is
  missing, the launch records what a dump needs, and once the session
  is up and has run one small shuffle job the live JVM dumps its
  classes (``_dump_class_archive``): about 100 MB, once per key. The
  job and the dump added 15-44 s to that one launch on a 4-core VM.
  When a source of this launch names a CDS option (``_NAMES_CDS``:
  ``-Xshare:off`` next to the dumping flag stops the JVM), the conf
  directory holds a real file, or the cache directory cannot be
  written, the launch gets no archive.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import re
import shutil
import warnings

import pyspark
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# HotSpot's four tier-4 (C2) compile thresholds, 10x the JDK 17
# defaults (5000 / 600 / 15000 / 40000). See the module docstring.
_JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
)
# the one local JVM's collector (module docstring)
_SERIAL_GC = "-XX:+UseSerialGC"
# -XX:+UseG1GC, -XX:-UseParallelGC, ... A text match, so it also hits
# comments and a few non-collector flags (UseMaximumCompactionOnSystemGC):
# it errs toward leaving the collector to HotSpot or the user.
_NAMES_COLLECTOR = re.compile(r"-XX:[+-]Use\w*GC\b")
# HotSpot's class-data-sharing options, as text: a launch source naming
# one keeps its own sharing setup (-Xshare:off next to the dumping
# launch's -XX:+RecordDynamicDumpInfo stops the JVM)
_NAMES_CDS = re.compile(
    r"-Xshare|SharedArchiveFile|ArchiveClassesAtExit|RecordDynamicDumpInfo"
    r"|DumpLoadedClassList|SharedClassListFile|UseSharedSpaces"
)
# class-path additions a launch source names, as text (values, also of
# SPARK_DIST_CLASSPATH, go into the archive key)
_CLASS_PATH = re.compile(
    r"(?:--driver-class-path|spark\.driver\.extraClassPath)(?:=|\s+)(\S+)"
)
# the launch that dumps the archive; the JVM's own CDS log lines ("Skipping
# ...: Not linked", about 4 k of them per dump) would flood stdout
_RECORD_CDS = ("-XX:+RecordDynamicDumpInfo", "-Xlog:cds*=off")
# free space a dump needs in the cache directory: the archive is about
# 100 MB, and a JVM that cannot write it exits
_DUMP_ROOM = 1 << 30
# the environment variables whose JVM options reach the driver JVM
_JAVA_OPTION_VARS = ("SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")


def _spark_home() -> str:
    """$SPARK_HOME, else the directory of the installed pyspark."""
    return os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)


def _conf_dir() -> str:
    """Spark's conf directory: $SPARK_CONF_DIR, else $SPARK_HOME/conf,
    else the conf directory of the installed pyspark."""
    return os.environ.get("SPARK_CONF_DIR") or os.path.join(_spark_home(), "conf")


def _defaults_conf_has_master() -> bool:
    """True when spark-defaults.conf configures spark.master.

    Probed from the FILE: a pre-JVM ``SparkConf()`` is an empty dict
    (pyspark only loads JVM-side defaults once the gateway exists), so
    ``SparkConf().contains("spark.master")`` is constant-False here —
    checking it would silently override a cluster master configured in
    spark-defaults.conf with local[N]. Java-properties format: the key
    is the first whitespace-/'='-/':'-delimited token of a non-comment
    line."""
    try:
        with open(os.path.join(_conf_dir(), "spark-defaults.conf")) as f:
            for line in f:
                line = line.strip()
                if not line or line.startswith(("#", "!")):
                    continue
                key = line.replace("=", " ").replace(":", " ").split(None, 1)[0]
                if key == "spark.master":
                    return True
    except OSError:
        return False
    return False


def _launch_text() -> str:
    """The text of every source the local launch reads JVM options from:
    the environment variables of JVM options, PYSPARK_SUBMIT_ARGS and the
    ``--properties-file`` it names, and spark-defaults.conf and
    spark-env.sh in the conf directory. Files are read as text, not as
    Spark options, so a match errs toward leaving the user's setup alone."""
    args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    texts = [os.environ.get(v, "") for v in _JAVA_OPTION_VARS] + [args]
    paths = re.findall(r"--properties-file(?:=|\s+)(\S+)", args) + [
        os.path.join(_conf_dir(), f) for f in ("spark-defaults.conf", "spark-env.sh")
    ]
    for path in paths:
        try:
            with open(path.strip("'\""), errors="replace") as f:
                texts.append(f.read())
        except OSError:
            pass
    return "\n".join(texts)


def _class_archive(heap: str | None, launch_text: str) -> str | None:
    """The class-data archive of this launch, or None when the launch
    cannot use one: the conf directory holds a real file, the java or
    the jars directory is not found, or the cache directory cannot be
    written (or, for a dump, has no room). A cache path with white space
    cannot be: the JVM's diagnostic commands split their arguments on it.
    The key digests the java that spark-class runs, each jar of the jars
    directory, the driver heap and any class-path additions, which the
    JVM checks against the dumping launch's. Beside the archive is the
    empty ``conf`` directory that its launches run with."""
    conf = _conf_dir()
    java = os.environ.get("JAVA_HOME")
    java = os.path.join(java, "bin", "java") if java else shutil.which("java")
    jars = os.path.join(_spark_home(), "jars")
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    cache = os.path.join(base, "pydra_map_reduce_spark")
    if not java or re.search(r"\s", cache):
        return None
    key = hashlib.sha256(f"{heap}\n".encode())
    # a launch without class-path additions keeps the key it had before
    # they were digested, so its archive stays valid
    additions = [os.environ.get("SPARK_DIST_CLASSPATH"), *_CLASS_PATH.findall(launch_text)]
    for entry in filter(None, additions):
        key.update(f"class path {entry}\n".encode())
    try:
        if os.path.exists(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
            return None
        for path in [java, *sorted(os.path.join(jars, n) for n in os.listdir(jars))]:
            st = os.stat(path)
            key.update(f"{os.path.realpath(path)} {st.st_size} {st.st_mtime_ns}\n".encode())
        os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
        archive = os.path.join(cache, key.hexdigest()[:16] + ".jsa")
        if not os.access(cache, os.W_OK) or not (
            os.path.exists(archive) or shutil.disk_usage(cache).free > _DUMP_ROOM
        ):
            return None
    except OSError:
        return None
    return archive


def _dump_class_archive(spark: SparkSession, path: str) -> None:
    """Dump the classes the running JVM has loaded to ``path``, after one
    small shuffle job so that the job's classes are in it too. JDK 17's
    ``VM.cds dynamic_dump`` runs in the live JVM, through the ``vmCds``
    operation of the DiagnosticCommand MBean: no jcmd process and no
    attach socket. py4j cannot call the MBean server's own class (its
    package is not exported), so the call goes by reflection on the
    ``MBeanServer`` interface. The dump goes to a temp file that replaces
    ``path`` only once complete, and then the older archives go. On any
    failure nothing is left behind and the session is untouched."""
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    mf = jvm.java.lang.management.ManagementFactory
    if _RECORD_CDS[0] not in list(mf.getRuntimeMXBean().getInputArguments()):
        return  # a JVM this call did not launch

    def array(cls, *items):
        a = gw.new_array(cls, len(items))
        for i, item in enumerate(items):
            a[i] = item
        return a

    lang = jvm.java.lang
    tmp = f"{path}.{os.getpid()}.tmp"
    try:
        spark.range(64, numPartitions=2).groupBy((F.col("id") % 4).alias("k")).count().collect()
        types = ("javax.management.ObjectName", "java.lang.String", "[Ljava.lang.Object;", "[Ljava.lang.String;")
        invoke = lang.Class.forName("javax.management.MBeanServer").getMethod(
            "invoke", array(lang.Class, *map(lang.Class.forName, types))
        )
        invoke.invoke(mf.getPlatformMBeanServer(), array(
            lang.Object,
            jvm.javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
            "vmCds",
            array(lang.Object, array(lang.String, "dynamic_dump", tmp)),
            array(lang.String, types[3]),
        ))
        os.replace(tmp, path)
    except Exception as e:  # the session is up: a failed dump costs only the archive
        with contextlib.suppress(OSError):
            os.remove(tmp)
        warnings.warn(f"no class-data archive written: {str(e).strip()[:500]}", stacklevel=3)
        return
    for old in glob.glob(os.path.join(os.path.dirname(path), "*.jsa")):
        if old != path:
            with contextlib.suppress(OSError):
                os.remove(old)


def get_spark(
    app_name: str = "pydra_map_reduce_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real
    cluster the master/resource settings come from spark-submit and the
    builder inherits them — only the SQL confs below matter.

    ``driver_memory`` is a static conf: it only takes effect for the
    FIRST session created in a process (getOrCreate silently ignores
    it, and master, afterwards). For spark-submit deployments set it
    via --driver-memory instead.
    """
    if cpus is None:
        raw = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
        try:
            cpus = int(raw) if raw else 0
        except ValueError:
            cpus = 0
    # non-positive cpus — from the env var OR an explicit argument
    # (e.g. a caller computing cores-2 on a 1-core box) — would build
    # an invalid master URL (local[-2]/local[0]) and crash obscurely
    # deep in JVM context creation; fall back to all cores either way
    cpus = cpus if cpus > 0 else (os.cpu_count() or 4)
    if shuffle_partitions is None:
        # local: ~cores. Cluster: AQE coalesces down from a higher start.
        shuffle_partitions = max(cpus, 8)

    builder = SparkSession.builder
    # Only force local mode when no master was supplied anywhere else:
    # programmatic .master() overrides spark-submit, which would
    # silently run a cluster job on the driver node. In Python client
    # mode `--master` lives in PYSPARK_SUBMIT_ARGS (it is NOT a JVM
    # system property before context creation — verified empirically),
    # so check that, spark-defaults.conf (probed from the FILE — a
    # pre-JVM SparkConf() is an empty dict, so .contains() is
    # constant-False and would not guard anything), and $MASTER — PLUS
    # the spark-submit PythonRunner path, where NONE of those are
    # visible from Python (the runner pre-launches the gateway JVM
    # carrying --master and exports only PYSPARK_GATEWAY_PORT/SECRET):
    # if a gateway already exists, the master decision was already
    # made out-of-process and must not be overridden here.
    master_given = (
        "--master" in os.environ.get("PYSPARK_SUBMIT_ARGS", "")
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or _defaults_conf_has_master()
        or bool(os.environ.get("MASTER"))
    )
    if not master_given:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # dims like region/nation/part are broadcast-join candidates;
        # 32 MB leaves headroom over the 10 MB default without risking OOM
        # on 4-8 GB executors.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Storage must yield to execution (guide §5): a long session
        # accumulates MEMORY_AND_DISK session caches (index frames,
        # shared model tables) that all degrade gracefully to disk,
        # while an execution-starved hash aggregate dies with a heap
        # OOM — observed in a 178-query bench session at the 1 GB
        # default heap (a corpus-pair partial agg OOM'd once pinned
        # caches filled the default 0.5 protected-storage region).
        # 0.2 keeps a working set protected but lets execution reclaim
        # the rest; it is heap-size-relative, so larger deployments
        # are unaffected in kind.
        .config("spark.memory.storageFraction", "0.2")
        .config("spark.ui.enabled", "false")
    )
    if not master_given:
        # loopback pin is LOCAL-mode only: on a real cluster the
        # executors must reach the driver at a routable address, and a
        # hardcoded 127.0.0.1 would send every task's callback to the
        # executor itself (the deployment path master_given preserves)
        builder = builder.config("spark.driver.host", "127.0.0.1")
    heap = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if heap:
        builder = builder.config("spark.driver.memory", heap)
    # the JIT policy, the collector and the class-data archive (module
    # docstring): SPARK_SUBMIT_OPTS and SPARK_CONF_DIR reach only the
    # driver JVM that getOrCreate launches (none if a gateway is up)
    saved = {v: os.environ.get(v) for v in ("SPARK_SUBMIT_OPTS", "SPARK_CONF_DIR")}
    archive = None
    if not master_given:
        text = _launch_text()
        collector = None if _NAMES_COLLECTOR.search(text) else _SERIAL_GC
        archive = None if _NAMES_CDS.search(text) else _class_archive(heap, text)
        cds = ()
        if archive:
            os.environ["SPARK_CONF_DIR"] = os.path.join(os.path.dirname(archive), "conf")
            cds = (f"-XX:SharedArchiveFile={archive}",) if os.path.exists(archive) else _RECORD_CDS
        os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
            filter(None, (*_JIT_POLICY, collector, *cds, saved["SPARK_SUBMIT_OPTS"]))
        )
    try:
        spark = builder.getOrCreate()
    finally:
        for var, value in saved.items():
            if value is None:
                os.environ.pop(var, None)
            else:
                os.environ[var] = value
    spark.sparkContext.setLogLevel("WARN")
    if archive and not os.path.exists(archive):
        _dump_class_archive(spark, archive)
    return spark
