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
  collector (``_collector_named``) the flag is left out and the user's
  collector runs. The tier-4 flags stay.
"""

from __future__ import annotations

import os
import re

import pyspark
from pyspark.sql import SparkSession

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
# the environment variables whose JVM options reach the driver JVM
_JAVA_OPTION_VARS = ("SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")


def _conf_dir() -> str:
    """Spark's conf directory: $SPARK_CONF_DIR, else $SPARK_HOME/conf,
    else the conf directory of the installed pyspark."""
    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    return os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")


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


def _collector_named() -> bool:
    """True when a source the local launch reads names a garbage
    collector: the environment variables of JVM options, PYSPARK_SUBMIT_ARGS
    and the ``--properties-file`` it names, and spark-defaults.conf and
    spark-env.sh in the conf directory. Files are read as text, not as
    Spark options."""
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
    return any(_NAMES_COLLECTOR.search(t) for t in texts)


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
    if driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        builder = builder.config(
            "spark.driver.memory",
            driver_memory or os.environ["SPARK_GRAFT_DRIVER_MEM"],
        )
    # the JIT policy and the collector (module docstring):
    # SPARK_SUBMIT_OPTS reaches only the driver JVM that getOrCreate
    # launches (none if a gateway is up)
    submit_opts = os.environ.get("SPARK_SUBMIT_OPTS")
    if not master_given:
        collector = None if _collector_named() else _SERIAL_GC
        os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
            filter(None, (*_JIT_POLICY, collector, submit_opts))
        )
    try:
        spark = builder.getOrCreate()
    finally:
        if submit_opts is None:
            os.environ.pop("SPARK_SUBMIT_OPTS", None)
        else:
            os.environ["SPARK_SUBMIT_OPTS"] = submit_opts
    spark.sparkContext.setLogLevel("WARN")
    return spark
