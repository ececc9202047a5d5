"""Non-parquet sources and sinks. SURVEY.md §2.1.

Round-trip pattern: Spark writes a fixture table to CSV / JSON-lines /
text / partitioned-parquet under /tmp, reads it back with a declared
schema, and aggregates; the oracle aggregates the original table. A
hash match proves the format round-trip is lossless — this tests the
connector, not just the query.

Scale notes: all writers emit one file per partition (the only
pattern that parallelizes); `partitionBy` on the parquet sink gives
the directory layout that enables partition pruning on re-read.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textops import money_sum
from ..sources.tables import SCHEMAS, load_table
from .registry import query

# Lazily-created per-process temp root, removed at interpreter exit: a
# fixed world-readable path would let concurrent runs on one host
# clobber each other's data.
_IO_ROOT: str | None = None

# One V2-reader sibling session per application (scan_agg_pushdown):
# creating a fresh newSession() per call leaked a JVM SessionState per
# invocation. Cleared when a new applicationId appears.
_V2_SESSIONS: dict[str, SparkSession] = {}


def _tmp(name: str) -> str:
    global _IO_ROOT
    if _IO_ROOT is None:
        _IO_ROOT = tempfile.mkdtemp(prefix="pydra_spark_io_")
        atexit.register(shutil.rmtree, _IO_ROOT, ignore_errors=True)
    return os.path.join(_IO_ROOT, name)


@query(
    "csv_roundtrip",
    oracle="""
    SELECT c_mktsegment, count(*) AS n, CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100 AS bal
    FROM customer GROUP BY c_mktsegment
    """,
    section="2.1 CSV scan (+ write): lossless round-trip",
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _tmp("customer_csv")
    load_table(spark, sf_dir, "customer").write.mode("overwrite").option(
        "header", True
    ).csv(path)
    back = spark.read.schema(SCHEMAS["customer"]).option("header", True).csv(path)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), money_sum("c_acctbal").alias("bal")
    )


@query(
    "jsonl_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS total
    FROM orders GROUP BY o_orderstatus
    """,
    section="2.1 JSON-lines scan (+ write): lossless round-trip",
)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _tmp("orders_jsonl")
    load_table(spark, sf_dir, "orders").write.mode("overwrite").json(path)
    back = spark.read.schema(SCHEMAS["orders"]).json(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), money_sum("o_totalprice").alias("total")
    )


@query(
    "orc_roundtrip",
    oracle="""
    SELECT l_returnflag, count(*) AS n, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS price
    FROM lineitem GROUP BY l_returnflag
    """,
    section="2.1 ORC scan (+ write): lossless round-trip",
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar round-trip (the other Spark-native columnar format
    besides parquet — same pushdown/pruning machinery, different
    footer). Avro is NOT registered here: spark-avro is an external
    module absent from this container's classpath, and the environment
    forbids installing it — probed, not assumed."""
    path = _tmp("lineitem_orc")
    load_table(spark, sf_dir, "lineitem").write.mode("overwrite").orc(path)
    back = spark.read.schema(SCHEMAS["lineitem"]).orc(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum("l_extendedprice").alias("price"),
    )


@query(
    "text_scan",
    oracle="""
    SELECT count(*)                          AS n_lines,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents
    """,
    section="2.1 text-file scan (one line per record)",
)
def text_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → text files → spark.read.text; line/char totals
    must survive the trip."""
    path = _tmp("documents_text")
    load_table(spark, sf_dir, "documents").select("text").write.mode("overwrite").text(path)
    # NOTE the oracle counts CHARACTERS (DuckDB length), matching
    # F.length here — strlen would count BYTES and diverge on the
    # first multi-byte UTF-8 character a regenerated fixture contains.
    lines = spark.read.text(path)
    return lines.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).cast("bigint").alias("total_chars"),
    )


@query(
    "parquet_partitioned_sink",
    oracle="""
    SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS yr,
           count(*) AS n, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS total
    FROM orders GROUP BY o_orderstatus, year(o_orderdate)
    """,
    section="2.1 parquet sink (partitionBy) + partition-pruned re-read",
)
def parquet_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writes orders hive-partitioned by (status, year) and reads it
    back — the layout that turns `WHERE yr = ...` into directory
    pruning instead of a scan at 100 TB."""
    path = _tmp("orders_part")
    o = load_table(spark, sf_dir, "orders").withColumn(
        "yr", F.year("o_orderdate")
    )
    o.write.mode("overwrite").partitionBy("o_orderstatus", "yr").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus", F.col("yr").cast("int").alias("yr")).agg(
        F.count(F.lit(1)).alias("n"), money_sum("o_totalprice").alias("total")
    )


@query(
    "join_partition_pruned",
    oracle="""
    WITH dim(yr, tag) AS (VALUES (1995, 'drop'), (1996, 'keep'), (1997, 'keep'),
                                 (1998, 'drop'), (1999, 'drop'), (2000, 'drop'),
                                 (2001, 'drop'))
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           count(*)                       AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS total
    FROM orders JOIN dim ON year(o_orderdate) = dim.yr
    WHERE dim.tag = 'keep'
    GROUP BY year(o_orderdate)
    """,
    section="2.3 dynamic partition pruning (dim filter prunes fact directories)",
)
def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact is stored hive-partitioned
    by year; joining it to a *filtered* broadcast dim makes Catalyst
    inject a `dynamicpruning` subquery into the fact scan's partition
    filters, so only the 2 matching year directories are read at all.
    At 100 TB this is the difference between scanning 7 years and
    scanning 2 — scan elimination the filter alone can't express
    because the year set comes from data, not a literal. Plan-locked
    by tests/test_plans.py."""
    path = _tmp("orders_dpp")
    o = load_table(spark, sf_dir, "orders").withColumn("yr", F.year("o_orderdate"))
    o.write.mode("overwrite").partitionBy("yr").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(1995, "drop"), (1996, "keep"), (1997, "keep"), (1998, "drop"),
         (1999, "drop"), (2000, "drop"), (2001, "drop")],
        "yr int, tag string",
    )
    return (
        fact.join(F.broadcast(dim.filter(F.col("tag") == "keep")), "yr")
        .groupBy(F.col("yr").cast("int").alias("yr"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum("o_totalprice").alias("total"),
        )
    )


@query(
    "inmemory_source",
    oracle="""
    WITH src(k, v) AS (VALUES ('a', 1), ('a', 2), ('b', 3), ('b', 4), ('c', 5))
    SELECT k, CAST(sum(v) AS BIGINT) AS sum_v, count(*) AS n
    FROM src GROUP BY k
    """,
    section="2.1 in-memory collection source (createDataFrame)",
)
def inmemory_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [("a", 1), ("a", 2), ("b", 3), ("b", 4), ("c", 5)]
    df = spark.createDataFrame(rows, "k string, v int")
    return df.groupBy("k").agg(
        F.sum("v").cast("bigint").alias("sum_v"), F.count(F.lit(1)).alias("n")
    )


@query(
    "scan_agg_pushdown",
    oracle="""
    SELECT count(*)                            AS n_rows,
           CAST(min(l_orderkey) AS BIGINT)     AS min_key,
           CAST(max(l_orderkey) AS BIGINT)     AS max_key,
           round(min(l_quantity), 2)           AS min_qty,
           round(max(l_quantity), 2)           AS max_qty
    FROM lineitem
    """,
    section="2.1/4 parquet aggregate pushdown (COUNT/MIN/MAX answered from footer stats)",
)
def scan_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan elimination at its extreme: COUNT(*)/MIN/MAX over plain
    numeric columns are answered from parquet FOOTER STATISTICS under
    the V2 reader (`PushedAggregation` in the scan) — on a 100 TB
    table this reads row-group metadata instead of data, turning a
    full scan into thousands of footer reads. The V2 reader is scoped
    to a `spark.newSession()` (independent SQLConf over the same
    SparkContext), because flipping `useV1SourceList` session-wide
    would silently change every other query's scan path (DPP and
    bucketed reads are V1-shaped here). The V2 session is CACHED per
    application — one sibling SessionState for the app's lifetime,
    not one per invocation — and the saved-conf ledger keys on the
    session OBJECT (sources/tables.py), so the sibling's pins can
    never alias the caller's. Timestamp min/max is NOT pushable (kept
    out of the aggregate list on purpose). tests/test_plans.py asserts
    the PushedAggregation plan shape."""
    app = spark.sparkContext.applicationId
    s2 = _V2_SESSIONS.get(app)
    if s2 is None:
        # Evict only entries whose SparkContext is actually STOPPED
        # (the session-cache liveness rule) — clearing
        # unconditionally would discard a live sibling SessionState
        # whenever two live apps alternate calls in one process,
        # reintroducing the per-invocation rebuild this cache exists
        # to avoid.
        for k in list(_V2_SESSIONS):
            try:
                dead = _V2_SESSIONS[k].sparkContext._jsc is None
            except Exception:
                dead = True  # unreachable JVM handle == stopped session
            if dead:
                del _V2_SESSIONS[k]
        s2 = spark.newSession()
        s2.conf.set("spark.sql.sources.useV1SourceList", "")
        s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        _V2_SESSIONS[app] = s2
    li = load_table(s2, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
    )


@query(
    "compact_small_files",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS total
    FROM orders GROUP BY o_orderstatus
    """,
    section="2.1/4 small-files compaction (coalesced rewrite, data-identical)",
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operational fix for the small-files problem: a table
    fragmented into 64 tiny files (one task each — pure scheduler
    overhead at warehouse scale) is rewritten through `repartition(4)`
    into right-sized files. Compaction must be a pure layout change,
    so the oracle is the ORIGINAL table's aggregate — any data drift
    through the rewrite fails the hash match. File counts before/after
    are asserted in tests/test_plans.py (the layout half of the
    contract). repartition, not coalesce: coalesce(4) would also
    narrow the UPSTREAM write's parallelism, while repartition keeps
    the read parallel and exchanges once."""
    frag = _tmp("orders_fragmented")
    compacted = _tmp("orders_compacted")
    o = load_table(spark, sf_dir, "orders")
    o.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.schema(SCHEMAS["orders"]).parquet(frag).repartition(4).write.mode(
        "overwrite"
    ).parquet(compacted)
    back = spark.read.schema(SCHEMAS["orders"]).parquet(compacted)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum("o_totalprice").alias("total"),
    )


@query(
    "schema_evolution_read",
    oracle="""
    SELECT o_orderstatus,
           count(*)                                        AS n,
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                           AS n_missing_priority
    FROM (
        SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderstatus, NULL AS o_orderpriority FROM orders WHERE o_orderkey % 2 = 1
    )
    GROUP BY o_orderstatus
    """,
    section="2.1/2.7 schema-evolution read (mergeSchema over heterogeneous batches)",
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-level schema evolution (the file-format sibling of
    `union_missing_columns`): two parquet batches land in one
    directory with different schemas — an old batch without
    `o_orderpriority`, a new batch with it — and a single
    `mergeSchema=true` read reconciles them, NULL-filling the missing
    column. This is how a 100 TB table absorbs added columns without
    rewriting history. The oracle replays the union with explicit
    NULLs."""
    path = _tmp("orders_evolving")
    o = load_table(spark, sf_dir, "orders")
    (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .parquet(path + "/batch=old")
    )
    (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(path + "/batch=new")
    )
    back = spark.read.option("mergeSchema", True).parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_missing_priority"),
    )


# Z-order geometry, ONE definition feeding both engine and oracle:
# each key masked to _Z_BITS bits, 2*_Z_BITS interleaved bits total,
# top 6 form the clustering cell. (An earlier _zvalue_bits() helper
# pretended to parameterize the width while the masks, the cell
# shift, and the oracle all hardcoded 10 — changing it would have
# silently desynced the plan from itself.)
_Z_BITS = 10
_Z_MASK = 1 << _Z_BITS           # % mask for each dimension
_Z_CELL_SHIFT = 2 * _Z_BITS - 6  # keep the top 6 interleaved bits

_Z_INTERLEAVE_SQL = " + ".join(
    f"(((o_custkey % {_Z_MASK}) >> {i}) & 1) * {1 << (2 * i)}"
    f" + (((o_orderkey % {_Z_MASK}) >> {i}) & 1) * {1 << (2 * i + 1)}"
    for i in range(_Z_BITS)
)


@query(
    "zorder_layout",
    oracle=f"""
    WITH z AS (
        SELECT o_custkey, o_orderkey,
               ({_Z_INTERLEAVE_SQL}) AS zval
        FROM orders
    )
    SELECT zval >> {_Z_CELL_SHIFT}             AS zcell,
           count(*)                            AS n,
           CAST(min(o_custkey % {_Z_MASK}) AS BIGINT) AS min_cust,
           CAST(max(o_custkey % {_Z_MASK}) AS BIGINT) AS max_cust,
           CAST(min(o_orderkey % {_Z_MASK}) AS BIGINT) AS min_key,
           CAST(max(o_orderkey % {_Z_MASK}) AS BIGINT) AS max_key
    FROM z GROUP BY zval >> {_Z_CELL_SHIFT}
    """,
    section="2.1/2.6 z-order layout (bit-interleaved multi-dim clustering cells)",
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering — the data-layout optimization
    behind multi-dimensional file skipping (Delta/Iceberg OPTIMIZE
    ZORDER BY): interleave the bits of two columns so rows close in
    BOTH dimensions land in the same file, giving every file bounded
    min/max ranges on every z-ordered column and letting either
    filter's stats prune files. Here each key is masked to 10 bits,
    bits interleave as pure codegen integer math (20 shift-mask-add
    terms), and the top 6 interleaved bits form the clustering cell
    (= target file); the report is each cell's per-dimension range —
    the skipping property itself (each of the 64 cells covers a
    bounded ~1/8 slice of BOTH dimensions, which a 1-D sort cannot
    do). At 100 TB this zval is the repartitionByRange key before the
    write; the cell report is what the writer's footer stats become."""
    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % _Z_MASK).alias("a"),
        (F.col("o_orderkey") % _Z_MASK).alias("b"),
    )
    zval = None
    for i in range(_Z_BITS):
        ta = F.shiftright("a", i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
        tb = F.shiftright("b", i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
        term = ta + tb
        zval = term if zval is None else zval + term
    return (
        o.withColumn("zval", zval)
        .groupBy(F.shiftright("zval", _Z_CELL_SHIFT).alias("zcell"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("a").cast("bigint").alias("min_cust"),
            F.max("a").cast("bigint").alias("max_cust"),
            F.min("b").cast("bigint").alias("min_key"),
            F.max("b").cast("bigint").alias("max_key"),
        )
    )


@query(
    "python_datasource_scan",
    oracle="""
    SELECT CAST(i % 4 AS BIGINT)                              AS bucket,
           count(*)                                           AS n,
           CAST(sum((i * 2654435761) % 4294967296) AS BIGINT) AS sum_val
    FROM range(1000) t(i)
    GROUP BY i % 4
    """,
    section="2.1 custom Python DataSource (pyspark.sql.datasource)",
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan through a user-defined Python DataSource
    (sources/synth.py): `partitions()` declares 8 parallel splits, so
    the custom source scales out exactly like a file scan — this is
    the §2.1 pluggable-source surface on Spark 4's official API, not
    an RDD shim. Rows are a deterministic Knuth-hash function of the
    id, which the oracle reproduces from `range()` — so even a
    CUSTOM source is differential-checked, not rows-only."""
    from ..sources.synth import register

    register(spark)
    df = spark.read.format("pydra_synth").option("rows", 1000).option("parts", 8).load()
    return df.groupBy((F.col("id") % 4).cast("bigint").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("val").cast("bigint").alias("sum_val"),
    )


@query(
    "jsonl_quarantine",
    oracle="""
    SELECT CAST(sum(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)  AS n_corrupt,
           CAST(sum(CASE WHEN o_orderkey % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
           CAST(sum(CASE WHEN o_orderkey % 10 <> 0
                         THEN CAST(round(o_totalprice * 100) AS BIGINT) END)
                AS DOUBLE) / 100 AS good_total
    FROM orders
    """,
    section="2.1 corrupt-record quarantine (PERMISSIVE JSON parse + bad-row routing)",
)
def jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion robustness: a JSONL feed where every 10th record is
    truncated mid-object (deterministic corruption keyed on
    o_orderkey so the oracle can reproduce the split from the clean
    table). The read uses PERMISSIVE mode with a _corrupt_record
    column — malformed rows land in the quarantine column with all
    data fields null instead of failing the job or being silently
    dropped (FAILFAST/DROPMALFORMED, the two wrong defaults at
    100 TB: one poison record should cost one quarantined row, not
    the pipeline). Output: quarantine count, good count, good-row
    total."""
    path = _tmp("orders_quarantine_src")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    line = F.to_json(F.struct("o_orderkey", "o_totalprice"))
    mangled = F.when(
        F.col("o_orderkey") % 10 == 0, F.substring(line, 1, 10)
    ).otherwise(line)
    o.select(mangled.alias("value")).write.mode("overwrite").text(path)
    back = (
        spark.read.schema("o_orderkey long, o_totalprice double, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return back.agg(
        F.sum(F.when(bad, 1).otherwise(0)).cast("bigint").alias("n_corrupt"),
        F.sum(F.when(~bad, 1).otherwise(0)).cast("bigint").alias("n_good"),
        money_sum(F.when(~bad, F.col("o_totalprice"))).alias("good_total"),
    )


@query(
    "observed_metrics",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
           min(l_shipdate) AS min_ship,
           max(l_shipdate) AS max_ship
    FROM lineitem
    """,
    section="2.1/2.4 pipeline instrumentation (df.observe metrics, zero extra scan)",
)
def observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's observe() API: named metrics ride ALONG an existing
    job — the row count, quantity total, and ship-date bounds here
    are collected by accumulator while the filter-aggregate runs, NOT
    by a second scan (the standard way production pipelines emit
    volume/freshness metrics without doubling IO; at 100 TB a
    dedicated metrics pass is a full extra read). The query executes
    the observed plan to a noop sink, then surfaces the observation
    as a one-row DataFrame. The metrics are deterministic aggregates
    of the observed table, so the accumulator path is fully
    oracle-checkable — the DuckDB oracle recomputes them directly
    (and the suite keeps an in-Spark direct-agg anchor)."""
    from pyspark.sql import Observation

    obs = Observation("lineitem_metrics")
    li = load_table(spark, sf_dir, "lineitem").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")).alias("qty_cents"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )
    # the observed metrics populate when the plan executes; drive it
    # through the same noop sink bench.py uses (full plan, no collect)
    li.filter(F.col("l_quantity") > 25).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n")
    ).write.mode("overwrite").format("noop").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["qty_cents"],
                m["min_ship"],
                m["max_ship"],
            )
        ],
        "n_rows long, qty_cents long, min_ship timestamp, max_ship timestamp",
    )


@query(
    "xml_roundtrip",
    oracle="""
    SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
           count(*) AS n, CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100 AS bal
    FROM supplier GROUP BY s_nationkey
    """,
    section="2.1 XML scan (+ write): lossless round-trip (native since Spark 4)",
)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip via the datasource Spark 4 bundles natively
    (the spark-xml package absorbed upstream — probed working in this
    container, unlike Avro whose connector jar is absent). A projected
    numeric subset writes as one element per row and reads back with a
    DECLARED schema — XML has no type system of its own, so schema-on
    -read is what keeps longs longs; letting the reader infer would
    round-trip everything as strings and fail the oracle's bigint
    sums. Self-describing row tags make the format splittable by
    element, not by line, which is why it stays a P3 interchange
    format rather than a warehouse format — documented coverage, not
    a recommended path."""
    path = _tmp("supplier_xml")
    (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey", "s_acctbal")
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "suppliers")
        .option("rowTag", "supplier")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema("s_suppkey long, s_nationkey long, s_acctbal double")
        .load(path)
    )
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum("s_acctbal").alias("bal"),
    )


_BF_N = 64  # binary files synthesized for the binaryFile-source scan


def _binaryfile_fixture_dir() -> str:
    """Write the deterministic binary fixture files (one per vec_id,
    the SAME packed-word payloads multimodal_binary_decode synthesizes
    in-query) into the per-process temp root. Pure Python from the id
    formula — no Spark collect; 64 files × 17 bytes, idempotent."""
    import struct

    from .multimodal import _MULTS

    d = _tmp("binary_media")
    os.makedirs(d, exist_ok=True)
    for vec_id in range(_BF_N):
        payload = b"".join(
            struct.pack("<I", (vec_id * m) % 4294967296) for m in _MULTS
        ) + b"\xff"
        with open(os.path.join(d, f"vec_{vec_id}.bin"), "wb") as f:
            f.write(payload)
    return d


@query(
    "binaryfile_scan",
    oracle=f"""
    SELECT vec_id,
           CAST(17 AS BIGINT) AS n_bytes,
           CAST((vec_id * 2654435761) % 4294967296 AS BIGINT) AS first_word,
           CAST(
             ((vec_id * 2654435761) % 4294967296) % 256
           + ((vec_id * 2654435761) % 4294967296) // 256 % 256
           + ((vec_id * 2654435761) % 4294967296) // 65536 % 256
           + ((vec_id * 2654435761) % 4294967296) // 16777216 % 256
           + ((vec_id * 2246822519) % 4294967296) % 256
           + ((vec_id * 2246822519) % 4294967296) // 256 % 256
           + ((vec_id * 2246822519) % 4294967296) // 65536 % 256
           + ((vec_id * 2246822519) % 4294967296) // 16777216 % 256
           + ((vec_id * 3266489917) % 4294967296) % 256
           + ((vec_id * 3266489917) % 4294967296) // 256 % 256
           + ((vec_id * 3266489917) % 4294967296) // 65536 % 256
           + ((vec_id * 3266489917) % 4294967296) // 16777216 % 256
           + ((vec_id * 668265263) % 4294967296) % 256
           + ((vec_id * 668265263) % 4294967296) // 256 % 256
           + ((vec_id * 668265263) % 4294967296) // 65536 % 256
           + ((vec_id * 668265263) % 4294967296) // 16777216 % 256
           + 255 AS BIGINT) AS byte_sum
    FROM range(0, {_BF_N}) AS t(vec_id)
    """,
    section="2.1/2.11 binaryFile source (directory-of-media ingestion)",
)
def binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How image/audio datasets actually arrive: a DIRECTORY of binary
    files, ingested with Spark's `binaryFile` source into (path,
    length, content) rows — the missing first hop in front of the
    multimodal_* queries, which synthesize payloads in-query. The
    fixture files are written deterministically from the vec_id
    formula (same packed-word payloads as multimodal_binary_decode),
    so the DuckDB oracle re-derives byte features from vec_id with
    integer arithmetic and a green match proves the FILESYSTEM →
    BinaryType → length/byte-math path end-to-end. The id comes from
    the file path (regexp_extract) — the standard pattern for keying
    media files back to a metadata table. Scale shape: binaryFile is
    a splittable listing over the directory tree; per-file content
    is one row, so partitioning follows files — at 100 TB you shard
    directories, never concatenate media. The JVM computes n_bytes
    (length) directly; first_word/byte_sum decode via the same
    Arrow-batched mapInPandas hop as the other multimodal queries."""
    from collections.abc import Iterator

    import pandas as pd

    d = _binaryfile_fixture_dir()
    files = (
        spark.read.format("binaryFile")
        .load(d)
        .select(
            F.regexp_extract(F.col("path"), r"vec_(\d+)\.bin", 1)
            .cast("long")
            .alias("vec_id"),
            F.col("length").alias("n_bytes"),
            "content",
        )
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for pdf in batches:
            rows = []
            for vec_id, n_bytes, content in zip(
                pdf["vec_id"], pdf["n_bytes"], pdf["content"]
            ):
                b = bytes(content)
                rows.append(
                    (vec_id, n_bytes, struct.unpack("<I", b[:4])[0], sum(b))
                )
            yield pd.DataFrame(
                rows, columns=["vec_id", "n_bytes", "first_word", "byte_sum"]
            )

    return files.mapInPandas(
        decode, "vec_id long, n_bytes long, first_word long, byte_sum long"
    )


def _warc_fixture_dir(sf_dir: str) -> str:
    """Write the documents table as 4 deterministic .warc.gz shards —
    Common Crawl's actual wire format: each WARC record is its OWN
    gzip member (mtime pinned to 0 so bytes are reproducible), shard
    0 leads with a warcinfo record so readers must filter by
    WARC-Type. Pure pyarrow + stdlib from the parquet fixture (no
    Spark collect); idempotent per (sf basename, fixture identity —
    part count + max part mtime, the sources/tables.py key)."""
    import gzip

    import pyarrow.parquet as pq

    from ..sources.tables import _fixture_key

    # Idempotency key = the SAME (part file, part count, max mtime)
    # identity sources/tables.py keys its probe caches on: a mid-process
    # fixture regeneration with an unchanged row count (it happened
    # between rounds 4 and 5) must invalidate the shards, or the engine
    # parses stale WARC bytes while the oracle reads the new table.
    # The marker check is metadata-only — the full (doc_id, text) read
    # happens only when the shards actually need (re)writing.
    src = os.path.join(sf_dir, "documents.parquet")
    key = _fixture_key(src)
    d = _tmp(
        f"warc_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{key[1]}_{int(key[2] * 1000)}"
    )
    done = os.path.join(d, "_COMPLETE")
    if os.path.exists(done):
        return d
    tbl = pq.read_table(src, columns=["doc_id", "text"])
    n = tbl.num_rows
    os.makedirs(d, exist_ok=True)

    def record(headers: list[tuple[str, str]], payload: bytes) -> bytes:
        head = "".join(f"{k}: {v}\r\n" for k, v in headers)
        return (
            f"WARC/1.0\r\n{head}Content-Length: {len(payload)}\r\n\r\n".encode()
            + payload
            + b"\r\n\r\n"
        )

    rows = sorted(
        zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    )
    shards: list[list[bytes]] = [[] for _ in range(4)]
    info = record(
        [("WARC-Type", "warcinfo"), ("WARC-Record-ID", "<urn:uuid:info>")],
        b"software: pydra-map-reduce-spark fixture\r\n",
    )
    shards[0].append(gzip.compress(info, mtime=0))
    for doc_id, text in rows:
        payload = (text or "").encode("utf-8")
        rec = record(
            [
                ("WARC-Type", "response"),
                ("WARC-Record-ID", f"<urn:uuid:{doc_id}>"),
                ("WARC-Target-URI", f"http://example.com/doc/{doc_id}"),
            ],
            payload,
        )
        shards[doc_id % 4].append(gzip.compress(rec, mtime=0))
    for i, members in enumerate(shards):
        with open(os.path.join(d, f"part-{i}.warc.gz"), "wb") as f:
            f.write(b"".join(members))
    with open(done, "w") as f:
        f.write(str(n))
    return d


@query(
    "warc_scan",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS content_len,
           md5(text)                    AS payload_md5
    FROM documents
    """,
    section="2.1 WARC source (Common Crawl wire format: per-record gzip members)",
)
def warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest the web-archive format LLM corpora actually start from:
    .warc.gz shards whose records are INDIVIDUAL gzip members (the
    Common Crawl convention — it makes records seekable without
    inflating the whole shard). The fixture writes the documents
    table as 4 such shards (deterministic bytes, warcinfo record
    first in shard 0); the reader is real: binaryFile ingestion, a
    multi-member gunzip walk (zlib decompressobj + unused_data — a
    whole-file gzip.decompress would silently stop after member 1),
    WARC/1.0 version-line check, header parse, WARC-Type filtering,
    Content-Length framing, and doc-id recovery from the Target-URI.
    The oracle recomputes byte-length (strlen) + md5 from the source
    table — Content-Length is OCTETS per the WARC spec, so the byte
    convention holds even for non-ASCII payloads — and a green match
    proves text -> WARC -> gzip members -> parse is byte-lossless end
    to end. Scale shape: per-FILE parallelism is the production
    posture (thousands of ~1 GB shards); the honest memory envelope
    is one shard per task (binaryFile materializes the file's bytes,
    and each shard's parsed records are emitted as one frame) — the
    gzip-member walk streams, but per-record task memory would need a
    custom datasource, not binaryFile."""
    return _warc_records(spark, sf_dir).select(
        "doc_id", "content_len", "payload_md5"
    )


def _warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared WARC reader: binaryFile over the .warc.gz fixture dir →
    one row per response record (doc_id, content_len, payload_md5,
    text). ONE parser feeds both `warc_scan` and `warc_pipeline` so
    the record framing can't drift between them."""
    from collections.abc import Iterator

    import pandas as pd

    d = _warc_fixture_dir(sf_dir)
    files = spark.read.format("binaryFile").load(d).select("content")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import zlib

        cols = ["doc_id", "content_len", "payload_md5", "text"]
        for pdf in batches:
            for content in pdf["content"]:
                # yield per FILE: a batch of shards never accumulates
                # into one list, bounding task memory at one shard's
                # parsed records
                rows = []
                buf = bytes(content)
                while buf:
                    z = zlib.decompressobj(wbits=31)
                    rec = z.decompress(buf)
                    buf = z.unused_data
                    head, _, rest = rec.partition(b"\r\n\r\n")
                    lines = head.decode("utf-8").split("\r\n")
                    assert lines[0] == "WARC/1.0", "bad WARC version"
                    hdrs = dict(
                        ln.split(": ", 1) for ln in lines[1:] if ": " in ln
                    )
                    if hdrs.get("WARC-Type") != "response":
                        continue
                    n = int(hdrs["Content-Length"])
                    payload = rest[:n]
                    assert rest[n : n + 4] == b"\r\n\r\n", "bad record framing"
                    doc_id = int(hdrs["WARC-Target-URI"].rsplit("/", 1)[1])
                    rows.append(
                        (
                            doc_id,
                            n,
                            hashlib.md5(payload).hexdigest(),
                            payload.decode("utf-8"),
                        )
                    )
                yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(
        parse, "doc_id long, content_len long, payload_md5 string, text string"
    )


@query(
    "warc_pipeline",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               length(string_split(text, ' ')) AS n_tokens,
               substr(text, 1, 80)             AS pfx,
               doc_id % 4                      AS shard
        FROM documents
    ), c AS (
        SELECT *, (n_tokens >= 30) AS pass_gate,
               min(CASE WHEN n_tokens >= 30 THEN doc_id END)
                   OVER (PARTITION BY pfx)    AS first_id
        FROM t
    )
    SELECT shard,
           count(*) AS n_records,
           CAST(sum(CASE WHEN NOT pass_gate THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gated_out,
           CAST(sum(CASE WHEN pass_gate AND doc_id <> first_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_dropped,
           CAST(sum(CASE WHEN pass_gate AND doc_id = first_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN pass_gate AND doc_id = first_id
                         THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM c GROUP BY shard
    """,
    section="2.1/2.11 end-to-end crawl pipeline FROM the archive (WARC -> gate -> dedup -> report)",
)
def warc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference-user story end to end, STARTING from the archive
    format: read .warc.gz shards, token-gate the payloads (Gopher-ish
    minimum length), prefix-fingerprint dedup among the gate
    survivors (first 80 chars, min-id wins — the cheap URL/text-prefix
    dedup real crawl pipelines run before heavier MinHash), and report
    per PHYSICAL shard (doc_id%4 matches the fixture's file layout):
    record counts, gate drops, dup drops, survivors, surviving token
    mass. Both stages provably fire on the fixture (~21% gated, ~4.5%
    prefix dups at every SF). Single archive scan; everything after
    the parse hop is JVM expressions — one prefix-keyed window, one
    shard-keyed aggregate. The oracle recomputes the whole funnel from
    the source table, so a green match proves archive parsing AND the
    funnel math in one check."""
    from pyspark.sql.window import Window

    rec = _warc_records(spark, sf_dir)
    t = rec.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.substring("text", 1, 80).alias("pfx"),
        (F.col("doc_id") % 4).alias("shard"),
    ).withColumn("pass_gate", F.col("n_tokens") >= 30)
    first_id = F.min(F.when(F.col("pass_gate"), F.col("doc_id"))).over(
        Window.partitionBy("pfx")
    )
    c = t.withColumn("first_id", first_id)
    kept = F.col("pass_gate") & (F.col("doc_id") == F.col("first_id"))
    return c.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.count_if(~F.col("pass_gate")).alias("n_gated_out"),
        F.count_if(
            F.col("pass_gate") & (F.col("doc_id") != F.col("first_id"))
        ).alias("n_dup_dropped"),
        F.count_if(kept).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("kept_tokens"),
    )
