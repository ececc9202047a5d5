"""Set operations. SURVEY.md §2.7."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session_cache import CORPUS, materialize
from ..sources.tables import load_table
from .registry import query


@query(
    "union_all",
    oracle="""
    SELECT c_custkey AS id, 'customer' AS kind FROM customer WHERE c_acctbal > 9000
    UNION ALL
    SELECT s_suppkey AS id, 'supplier' AS kind FROM supplier WHERE s_acctbal > 9000
    """,
    section="2.7 union (multi-input concat)",
)
def union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName — no shuffle at all; partitions concatenate."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").alias("id"), F.lit("customer").alias("kind"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_suppkey").alias("id"), F.lit("supplier").alias("kind"))
    )
    return c.unionByName(s)


@query(
    "intersect_rows",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    section="2.7 intersect",
)
def intersect_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "except_rows",
    oracle="""
    SELECT o_orderkey AS k FROM orders
    EXCEPT
    SELECT l_orderkey AS k FROM lineitem
    """,
    section="2.7 except",
)
def except_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with no lineitems (~257 at sf0.01) — non-empty EXCEPT."""
    c = load_table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    s = load_table(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    # subtract == SQL EXCEPT (distinct semantics); exceptAll would keep
    # left-side multiplicity overhangs that EXCEPT must drop.
    return c.subtract(s)


@query(
    "intersect_all_rows",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    section="2.7 intersect all (multiset semantics)",
)
def intersect_all_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT: each value survives min(left, right) times."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersectAll(s)


@query(
    "except_all_rows",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    section="2.7 except all (multiset semantics)",
)
def except_all_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT: left multiplicity minus right multiplicity."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s)


@query(
    "union_missing_columns",
    oracle="""
    SELECT c_custkey AS id, c_acctbal AS bal, c_mktsegment AS segment
    FROM customer WHERE c_acctbal > 9900
    UNION ALL
    SELECT s_suppkey AS id, s_acctbal AS bal, NULL AS segment
    FROM supplier WHERE s_acctbal > 9000
    """,
    section="2.7 union with schema evolution (allowMissingColumns)",
)
def union_missing_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName(allowMissingColumns=True): the suppliers side lacks
    `segment`, which NULL-fills — the schema-evolution union used when
    concatenating corpus shards with drifting schemas."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_acctbal").alias("bal"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_suppkey").alias("id"), F.col("s_acctbal").alias("bal"))
    )
    return c.unionByName(s, allowMissingColumns=True)


@query(
    "merge_upsert",
    oracle="""
    WITH updates AS (
        SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_totalprice
        FROM orders WHERE o_orderkey % 1000 = 0
    ), merged AS (
        SELECT coalesce(u.o_orderkey, b.o_orderkey)     AS okey,
               coalesce(u.o_totalprice, b.o_totalprice) AS price,
               (u.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL) AS is_update,
               (b.o_orderkey IS NULL)                   AS is_insert
        FROM orders b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
    )
    SELECT count(*)                                        AS n_rows,
           CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(sum(CASE WHEN is_update THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
           CAST(sum(CASE WHEN is_insert THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
    FROM merged
    """,
    section="2.7 upsert merge (SCD-1: update-wins full outer join)",
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE/upsert pattern without a table format: full outer
    join base-vs-updates on the key, update-wins coalesce, plus
    updated/inserted accounting. The shuffle is keyed on o_orderkey
    only; at 100 TB the same plan works with the base bucketed on the
    key (no base-side exchange) — or swap in Delta/Iceberg MERGE INTO,
    which executes this exact join under the hood. Updates here are
    synthesized deterministically from the base (price bumps + new
    keys) so the oracle can mirror them. The +10M insert-key offset is
    a FIXTURE contract, not a scale claim: at TPC-H sf >= ~1.7 real
    orderkeys cross 10M and a synthesized "insert" would collide with
    an existing key (reclassifying it as an update and double-counting
    via join fan-out) while the oracle, mirroring the same arithmetic,
    stays green — so the guard below fails LOUD instead. At real
    scale updates arrive from a CDC feed; only this demonstrator
    synthesizes them."""
    base = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    top = base.agg(F.max("o_orderkey").alias("m")).first()["m"]
    if top is not None and top >= 10_000_000:
        raise ValueError(
            f"merge_upsert's synthesized insert keys (base key + 10M) would "
            f"collide with real orderkeys (max {top}); move the synthesis "
            "offset above the key domain"
        )
    # additive bump: keeps the price at 2dp exactly, so no rounding —
    # round(x*1.1, 2) would sit ON the .xx5 half-way boundary for half
    # the rows, where Spark (shortest-decimal-repr) and DuckDB (raw
    # binary double) round differently
    bumped = (
        base.filter(F.col("o_orderkey") % 10 == 0)
        .select("o_orderkey", (F.col("o_totalprice") + 100.0).alias("o_totalprice"))
    )
    fresh = (
        base.filter(F.col("o_orderkey") % 1000 == 0)
        .select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            F.col("o_totalprice"),
        )
    )
    updates = bumped.unionByName(fresh)
    b, u = base.alias("b"), updates.alias("u")
    merged = b.join(u, F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full").select(
        F.coalesce(F.col("u.o_totalprice"), F.col("b.o_totalprice")).alias("price"),
        (F.col("u.o_orderkey").isNotNull() & F.col("b.o_orderkey").isNotNull()).alias("is_update"),
        F.col("b.o_orderkey").isNull().alias("is_insert"),
    )
    # exact decimal sum (double-sum order across 2 engines diverges at
    # the cent level on a ~1e9 total), cast back to double for schema
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("price").cast("decimal(18,2)")).cast("double").alias("total_price"),
        F.sum(F.when(F.col("is_update"), 1).otherwise(0)).cast("bigint").alias("n_updated"),
        F.sum(F.when(F.col("is_insert"), 1).otherwise(0)).cast("bigint").alias("n_inserted"),
    )


# ONE definition of the SCD-2 change synthesis: every SCD2_MOD-th key
# changes segment, new value prefixed SCD2_PREFIX. merge_scd2 AND
# joins.join_point_in_time build their dimension through scd2_dim, and
# all four oracle/engine sites interpolate these two constants — the
# selector and prefix can never drift one-sided (the paired-copy
# hazard _CDC_LOG_SQL exists to prevent, applied to the SCD-2 pair).
SCD2_MOD = 7
SCD2_PREFIX = "MOVED_"


def scd2_dim(base: DataFrame, *, start, eff, ts_type: str, with_current: bool) -> DataFrame:
    """The synthesized SCD-2 dimension: closed/kept/opened three-way
    build over ONE materialized left join (Catalyst does not dedupe
    common subplans across a union — unpersisted, the join
    instantiated per branch and the base scanned five times,
    verified). ``start``/``eff`` are Columns of ``ts_type``
    ('date'/'timestamp'); ``with_current`` adds the is_current flag
    merge_scd2 surfaces and the point-in-time join omits."""
    upd = base.filter(F.col("c_custkey") % SCD2_MOD == 0).select(
        "c_custkey",
        F.concat(F.lit(SCD2_PREFIX), F.col("c_mktsegment")).alias("segment"),
        eff.alias("eff"),
    )
    b, u = base.alias("b"), upd.alias("u")
    joined = materialize(
        b.join(u, F.col("b.c_custkey") == F.col("u.c_custkey"), "left"), CORPUS
    )
    null_to = F.lit(None).cast(ts_type)

    def _flag(v: bool) -> list:
        return [F.lit(v).alias("is_current")] if with_current else []

    closed = joined.filter(F.col("u.c_custkey").isNotNull()).select(
        F.col("b.c_custkey").alias("c_custkey"),
        F.col("b.c_mktsegment").alias("segment"),
        start.alias("valid_from"),
        F.col("u.eff").alias("valid_to"),
        *_flag(False),
    )
    kept = joined.filter(F.col("u.c_custkey").isNull()).select(
        F.col("b.c_custkey").alias("c_custkey"),
        F.col("b.c_mktsegment").alias("segment"),
        start.alias("valid_from"),
        null_to.alias("valid_to"),
        *_flag(True),
    )
    opened = upd.select(
        "c_custkey",
        "segment",
        F.col("eff").alias("valid_from"),
        null_to.alias("valid_to"),
        *_flag(True),
    )
    return closed.unionByName(kept).unionByName(opened)


@query(
    "merge_scd2",
    oracle=f"""
    WITH upd AS (
        SELECT c_custkey, '{SCD2_PREFIX}' || c_mktsegment AS segment,
               DATE '2024-06-01' AS eff
        FROM customer WHERE c_custkey % {SCD2_MOD} = 0
    ), closed AS (
        SELECT c.c_custkey, c.c_mktsegment AS segment,
               DATE '2024-01-01' AS valid_from, u.eff AS valid_to,
               FALSE AS is_current
        FROM customer c JOIN upd u ON c.c_custkey = u.c_custkey
    ), kept AS (
        SELECT c.c_custkey, c.c_mktsegment AS segment,
               DATE '2024-01-01' AS valid_from, NULL::DATE AS valid_to,
               TRUE AS is_current
        FROM customer c LEFT JOIN upd u ON c.c_custkey = u.c_custkey
        WHERE u.c_custkey IS NULL
    ), opened AS (
        SELECT c_custkey, segment, eff AS valid_from,
               NULL::DATE AS valid_to, TRUE AS is_current
        FROM upd
    )
    SELECT * FROM closed
    UNION ALL SELECT * FROM kept
    UNION ALL SELECT * FROM opened
    """,
    section="2.7 SCD-2 merge (validity-interval history: close + open rows)",
)
def merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: instead of overwriting
    (merge_upsert's SCD-1), a changed key CLOSES its current row
    (valid_to = effective date) and OPENS a new one — the
    full-history dimension shape every warehouse keeps for
    point-in-time joins. Changes are synthesized deterministically
    (every 7th customer moves segment on 2024-06-01) so the oracle
    mirrors them.

    Plan shape: ONE left join keyed on c_custkey splits the base into
    closed/kept branches, the update set itself becomes the opened
    branch, and the three unite — no shuffle beyond the keyed join
    (the union is partition-local); the join is checkpointed inside
    the SHARED `scd2_dim` builder (see its docstring for the
    one-join/five-scan evidence), which join_point_in_time also
    consumes — the synthesis rule has exactly one engine definition.
    At 100 TB the checkpoint is the materialize-the-merge-input step
    every MERGE INTO implementation performs anyway, the base side
    buckets on the key exactly like merge_upsert, and the same plan
    is what Delta/Iceberg MERGE INTO + whenMatched/whenNotMatched
    emits."""
    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return scd2_dim(
        base,
        start=F.lit("2024-01-01").cast("date"),
        eff=F.lit("2024-06-01").cast("date"),
        ts_type="date",
        with_current=True,
    )


# ONE definition of the synthesized CDC changelog (engine + oracle):
# each order key carries 1-3 versions, each bumping the price by 10
# per version. cdc_latest_wins consumes the plain log;
# cdc_apply_deletes adds the I/U/D op column on top. Both queries and
# both oracles derive from these two definitions, so a synthesis
# change cannot land one-sided (the paired-edit drift the project
# memory warns about).
_CDC_LOG_SQL = """
        SELECT o_orderkey AS okey, v.version,
               o_totalprice + v.version * 10.0 AS price
        FROM orders,
             LATERAL (SELECT unnest(generate_series(0, o_orderkey % 3)) AS version) v
"""


def _cdc_log(o: DataFrame) -> DataFrame:
    """(okey, version, price): the synthesized changelog, engine side."""
    return o.select(
        F.col("o_orderkey").alias("okey"),
        F.explode(
            F.sequence(F.lit(0), (F.col("o_orderkey") % 3).cast("int"))
        ).alias("version"),
        "o_totalprice",
    ).withColumn("price", F.col("o_totalprice") + F.col("version") * 10.0)


@query(
    "cdc_latest_wins",
    oracle=f"""
    WITH log AS ({_CDC_LOG_SQL}
    ), latest AS (
        SELECT okey,
               max(version) AS version,
               arg_max(price, version) AS price
        FROM log GROUP BY okey
    )
    SELECT count(*) AS n_keys,
           CAST(sum(version + 1) AS BIGINT) AS n_log_rows,
           CAST(sum(CASE WHEN version > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_multiversion,
           CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS latest_total
    FROM latest
    """,
    section="2.4/2.7 CDC log compaction (latest-record-wins per key)",
)
def cdc_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture compaction: a key's log rows collapse to
    the HIGHEST-version record — the snapshot-from-changelog step of
    every CDC ingest (Debezium → warehouse). The log is synthesized
    deterministically (each order key carries 1–3 versions, each
    bumping the price) so the oracle mirrors it with generate_series.

    Plan shape: ONE hash aggregate keyed on the CDC key using
    max/max_by with map-side partial combine — never the
    window-row_number-rn=1 form, which sorts every group; at 100 TB
    the max_by aggregate is the difference between a shuffle of
    partial maxima and a full sort of the changelog. The version
    tie-break is total (versions are distinct ints per key), so
    max_by is deterministic."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    log = _cdc_log(o)
    latest = log.groupBy("okey").agg(
        F.max("version").alias("version"),
        F.max_by("price", "version").alias("price"),
    )
    return latest.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("version") + 1).cast("bigint").alias("n_log_rows"),
        F.sum(F.when(F.col("version") > 0, 1).otherwise(0)).cast("bigint").alias("n_multiversion"),
        F.sum(F.col("price").cast("decimal(18,2)")).cast("double").alias("latest_total"),
    )


@query(
    "table_diff",
    oracle="""
    WITH snap_a AS (
        SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
        FROM orders WHERE o_orderkey % 11 <> 0
    ),
    snap_b AS (
        SELECT o_orderkey, o_orderstatus,
               round(CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 0.07
                          ELSE o_totalprice END, 2) AS price
        FROM orders WHERE o_orderkey % 13 <> 0
    ),
    d AS (
        SELECT coalesce(a.o_orderkey, b.o_orderkey) AS k,
               CASE WHEN a.o_orderkey IS NULL THEN 'added'
                    WHEN b.o_orderkey IS NULL THEN 'removed'
                    WHEN a.price <> b.price
                      OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
                    ELSE 'unchanged' END AS change
        FROM snap_a a FULL OUTER JOIN snap_b b ON a.o_orderkey = b.o_orderkey
    )
    SELECT change, count(*) AS n FROM d GROUP BY change
    """,
    section="2.7 snapshot diff (keyed full-outer reconciliation report)",
)
def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-snapshot reconciliation: rows classified added / removed /
    changed / unchanged by a keyed FULL OUTER join (the audit every
    nightly pipeline runs before promoting a snapshot; CDC answers
    'what changed' from a log — this answers it from STATE when no
    log exists). The snapshots derive deterministically from orders
    (key-mod membership, a simulated price touch on every 5th key) so
    the oracle reproduces them. The touch is an ADDITIVE 0.07 bump:
    2dp + 2dp stays exact 2dp, so the rounded compare is genuinely
    identical across engines — the earlier ×1.1 form put every
    touched price exactly ON the .xx5 rounding boundary where Spark
    and DuckDB round() disagree (merge_upsert documents the same
    trap; it was masked here only because any cent outcome still
    classified as 'changed'). One
    shuffle on the key, counts roll up to four rows. At 100 TB the
    value comparison widens to the row's md5 (table_checksum's
    serialization) instead of per-column predicates."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("ak"),
        F.col("o_orderstatus").alias("astatus"),
        F.round("o_totalprice", 2).alias("aprice"),
    )
    b = o.filter(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_orderkey").alias("bk"),
        F.col("o_orderstatus").alias("bstatus"),
        F.round(
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 0.07
            ).otherwise(F.col("o_totalprice")),
            2,
        ).alias("bprice"),
    )
    change = (
        F.when(F.col("ak").isNull(), "added")
        .when(F.col("bk").isNull(), "removed")
        .when(
            (F.col("aprice") != F.col("bprice"))
            | (F.col("astatus") != F.col("bstatus")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        a.join(b, a.ak == b.bk, "full_outer")
        .select(change.alias("change"))
        .groupBy("change")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "not_in_null_semantics",
    oracle="""
    SELECT
      (SELECT count(*) FROM customer
       WHERE c_nationkey NOT IN (SELECT nullif(n_nationkey, 13) FROM nation))
          AS n_not_in_nullable,
      (SELECT count(*) FROM customer
       WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation
                                 WHERE n_nationkey <> 13))
          AS n_not_in_clean,
      (SELECT count(*) FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM nation n
                         WHERE nullif(n.n_nationkey, 13) = c.c_nationkey))
          AS n_not_exists
    """,
    section="2.3/2.7 NOT IN three-valued-logic semantics (vs NOT EXISTS)",
)
def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most notorious SQL correctness trap, pinned differentially:
    `NOT IN (subquery)` against a list containing ONE NULL returns
    zero rows (x <> NULL is UNKNOWN, so no row ever satisfies the
    conjunction), while the same exclusion written as NOT EXISTS — or
    against the NULL-free list — returns the nationkey-13 customers.
    All three counts in one row: n_not_in_nullable MUST be 0, the
    other two MUST agree. Catalyst lowers the NOT IN to a null-aware
    anti join and NOT EXISTS to a plain left-anti — both hash joins,
    both fine at scale; what differs (and what this query documents)
    is the SEMANTICS users get."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_nin_v")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_nin_v")
    return spark.sql(
        """
        SELECT
          (SELECT count(*) FROM customer_nin_v
           WHERE c_nationkey NOT IN (SELECT nullif(n_nationkey, 13)
                                     FROM nation_nin_v))
              AS n_not_in_nullable,
          (SELECT count(*) FROM customer_nin_v
           WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation_nin_v
                                     WHERE n_nationkey <> 13))
              AS n_not_in_clean,
          (SELECT count(*) FROM customer_nin_v c
           WHERE NOT EXISTS (SELECT 1 FROM nation_nin_v n
                             WHERE nullif(n.n_nationkey, 13) = c.c_nationkey))
              AS n_not_exists
        """
    )


@query(
    "cdc_apply_deletes",
    oracle=f"""
    WITH log AS (
        SELECT okey, version, price,
               CASE WHEN version = 0 THEN 'I'
                    WHEN okey % 7 = 0 AND version = okey % 3 THEN 'D'
                    ELSE 'U' END AS op
        FROM ({_CDC_LOG_SQL})
    ), latest AS (
        SELECT okey,
               arg_max(op, version)    AS op,
               arg_max(price, version) AS price
        FROM log GROUP BY okey
    )
    SELECT CAST(sum(CASE WHEN op <> 'D' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_live,
           CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tombstoned,
           CAST(sum(CASE WHEN op <> 'D'
                         THEN CAST(price AS DECIMAL(18,2)) END) AS DOUBLE)
               AS live_total
    FROM latest
    """,
    section="2.4/2.7 CDC apply with delete tombstones (snapshot from I/U/D log)",
)
def cdc_apply_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The half of CDC apply `cdc_latest_wins` doesn't cover: the
    changelog carries INSERT/UPDATE/DELETE ops, and a key whose
    LATEST op is a delete tombstone must vanish from the snapshot —
    dropping tombstones before picking latest would resurrect deleted
    rows (the classic CDC-apply bug), so the op rides through the
    same max_by(version) aggregate as the payload and the filter runs
    AFTER compaction. Log synthesis is deterministic (keys divisible
    by 7 end in a delete when their version chain is multi-row), so
    the oracle mirrors it with generate_series. Same scale shape as
    cdc_latest_wins: one hash aggregate on the CDC key, map-side
    partial maxima — no window sort of the changelog. The op rides
    the aggregate as a SMALL INT (I=0, U=1, D=2) and the terminals
    consume the code directly (op_i = 2 IS the tombstone test — it is
    never decoded back to a string). The int form matters because a
    STRING-valued max_by forces SortAggregate (variable-width buffer
    — Spark then sorts the whole changelog per partition), while
    fixed-width values keep the genuine HashAggregate this docstring
    promises (verified: the string form planned SortAggregate+Sort,
    the int form HashAggregate, matching cdc_latest_wins)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    log = _cdc_log(o).withColumn(
        "op_i",
        F.when(F.col("version") == 0, 0)
        .when(
            (F.col("okey") % 7 == 0) & (F.col("version") == F.col("okey") % 3),
            2,
        )
        .otherwise(1),
    )
    latest = log.groupBy("okey").agg(
        F.max_by("op_i", "version").alias("op_i"),
        F.max_by("price", "version").alias("price"),
    )
    return latest.agg(
        F.sum(F.when(F.col("op_i") != 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_live"),
        F.sum(F.when(F.col("op_i") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_tombstoned"),
        F.sum(
            F.when(F.col("op_i") != 2, F.col("price").cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("live_total"),
    )
