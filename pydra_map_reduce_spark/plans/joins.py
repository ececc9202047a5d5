"""Join operators. SURVEY.md §2.3.

Scale posture, per query family: where broadcasting IS the point
(join_broadcast_dims, the star chains, the bounded SCD-2/threshold
dims), `F.broadcast` hints make it explicit rather than relying on
the threshold. The plain inner/outer/semi/anti entries are
deliberately UNHINTED shuffle-join demonstrators (the bench labels
join_inner "fact⋈dim shuffle join") — they exercise the
SortMergeJoin/ShuffledHashJoin path that fact-fact joins
(orders⋈lineitem) take at 100 TB, where AQE handles skew; under the
default threshold small sides may still auto-broadcast at fixture
scale, which is fine — the queries don't DEPEND on it. No cartesian
products except the explicitly-guarded tiny cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textops import round_half_up, signed_round_half_up
from ..session_cache import SMALL, materialize
from ..sources.tables import load_table
from .registry import query
from .setops import SCD2_MOD, SCD2_PREFIX, scd2_dim


# As-of synthesis constants: the cutoff anchor and the per-order day
# selector appear in BOTH as-of oracles and BOTH engine bodies —
# interpolated from this single pair so an edit can never land
# one-sided (the SCD2_MOD/SCD2_PREFIX convention).
ASOF_ANCHOR = "2024-01-15 00:00:00"
ASOF_DAY_MOD = 14

# Interval-overlap synthesis: (residue, span_mod) per side of the
# interval join, selected from o_orderkey % OVERLAP_SELECT_MOD —
# interpolated into the oracle f-string AND passed to the engine's
# side() builder from the same tuples.
OVERLAP_SELECT_MOD = 50
OVERLAP_A = (0, 4)  # a-side: residue 0, spans 1..4 days
OVERLAP_B = (25, 6)  # b-side: residue 25, spans 1..6 days

# Range-join band table: one literal list generating BOTH the oracle's
# VALUES text and the engine's createDataFrame.
RANGE_BANDS = [
    ("small", 0.0, 50000.0),
    ("medium", 50000.0, 150000.0),
    ("large", 150000.0, 1e18),
]
_RANGE_BANDS_SQL = ",\n               ".join(
    f"('{b}', {lo!r}, {hi!r})" for b, lo, hi in RANGE_BANDS
)


def _register_pid_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: list[str],
    prefix: str,
    bucket: tuple[int, dict[str, str]] | None = None,
) -> list[str]:
    """Register fixture tables in the session catalog under pid-scoped
    names with STABLE per-process external paths, returning the names.
    One copy of the hard-won hygiene rules shared by join_bucketed and
    cbo_stats_plan: pid-hex tokens so concurrent runs on one host
    cannot clobber each other's catalog entries; a stable _tmp root so
    mode('overwrite') actually overwrites (a mkdtemp-per-call form
    leaked full table copies every invocation); DROP TABLE first so a
    stale catalog entry from a dead session never shadows the write.
    ``bucket=(n, {table: key})`` adds bucketBy(n, key).sortBy(key).
    The tables must remain registered while returned plans are alive —
    they read lazily — so cleanup is directory-reuse, not DROP."""
    import os

    from .io import _tmp

    tok = f"{os.getpid():x}"
    base = _tmp(prefix)
    names = []
    for tbl in tables:
        name = f"{prefix}_{tbl}_{tok}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        w = (
            load_table(spark, sf_dir, tbl)
            .write.mode("overwrite")
            .option("path", os.path.join(base, tbl))
        )
        if bucket is not None:
            n, keys = bucket
            w = w.bucketBy(n, keys[tbl]).sortBy(keys[tbl])
        w.saveAsTable(name)
        names.append(name)
    return names


def _money_sum(col: str):
    """Fact-scale money sum: DECIMAL(18,2) internally, surfaced as
    DOUBLE — both engines sum exact cents and cast the IDENTICAL
    value, under any partitioning. The old round(sum(double), 2)
    form is accumulation-order-dependent: at sf0.1 these totals pass
    ~1e9, where partial-sum order can move the raw double across a
    .005 boundary and round() lands on different cents per engine
    (the r7-class failure join_point_in_time was rewritten to avoid).
    SQL twin: _money_sum_sql — edit the pair together."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double")


def _money_sum_sql(col: str) -> str:
    return f"CAST(sum(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"


@query(
    "join_inner",
    oracle=f"""
    SELECT c.c_mktsegment,
           count(*)                        AS n_orders,
           {_money_sum_sql("o.o_totalprice")}   AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    section="2.3 inner equi-join (reduce-side join)",
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money_sum("o_totalprice").alias("revenue"),
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey,
           CAST(count(o.o_orderkey) AS BIGINT)            AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0.0), 2)   AS spend
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
    section="2.3 left outer join",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with zero orders survive with n_orders=0."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("spend"),
        )
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT n.n_name, CAST(count(s.s_suppkey) AS BIGINT) AS n_suppliers
    FROM supplier s RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    section="2.3 right outer join",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


@query(
    "join_full_outer",
    oracle="""
    WITH cu AS (SELECT c_nationkey AS k, count(*) AS n_cust
                FROM customer GROUP BY c_nationkey),
         su AS (SELECT s_nationkey AS k, count(*) AS n_supp
                FROM supplier GROUP BY s_nationkey)
    SELECT coalesce(cu.k, su.k)                    AS nationkey,
           CAST(coalesce(cu.n_cust, 0) AS BIGINT)  AS n_cust,
           CAST(coalesce(su.n_supp, 0) AS BIGINT)  AS n_supp
    FROM cu FULL OUTER JOIN su ON cu.k = su.k
    """,
    section="2.3 full outer join",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-aggregate both sides before the join — at scale this turns a
    row-level full-outer shuffle into a tiny key-level one."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    cu = c.groupBy(F.col("c_nationkey").alias("ck")).agg(F.count(F.lit(1)).alias("n_cust"))
    su = s.groupBy(F.col("s_nationkey").alias("sk")).agg(F.count(F.lit(1)).alias("n_supp"))
    return cu.join(su, cu.ck == su.sk, "full").select(
        F.coalesce("ck", "sk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).cast("bigint").alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).cast("bigint").alias("n_supp"),
    )


@query(
    "join_broadcast_dims",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           count(*) AS n_cust,
           sign(avg(c.c_acctbal))
             * floor(abs(avg(c.c_acctbal)) * 1000000 + 0.5) / 1000000 AS avg_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    section="2.3 broadcast (map-side / replicated) join",
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer→nation→region star chain. Both dims are broadcast: the
    fact table never shuffles for the join — the MR map-side join."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            # 6dp, not 2: an avg over a power-of-2 group count can land
            # EXACTLY on a .xx5 boundary (seen at sf0.001: 33610.52/8 =
            # 4201.315), where Spark's BigDecimal.valueOf sees "…315"→
            # HALF_UP .32 but DuckDB rounds the raw binary double →
            # .31. At 6dp the value passes through unchanged.
            # signed form: c_acctbal goes negative (fixture min
            # -994.28), and a group whose AVERAGE dips below zero
            # would violate round_half_up's non-negative contract —
            # half-away-from-zero is symmetric and oracle-mirrored
            signed_round_half_up(F.avg("c_acctbal"), 6).alias("avg_bal"),
        )
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
    section="2.3 left semi join",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
    section="2.3 left anti join",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no urgent order (203 rows at sf0.01 — non-empty
    so the check exercises real row flow)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
    section="2.3 cross / nested-loop join (guarded: dims only)",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian — only ever legal on bounded dimension tables
    (5 × 25 here). Fact-table cross joins are a design error at scale."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    n = load_table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@query(
    "join_range",
    oracle=f"""
    WITH bands(band, lo, hi) AS (
        VALUES {_RANGE_BANDS_SQL}
    )
    SELECT b.band, count(*) AS n_orders, {_money_sum_sql("o.o_totalprice")} AS total
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
    section="2.3 theta / range join (non-equi predicate)",
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi join against a tiny bands table → BroadcastNestedLoop,
    which is the right physical plan when one side is O(10) rows."""
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        RANGE_BANDS, "band string, lo double, hi double"
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money_sum("o_totalprice").alias("total"),
        )
    )


@query(
    "join_asof",
    oracle=f"""
    WITH ranked AS (
        SELECT o.o_orderkey, e.ts, e.event_type,
               row_number() OVER (PARTITION BY o.o_orderkey
                                  ORDER BY e.ts DESC, e.event_id DESC) AS rn
        FROM orders o
        JOIN events e ON e.user_id = o.o_custkey
                     AND e.ts <= TIMESTAMP '{ASOF_ANCHOR}' + INTERVAL (o.o_orderkey % {ASOF_DAY_MOD}) DAY
    )
    SELECT o_orderkey, ts AS last_event_ts, event_type AS last_event_type
    FROM ranked WHERE rn = 1
    """,
    section="2.3 as-of join (latest event ≤ t per key)",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of: for each order (with a synthetic per-order cutoff), the
    latest event of its customer at-or-before the cutoff. Equi-join on
    the key bounds the shuffle; the time predicate filters in-join;
    then `max_by` over the (ts, event_id) struct picks the as-of row
    with a PARTIAL+FINAL aggregate. Honest plan note: the
    struct-valued ordering key compiles to SortAggregate, not
    HashAggregate (Spark's hash agg needs fixed-width buffers), so
    each task DOES sort its local qualifying pairs before combining —
    but the partial phase still emits ONE row per order per task, so
    the shuffle carries order-count rows, not pair-count. That
    map-side shrink is the real win over the row_number()-window
    form, which shuffles and sorts EVERY qualifying (order, event)
    pair globally; the local sort is the price of the lexicographic
    (ts, event_id) tie break matching the window form exactly. At
    scale: partition both sides by the key."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "cutoff",
        F.lit(ASOF_ANCHOR).cast("timestamp")
        + F.make_interval(days=(F.col("o_orderkey") % ASOF_DAY_MOD).cast("int")),
    )
    e = load_table(spark, sf_dir, "events")
    last = F.max_by(
        F.struct(F.col("ts"), F.col("event_type")),
        F.struct(F.col("ts"), F.col("event_id")),
    ).alias("m")
    return (
        o.join(e, (e.user_id == o.o_custkey) & (e.ts <= o.cutoff))
        .groupBy("o_orderkey")
        .agg(last)
        .select(
            "o_orderkey",
            F.col("m.ts").alias("last_event_ts"),
            F.col("m.event_type").alias("last_event_type"),
        )
    )


@query(
    "join_salted_skew",
    oracle=f"""
    SELECT c.c_mktsegment, count(*) AS n, {_money_sum_sql("o.o_totalprice")} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    section="2.3 skew-mitigated (salted) join — same result as plain join",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual key salting: the fact side gets a deterministic salt in
    [0,8), the dim side is exploded across all salts, and the join key
    becomes (key, salt) — one hot key spreads over 8 reducers. AQE's
    skew-join split usually makes this unnecessary; the operator is
    here for the cases AQE can't see (e.g. skew created mid-stage).
    The oracle is the PLAIN join — salting must not change results."""
    n_salt = 8
    o = load_table(spark, sf_dir, "orders").withColumn(
        "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(n_salt))
    )
    c = load_table(spark, sf_dir, "customer").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return (
        o.join(c.hint("shuffle_hash"), (o.o_custkey == c.c_custkey) & (o.salt == c.salt))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _money_sum("o_totalprice").alias("revenue"),
        )
    )


@query(
    "join_bucketed",
    # The POINT of this query is the plan (no exchange — asserted in
    # tests/test_plans.py); the result is a plain deterministic join
    # agg, so it gets the plain-join oracle too (bucketing must never
    # change answers, same contract as the salted join).
    oracle=f"""
    SELECT c.c_mktsegment, count(*) AS n, {_money_sum_sql("o.o_totalprice")} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    section="2.3 bucketed co-located join (shuffle-free fact join)",
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write both sides bucketed by the join key, then join the bucketed
    tables: Spark aligns buckets and the join runs with NO exchange —
    the pattern that turns a recurring 100 TB fact-fact join from a
    full shuffle into a local merge. (Bucketed tables need the table
    catalog, hence saveAsTable with explicit paths under the
    per-process io temp root — fixed /tmp paths + global table names
    would let concurrent runs on one host clobber each other's
    data/catalog. The root is STABLE within the process: an earlier
    mkdtemp-per-call form allocated a fresh directory every
    invocation, so mode('overwrite') never actually overwrote and
    each bench/suite call leaked two full bucketed table copies;
    with the stable path repeated calls rewrite in place and the
    catalog entries stay one-per-process. The tables must remain
    registered while the returned plan is alive — it reads them
    lazily — so cleanup is directory-reuse, not DROP.)"""
    names = _register_pid_tables(
        spark, sf_dir, ["orders", "customer"], "bkt",
        bucket=(8, {"orders": "o_custkey", "customer": "c_custkey"}),
    )
    o = spark.table(names[0])
    c = spark.table(names[1])
    # force SortMergeJoin (the small side would otherwise broadcast at
    # test scale) — at 100 TB both sides are fact-sized and SMJ over
    # aligned buckets IS the plan; this keeps the test honest.
    return (
        o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _money_sum("o_totalprice").alias("revenue"),
        )
    )


@query(
    "join_bloom_pruned",
    oracle=f"""
    SELECT count(*)                        AS n_items,
           {_money_sum_sql("l.l_extendedprice")} AS price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    """,
    section="2.3 runtime bloom-filter pruned join (row-level runtime filtering)",
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime row-level filtering: the optimizer builds a Bloom filter
    from the SELECTIVE side (URGENT orders) and injects a
    `might_contain` probe into the FACT side's scan, discarding
    non-joining lineitem rows before the shuffle — at 100 TB this is
    the difference between shuffling the whole fact table and shuffling
    ~the matching fifth of it. The filter never changes results (false
    positives only pass extra rows to the real join), so the oracle is
    the plain join.

    PUBLIC SIDE EFFECT (same contract as load_table's pins): Spark
    gates injection on `applicationSideScanSizeThreshold` (default
    10GB — correct in production, never met at fixture scale), so this
    query pins it to 0 for the session. Blooms may then inject into
    other shuffle joins in the same session — plan-only, results
    unchanged. One gate is deliberately NOT pinned here: injection
    also requires a creation side too large to broadcast, which at
    fixture scale would mean disabling auto-broadcast session-wide —
    too invasive for a shared session. At 100 TB that gate passes
    naturally; tests/test_plans.py::test_bloom_filter_injection
    demonstrates the actual `might_contain` + BloomFilterAggregate
    rewrite on this exact join under a scoped (saved-and-restored)
    broadcast disable.
    """
    from ..sources.tables import _pin_conf

    _pin_conf(spark, "spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    _pin_conf(
        spark,
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf_dir, "lineitem")
    # shuffle_hash hint: the filtered dim would otherwise broadcast at
    # fixture scale and broadcast joins skip bloom injection (they
    # already prune on the build side)
    return li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey).agg(
        F.count(F.lit(1)).alias("n_items"),
        _money_sum("l_extendedprice").alias("price"),
    )


@query(
    "join_cbo_stats",
    oracle=f"""
    SELECT c.c_mktsegment,
           count(*)                      AS n,
           {_money_sum_sql("o.o_totalprice")} AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE n.n_name IN ('NATION_3', 'NATION_7')
    GROUP BY c.c_mktsegment
    """,
    section="2.3/4 cost-based optimized join (ANALYZE stats + CBO estimates)",
)
def join_cbo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based optimization demonstrator: the three join inputs are
    registered as catalog tables, `ANALYZE ... COMPUTE STATISTICS FOR
    ALL COLUMNS` collects row counts + per-column NDV/min/max
    histogram stats, and with `spark.sql.cbo.enabled` the optimizer
    derives real cardinality estimates through the join tree (filter
    selectivity from the n_name predicate, join fanout from NDVs)
    instead of raw file sizes — the machinery that picks build sides
    and join order on a 100 TB warehouse where guessing wrong means
    shuffling the big side twice. Stats-driven estimation is asserted
    in tests/test_plans.py (rowCount present in the optimized plan's
    statistics).

    PUBLIC SIDE EFFECT (load_table-pin contract): enables
    `spark.sql.cbo.enabled` + `spark.sql.cbo.joinReorder.enabled` for
    the session. CBO only consults catalog tables carrying ANALYZE
    stats — the parquet-path reads every other query uses have none —
    so the pins are inert outside this query's own tables. Results
    are plan-independent; the oracle is the plain three-way join.

    Catalog/disk hygiene: the backing files live under io.py's
    deterministic per-process temp root (overwritten, never
    accumulated), and because the grouped result is mktsegment-sized
    (a handful of rows) it is materialized eagerly so the cbo_*
    catalog tables can be dropped before returning — repeated
    invocations leave zero catalog or disk residue. (The lazy,
    stats-carrying plan is exposed as `cbo_stats_plan` for plan-level
    assertions.)"""
    result, names = cbo_stats_plan(spark, sf_dir)
    out = spark.createDataFrame(result.collect(), schema=result.schema)
    for name in names:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    return out


def cbo_stats_plan(spark: SparkSession, sf_dir: str):
    """Set up the ANALYZEd cbo_* catalog tables and return the LAZY
    three-way-join DataFrame (whose optimized plan carries CBO
    rowCount estimates) plus the table names for caller cleanup."""
    from ..sources.tables import _pin_conf

    names = _register_pid_tables(
        spark, sf_dir, ["orders", "customer", "nation"], "cbo"
    )
    for name in names:
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR ALL COLUMNS")
    _pin_conf(spark, "spark.sql.cbo.enabled", "true")
    _pin_conf(spark, "spark.sql.cbo.joinReorder.enabled", "true")
    o = spark.table(names[0])
    c = spark.table(names[1])
    n = spark.table(names[2]).filter(F.col("n_name").isin("NATION_3", "NATION_7"))
    result = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, F.col("c_nationkey") == n.n_nationkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _money_sum("o_totalprice").alias("revenue"),
        )
    )
    return result, names


@query(
    "join_asof_forward",
    oracle=f"""
    WITH ranked AS (
        SELECT o.o_orderkey, e.ts, e.event_type,
               row_number() OVER (PARTITION BY o.o_orderkey
                                  ORDER BY e.ts ASC, e.event_id ASC) AS rn
        FROM orders o
        JOIN events e ON e.user_id = o.o_custkey
                     AND e.ts >= TIMESTAMP '{ASOF_ANCHOR}' + INTERVAL (o.o_orderkey % {ASOF_DAY_MOD}) DAY
    )
    SELECT o_orderkey, ts AS next_event_ts, event_type AS next_event_type
    FROM ranked WHERE rn = 1
    """,
    section="2.3 as-of join, forward (earliest event ≥ t per key)",
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: for each order's cutoff, the EARLIEST event of
    its customer at-or-after it — the look-ahead twin of `join_asof`
    (backward). Same plan shape — including the same honest plan note
    as `join_asof`: the struct-ordered min_by compiles to
    SortAggregate (per-task local sort of qualifying pairs), but the
    partial phase still emits one row per order per task, so the
    shuffle carries order-count rows, never the pair blow-up of the
    window form."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "cutoff",
        F.lit(ASOF_ANCHOR).cast("timestamp")
        + F.make_interval(days=(F.col("o_orderkey") % ASOF_DAY_MOD).cast("int")),
    )
    e = load_table(spark, sf_dir, "events")
    first = F.min_by(
        F.struct(F.col("ts"), F.col("event_type")),
        F.struct(F.col("ts"), F.col("event_id")),
    ).alias("m")
    return (
        o.join(e, (e.user_id == o.o_custkey) & (e.ts >= o.cutoff))
        .groupBy("o_orderkey")
        .agg(first)
        .select(
            "o_orderkey",
            F.col("m.ts").alias("next_event_ts"),
            F.col("m.event_type").alias("next_event_type"),
        )
    )


@query(
    "join_point_in_time",
    # the %MOD selector and segment prefix interpolate from setops'
    # single SCD-2 synthesis definition — no one-sided drift possible
    oracle=f"""
    WITH upd AS (
        SELECT c_custkey, '{SCD2_PREFIX}' || c_mktsegment AS segment,
               TIMESTAMP '1998-07-01 00:00:00' AS eff
        FROM customer WHERE c_custkey % {SCD2_MOD} = 0
    ), dim AS (
        SELECT c.c_custkey, c.c_mktsegment AS segment,
               TIMESTAMP '1995-01-01 00:00:00' AS valid_from, u.eff AS valid_to
        FROM customer c JOIN upd u ON c.c_custkey = u.c_custkey
        UNION ALL
        SELECT c.c_custkey, c.c_mktsegment, TIMESTAMP '1995-01-01 00:00:00', NULL
        FROM customer c LEFT JOIN upd u ON c.c_custkey = u.c_custkey
        WHERE u.c_custkey IS NULL
        UNION ALL
        SELECT c_custkey, segment, eff, NULL FROM upd
    )
    SELECT d.segment, count(*) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN dim d ON o.o_custkey = d.c_custkey
             AND o.o_orderdate >= d.valid_from
             AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
    GROUP BY d.segment
    """,
    section="2.3 point-in-time join (fact vs SCD-2 validity intervals)",
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension lookup: each order joins the dimension row
    that was valid AT ITS ORDER DATE — the point-in-time join every
    warehouse runs against SCD-2 history (and the leakage-free way to
    attach features to training examples: no row may see attributes
    from its future). The versioned dimension is synthesized exactly
    like merge_scd2 (every 7th customer changes segment, effective
    1998-07-01 — mid orders-date-range so both versions receive
    orders).

    Plan shape: the join is EQUI on c_custkey with the interval
    predicate as a residual filter, so Catalyst plans a hash join
    keyed on the customer — never an interval nested-loop; at scale
    the dim side (2 rows max per key) broadcasts or buckets with the
    fact. The dimension builds through the SHARED setops.scd2_dim
    (one synthesis definition, checkpointed single join). Revenue
    sums as DECIMAL so both engines agree at the cent (double-sum
    accumulation order diverges on ~1e9 totals)."""
    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dim = scd2_dim(
        base,
        start=F.lit("1995-01-01 00:00:00").cast("timestamp"),
        eff=F.lit("1998-07-01 00:00:00").cast("timestamp"),
        ts_type="timestamp",
        with_current=False,
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    return (
        o.join(
            dim,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderdate") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("o_orderdate") < F.col("valid_to"))),
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )


@query(
    "join_interval_overlap",
    oracle=f"""
    WITH a AS (
        SELECT o_orderkey AS a_key, o_orderdate AS a_start,
               o_orderdate + INTERVAL (o_orderkey % {OVERLAP_A[1]} + 1) DAY AS a_end
        FROM orders WHERE o_orderkey % {OVERLAP_SELECT_MOD} = {OVERLAP_A[0]}
    ), b AS (
        SELECT o_orderkey AS b_key, o_orderdate AS b_start,
               o_orderdate + INTERVAL (o_orderkey % {OVERLAP_B[1]} + 1) DAY AS b_end
        FROM orders WHERE o_orderkey % {OVERLAP_SELECT_MOD} = {OVERLAP_B[0]}
    )
    SELECT a.a_key, b.b_key,
           CAST(date_diff('day',
                          greatest(a.a_start, b.b_start),
                          least(a.a_end, b.b_end)) + 1 AS BIGINT) AS overlap_days
    FROM a JOIN b
      ON a.a_start <= b.b_end AND b.b_start <= a.a_end
    """,
    section="2.3 interval overlap join (day-bucketed equi-join, no theta self-join)",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join — the temporal/genomic shape
    (which promo windows overlapped which campaign windows) that a
    naive plan writes as a THETA join (a.start <= b.end AND b.start
    <= a.end → nested loop, n·m at scale). Here both sides explode
    into their covered DAY buckets (bounded: intervals are ≤ 7 days
    by construction, so fan-out ≤ 7×) and the join is EQUI on the
    bucket day; bucket-duplicate pairs collapse with distinct, and
    the exact overlap length recomputes from the interval endpoints.
    Work is Σ interval-days keyed on the calendar day — the standard
    binning technique for interval joins at warehouse scale (pick the
    bucket grain ≈ median interval length; outsize intervals split
    across buckets like any other row). Both interval sets synthesize
    deterministically from orders so the oracle mirrors them with the
    plain theta join — same pairs, opposite plan."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")

    def side(mod_rem: int, span_mod: int, prefix: str) -> DataFrame:
        return o.filter(F.col("o_orderkey") % OVERLAP_SELECT_MOD == mod_rem).select(
            F.col("o_orderkey").alias(f"{prefix}_key"),
            F.col("o_orderdate").alias(f"{prefix}_start"),
            (
                F.col("o_orderdate")
                + F.make_interval(days=(F.col("o_orderkey") % span_mod + 1).cast("int"))
            ).alias(f"{prefix}_end"),
        )

    a, b = side(*OVERLAP_A, "a"), side(*OVERLAP_B, "b")
    a_days = a.withColumn(
        "day",
        F.explode(F.sequence(F.to_date(F.col("a_start")), F.to_date(F.col("a_end")))),
    )
    b_days = b.withColumn(
        "day",
        F.explode(F.sequence(F.to_date(F.col("b_start")), F.to_date(F.col("b_end")))),
    )
    pairs = (
        a_days.join(b_days, "day")
        .filter(
            (F.col("a_start") <= F.col("b_end")) & (F.col("b_start") <= F.col("a_end"))
        )
        .select("a_key", "b_key", "a_start", "a_end", "b_start", "b_end")
        .distinct()
    )
    overlap = (
        F.datediff(
            F.least(F.col("a_end"), F.col("b_end")).cast("date"),
            F.greatest(F.col("a_start"), F.col("b_start")).cast("date"),
        )
        + 1
    )
    return pairs.select(
        "a_key", "b_key", overlap.cast("bigint").alias("overlap_days")
    )


@query(
    "fuzzy_blocked_join",
    oracle="""
    SELECT a.p_partkey AS p_a, b.p_partkey AS p_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
    section="2.3/2.11 entity resolution: blocked fuzzy self-join (edit distance)",
)
def fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate pairs: parts in the same
    (brand, size) BLOCK whose names are within edit distance 4.
    Blocking is the classical scale move — the self-join is an
    equi-join on the block key, so candidate count is Σ|block|²
    over small blocks, never corpus²; levenshtein runs codegen
    JVM-side only on co-blocked pairs. The same shape (block on
    cheap exact keys, score expensive similarity inside blocks)
    is how fuzzy dedup of entity tables survives 100 TB."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand", "p_size")
    a = p.alias("a")
    b = p.alias("b")
    # NOTE: `dist` appears in both the Filter and the Project; Catalyst
    # does not share expressions across operators, so levenshtein runs
    # twice for each SURVIVING pair (and a withColumn formulation ends
    # up identical — predicate pushdown re-substitutes the alias when
    # pushing the filter through the Project). Acceptable here because
    # the thresholded output is tiny relative to the blocked candidate
    # set, where the single-evaluation filter does the real work.
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(dist <= 4)
        .select(
            F.col("a.p_partkey").alias("p_a"),
            F.col("b.p_partkey").alias("p_b"),
            dist.cast("bigint").alias("dist"),
        )
    )


@query(
    "join_null_safe",
    oracle="""
    WITH c AS (SELECT nullif(c_nationkey, 13) AS c_key, c_custkey FROM customer),
    n AS (SELECT nullif(n_nationkey, 13) AS n_key, n_name FROM nation)
    SELECT n.n_name, count(c.c_custkey) AS n_customers
    FROM c JOIN n ON c.c_key IS NOT DISTINCT FROM n.n_key
    GROUP BY n.n_name
    """,
    section="2.3 null-safe equi-join (<=> / IS NOT DISTINCT FROM)",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe join semantics: nationkey 13 is NULLed on BOTH sides
    and the join uses `<=>`, so the NULL keys still pair up (a plain
    `=` would silently drop them — the classic dim-with-unknown-bucket
    trap). Spark keeps `<=>` as a hash-join key (EqualNullSafe is
    sargable), so this is still a broadcast hash join, not a filter
    after a cross product."""
    c = load_table(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_nationkey"), F.lit(13)).alias("c_key"), "c_custkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.nullif(F.col("n_nationkey"), F.lit(13)).alias("n_key"), "n_name"
    )
    return (
        c.join(F.broadcast(n), c.c_key.eqNullSafe(n.n_key))
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


@query(
    "join_hint_shuffle_hash",
    oracle=f"""
    SELECT c.c_nationkey,
           count(*)                      AS n_orders,
           {_money_sum_sql("o.o_totalprice")} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
    section="2.3 join strategy hint (SHUFFLE_HASH: build-side hash, no sort)",
)
def join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-strategy knob a 100 TB user reaches for when a dim is
    too big to broadcast but small enough to hash per partition:
    hint("SHUFFLE_HASH") forces a ShuffledHashJoin — both sides
    exchange on the key as usual, but the hinted side builds an
    in-memory hash table per partition instead of BOTH sides paying
    the SortMergeJoin's sorts. Correct when the per-partition build
    side fits in executor memory (here customer ÷ 32 partitions);
    wrong for skewed or huge build sides, which is why it is a HINT
    and not a default. The plan test pins that the hint actually
    engages — hints are requests, and a silently-ignored one is a
    perf bug that no correctness test would ever catch."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").hint("SHUFFLE_HASH")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money_sum("o_totalprice").alias("revenue"),
        )
    )


@query(
    "join_asof_nearest",
    oracle=f"""
    WITH ranked AS (
        SELECT o.o_orderkey, e.ts, e.event_type,
               abs(epoch_us(e.ts)
                   - epoch_us(TIMESTAMP '{ASOF_ANCHOR}'
                              + INTERVAL (o.o_orderkey % {ASOF_DAY_MOD}) DAY))
                   AS dist_us,
               row_number() OVER (
                   PARTITION BY o.o_orderkey
                   ORDER BY abs(epoch_us(e.ts)
                                - epoch_us(TIMESTAMP '{ASOF_ANCHOR}'
                                           + INTERVAL (o.o_orderkey % {ASOF_DAY_MOD}) DAY)),
                            e.ts, e.event_id) AS rn
        FROM orders o
        JOIN events e ON e.user_id = o.o_custkey
    )
    SELECT o_orderkey, ts AS nearest_ts, event_type AS nearest_type,
           CAST(dist_us AS BIGINT) AS dist_us
    FROM ranked WHERE rn = 1
    """,
    section="2.3 as-of join, NEAREST direction (min |ts − t| per key)",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third as-of direction (pandas/polars merge_asof
    'nearest'), completing backward (`join_asof`), forward
    (`join_asof_forward`), and point-in-time: for each order's
    synthetic cutoff, its customer's event with the SMALLEST absolute
    time distance, either side of the cutoff — the sensor-alignment /
    feature-join mode where the closest reading wins regardless of
    direction. Tie rule (equidistant before/after): earlier ts, then
    smaller event_id — spelled identically in both engines.

    Distance is exact integer microseconds (unix_micros/epoch_us —
    no float time math to diverge on). Same scale shape as
    join_asof: the equi-join on the customer key bounds the shuffle,
    and min_by with a (dist, ts, event_id) struct key collapses each
    order's candidates map-side (one row per order per task crosses
    the exchange — the SortAggregate note on join_asof applies)."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "cutoff",
        F.lit(ASOF_ANCHOR).cast("timestamp")
        + F.make_interval(days=(F.col("o_orderkey") % ASOF_DAY_MOD).cast("int")),
    )
    e = load_table(spark, sf_dir, "events")
    dist = F.abs(F.unix_micros(e.ts) - F.unix_micros(o.cutoff))
    nearest = F.min_by(
        F.struct(F.col("ts"), F.col("event_type"), dist.alias("d")),
        F.struct(dist.alias("d"), F.col("ts"), F.col("event_id")),
    ).alias("m")
    return (
        o.join(e, e.user_id == o.o_custkey)
        .groupBy("o_orderkey")
        .agg(nearest)
        .select(
            "o_orderkey",
            F.col("m.ts").alias("nearest_ts"),
            F.col("m.event_type").alias("nearest_type"),
            F.col("m.d").cast("bigint").alias("dist_us"),
        )
    )


_ASOF_TOL_DAYS = 2


@query(
    "join_asof_tolerance",
    oracle=f"""
    WITH ranked AS (
        SELECT o.o_orderkey, e.ts, e.event_type,
               row_number() OVER (PARTITION BY o.o_orderkey
                                  ORDER BY e.ts DESC, e.event_id DESC) AS rn
        FROM orders o
        JOIN events e ON e.user_id = o.o_custkey
                     AND e.ts <= TIMESTAMP '{ASOF_ANCHOR}' + INTERVAL (o.o_orderkey % {ASOF_DAY_MOD}) DAY
                     AND e.ts >  TIMESTAMP '{ASOF_ANCHOR}' + INTERVAL (o.o_orderkey % {ASOF_DAY_MOD}) DAY
                                 - INTERVAL {_ASOF_TOL_DAYS} DAY
    )
    SELECT o.o_orderkey, r.ts AS last_event_ts, r.event_type AS last_event_type
    FROM orders o
    LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
           ON r.o_orderkey = o.o_orderkey
    """,
    section="2.3 as-of join with TOLERANCE (latest event in (t - tol, t], else NULL)",
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tolerance-bounded as-of (pandas merge_asof's `tolerance`
    parameter, the semantics production feature stores serve): per
    order, the latest customer event within the 2-day window
    (cutoff − tol, cutoff]; an order whose customer was idle across
    the whole window keeps a NULL match instead of reaching
    arbitrarily far back — the staleness bound that makes an as-of
    feature SAFE to train on (an unbounded as-of silently joins
    week-old state). Same scale shape as `join_asof` — equi-join on
    the key with the interval predicate filtering IN-join, max_by
    struct argmax so the shuffle carries one row per matched order —
    plus a left join back to orders so unmatched orders survive with
    NULLs (the matched frame is order-keyed and order-bounded, never
    pair-bounded). The window is half-open (t − tol, t]: the oracle's
    `>` mirrors the engine's `>` exactly, so a boundary event at
    exactly t − tol is excluded by BOTH engines by construction."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "cutoff",
        F.lit(ASOF_ANCHOR).cast("timestamp")
        + F.make_interval(days=(F.col("o_orderkey") % ASOF_DAY_MOD).cast("int")),
    )
    e = load_table(spark, sf_dir, "events")
    last = F.max_by(
        F.struct(F.col("ts"), F.col("event_type")),
        F.struct(F.col("ts"), F.col("event_id")),
    ).alias("m")
    lo = o.cutoff - F.make_interval(days=F.lit(_ASOF_TOL_DAYS))
    matched = (
        o.join(
            e,
            (e.user_id == o.o_custkey) & (e.ts <= o.cutoff) & (e.ts > lo),
        )
        .groupBy("o_orderkey")
        .agg(last)
    )
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .join(matched, "o_orderkey", "left")
        .select(
            "o_orderkey",
            F.col("m.ts").alias("last_event_ts"),
            F.col("m.event_type").alias("last_event_type"),
        )
    )


_BQ_SAMPLE_KEYS = 300  # ground-truth sample bound (all-pairs truth domain)


@query(
    "blocking_quality",
    oracle=f"""
    WITH s AS (
        SELECT p_partkey, p_name, p_brand, p_size FROM part
        WHERE p_partkey < {_BQ_SAMPLE_KEYS}
    ), truth AS (
        SELECT a.p_partkey AS p_a, b.p_partkey AS p_b,
               a.p_brand = b.p_brand AND a.p_size = b.p_size AS blocked
        FROM s a JOIN s b ON a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 4
    ), cand AS (
        SELECT count(*) AS n_candidates
        FROM s a JOIN s b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
    ), ns AS (SELECT CAST(count(*) AS BIGINT) AS n_entities FROM s)
    SELECT ns.n_entities,
           CAST(ns.n_entities * (ns.n_entities - 1) / 2 AS BIGINT)
               AS n_allpairs,
           CAST(c.n_candidates AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT sum(CASE WHEN blocked THEN 1 ELSE 0 END)
                 FROM truth) AS BIGINT) AS n_found,
           floor((1.0 - c.n_candidates * 2.0
                        / (ns.n_entities * (ns.n_entities - 1)))
                 * 1000000 + 0.5) / 1000000 AS reduction_ratio,
           floor((SELECT sum(CASE WHEN blocked THEN 1 ELSE 0 END)
                  FROM truth) * 1.0
                 / (SELECT count(*) FROM truth) * 1000000 + 0.5) / 1000000
               AS pair_completeness
    FROM ns CROSS JOIN cand c
    """,
    section="2.11 blocking-quality evaluation (reduction ratio / pair completeness)",
)
def blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two numbers that grade an entity-resolution BLOCKING scheme
    (Christen 2012, public): reduction ratio (how much of the n²/2
    comparison space the (brand, size) blocks prune) and pair
    completeness (what fraction of the TRUE matches — edit distance
    ≤ 4, `fuzzy_blocked_join`'s rule — the blocks retain). The exact
    all-pairs ground truth is priced over a BOUNDED key sample
    (p_partkey < 300 — the lsh_recall/sample-the-corpus posture: at
    100 TB you grade blocking on a sample, never the corpus², and the
    sample's self-pairing broadcasts a ≤300-row frame, bounded by
    construction); the production blocking itself needs no sample —
    this query's whole point is measuring the trade the blocked join
    made. All counts exact integers; the two ratios divide exact
    BIGINTs once, 6dp-pinned."""
    s = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < _BQ_SAMPLE_KEYS)
        .select("p_partkey", "p_name", "p_brand", "p_size")
    )
    a, b = s.alias("a"), s.alias("b")
    lt = F.col("a.p_partkey") < F.col("b.p_partkey")
    same_block = (F.col("a.p_brand") == F.col("b.p_brand")) & (
        F.col("a.p_size") == F.col("b.p_size")
    )
    truth = (
        a.join(b, lt)
        .filter(F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 4)
        .select(same_block.alias("blocked"))
    )
    tstats = materialize(truth.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.sum(F.col("blocked").cast("int")).cast("bigint").alias("n_found"),
    ), SMALL)
    # Fail loud on an empty truth set (the bpe exhaustion-guard
    # pattern, r12 advice): with zero sampled true matches both engines
    # would agree on a NULL pair_completeness and the differential
    # would green a degenerate report. The checkpoint prices the truth
    # self-join once; the guard read is a 1-row fetch from it.
    if tstats.first()["n_truth"] == 0:
        raise ValueError(
            f"blocking_quality: no true-match pairs in the p_partkey < "
            f"{_BQ_SAMPLE_KEYS} sample — widen the key sample"
        )
    cand = a.join(b, same_block & lt).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    ns = s.agg(F.count(F.lit(1)).cast("bigint").alias("n_entities"))
    allpairs = (F.col("n_entities") * (F.col("n_entities") - 1) / 2).cast(
        "bigint"
    )
    return (
        ns.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(tstats))
        .select(
            "n_entities",
            allpairs.alias("n_allpairs"),
            "n_candidates",
            "n_truth",
            "n_found",
            (
                F.floor(
                    (
                        1.0
                        - F.col("n_candidates")
                        * 2.0
                        / (F.col("n_entities") * (F.col("n_entities") - 1))
                    )
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("reduction_ratio"),
            (
                F.floor(
                    F.col("n_found") * 1.0 / F.col("n_truth") * 1e6 + 0.5
                )
                / 1e6
            ).alias("pair_completeness"),
        )
    )


@query(
    "fellegi_sunter_scores",
    oracle=f"""
    WITH s AS (
        SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part
        WHERE p_partkey < {_BQ_SAMPLE_KEYS}
    ), pr AS (
        SELECT CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                    THEN 1 ELSE 0 END AS m,
               CASE WHEN a.p_brand = b.p_brand THEN 1 ELSE 0 END AS ab,
               CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS at,
               CASE WHEN a.p_size = b.p_size THEN 1 ELSE 0 END AS asz
        FROM s a JOIN s b ON a.p_partkey < b.p_partkey
    ), c AS (
        SELECT sum(m) AS nm, count(*) - sum(m) AS nu,
               sum(ab * m) AS ab_m, sum(ab * (1 - m)) AS ab_u,
               sum(at * m) AS at_m, sum(at * (1 - m)) AS at_u,
               sum(asz * m) AS asz_m, sum(asz * (1 - m)) AS asz_u
        FROM pr
    ), fields AS (
        SELECT 'brand' AS field, ab_m AS a_m, ab_u AS a_u, nm, nu FROM c
        UNION ALL SELECT 'type', at_m, at_u, nm, nu FROM c
        UNION ALL SELECT 'size', asz_m, asz_u, nm, nu FROM c
    ), probs AS (
        SELECT field,
               (a_m + 0.5) / (nm + 1.0) AS m_prob,
               (a_u + 0.5) / (nu + 1.0) AS u_prob
        FROM fields
    )
    SELECT field,
           floor(m_prob * 1000000 + 0.5) / 1000000 AS m_prob,
           floor(u_prob * 1000000 + 0.5) / 1000000 AS u_prob,
           sign(ln(m_prob / u_prob))
             * floor(abs(ln(m_prob / u_prob)) * 10000 + 0.5) / 10000 + 0.0
               AS w_agree,
           sign(ln((1 - m_prob) / (1 - u_prob)))
             * floor(abs(ln((1 - m_prob) / (1 - u_prob))) * 10000 + 0.5)
               / 10000 + 0.0 AS w_disagree
    FROM probs
    """,
    section="2.11 Fellegi-Sunter record-linkage weights (m/u estimation over a labeled sample)",
)
def fellegi_sunter_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate the Fellegi-Sunter (1969, public) match/unmatch
    agreement weights that turn field comparisons into a record-
    linkage score — the probabilistic layer on top of the blocking
    (`blocking_quality`) and fuzzy-join (`fuzzy_blocked_join`)
    machinery: per field, m = P(agree | match) and u = P(agree |
    non-match), with the log-likelihood-ratio weights ln(m/u)
    (agreement) and ln((1-m)/(1-u)) (disagreement) a linker sums per
    candidate pair. Ground-truth match = the family's edit-distance
    rule (levenshtein <= 4) over the SAME bounded key sample the
    blocking evaluation prices (all-pairs truth on a sample, never
    corpus^2); probabilities carry +0.5/+1 Laplace smoothing so a
    never-agreeing field yields finite weights instead of ln(0)
    (standard practice, and engine-exact: halves are exact doubles).
    All counts integer-exact; ratios and ln are identical doubles;
    outputs pinned (6dp probs, 4dp signed weights)."""
    s = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < _BQ_SAMPLE_KEYS)
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
    )
    a, b = s.alias("a"), s.alias("b")
    pr = a.join(b, F.col("a.p_partkey") < F.col("b.p_partkey")).select(
        F.when(
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 4, 1
        ).otherwise(0).alias("m"),
        F.when(F.col("a.p_brand") == F.col("b.p_brand"), 1)
        .otherwise(0)
        .alias("ab"),
        F.when(F.col("a.p_type") == F.col("b.p_type"), 1)
        .otherwise(0)
        .alias("at"),
        F.when(F.col("a.p_size") == F.col("b.p_size"), 1)
        .otherwise(0)
        .alias("asz"),
    )
    c = pr.agg(
        F.sum("m").alias("nm"),
        (F.count(F.lit(1)) - F.sum("m")).alias("nu"),
        F.sum(F.col("ab") * F.col("m")).alias("ab_m"),
        F.sum(F.col("ab") * (1 - F.col("m"))).alias("ab_u"),
        F.sum(F.col("at") * F.col("m")).alias("at_m"),
        F.sum(F.col("at") * (1 - F.col("m"))).alias("at_u"),
        F.sum(F.col("asz") * F.col("m")).alias("asz_m"),
        F.sum(F.col("asz") * (1 - F.col("m"))).alias("asz_u"),
    )
    fields = c.select(
        F.expr(
            "stack(3, 'brand', ab_m, ab_u, 'type', at_m, at_u, "
            "'size', asz_m, asz_u)"
        ).alias("field", "a_m", "a_u"),
        "nm",
        "nu",
    )
    m_prob = (F.col("a_m") + 0.5) / (F.col("nm") + 1.0)
    u_prob = (F.col("a_u") + 0.5) / (F.col("nu") + 1.0)
    from ..operators.textops import signed_round_half_up

    return fields.select(
        "field",
        round_half_up(m_prob, 6).alias("m_prob"),
        round_half_up(u_prob, 6).alias("u_prob"),
        (signed_round_half_up(F.log(m_prob / u_prob), 4) + F.lit(0.0)).alias(
            "w_agree"
        ),
        (
            signed_round_half_up(F.log((1 - m_prob) / (1 - u_prob)), 4)
            + F.lit(0.0)
        ).alias("w_disagree"),
    )
